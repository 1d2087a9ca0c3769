package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational operator coverage (SURVEY §2B E1, E3–E28).
  *
  * Everything here is declarative DataFrame code — Catalyst supplies
  * pushdown, pruning, join selection and whole-stage codegen (SURVEY §4.2).
  * Scale notes are per-query; the shared posture: filters before joins,
  * broadcast for dimension tables, aggregation keyed on the shuffle key,
  * and no driver-side materialization anywhere.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---- E1: scans ----------------------------------------------------------

  /** Bare parquet scan + count (E1). At scale: metadata-only row-group
    * counts; no column is read at all. */
  val scanCount: Q = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))

  // ---- E5/E6: projection + filter ----------------------------------------

  /** Conjunctive/IN/BETWEEN/LIKE predicates (E6); all push into the parquet
    * reader (`PushedFilters` in explain), so at 100 TB only matching
    * row-groups are decoded. */
  val filterPred: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between("1995-01-01", "1996-12-31")
        && col("l_quantity").isin(10d, 20d, 30d, 40d)
        && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_extendedprice")

  /** LIKE / NOT LIKE / rlike predicates (E6). */
  val filterLike: Q = (s, d) =>
    Tables.part(s, d)
      .filter(col("p_name").like("%widget%")
        && !col("p_type").like("PRO%")
        && col("p_name").rlike("^[a-z]+ "))
      .select("p_partkey", "p_name", "p_type")

  /** HAVING over grouped aggregates (E13): large orders, TPC-H Q18
    * shape. */
  val aggHaving: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("total_qty"),
        count(lit(1)).as("n_lines"))
      .filter(col("total_qty") > 150)

  /** Computed projection incl. CASE WHEN (E5). */
  val projCompute: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      // 6dp, not 2dp: exact-half cents (x.225) round differently between
      // Spark's BigDecimal HALF_UP and DuckDB's double rounding; no double
      // can sit exactly on a 6dp half-boundary, so 6dp is engine-portable
      round(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
        .as("revenue"),
      when(col("l_quantity") >= 30, "bulk")
        .when(col("l_quantity") >= 10, "mid")
        .otherwise("small").as("qty_class"))

  // ---- E3: JSON column decode --------------------------------------------

  /** `get_json_object` over the events `props` JSON column (E3). */
  val jsonExtract: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k"))

  /** JSON construction + re-extraction (E3 write side): to_json over a
    * struct, fields pulled back out — proves the construction path without
    * depending on cross-engine JSON formatting. */
  val jsonBuild: Q = (s, d) => {
    val j = to_json(struct(col("lang"), col("source"), col("n_chars")))
    Tables.documents(s, d).select(
      col("doc_id"),
      get_json_object(j, "$.lang").as("j_lang"),
      get_json_object(j, "$.source").as("j_source"),
      get_json_object(j, "$.n_chars").cast("long").as("j_chars"))
  }

  /** Null-handling functions (E24 adjacent): nullif/nvl/nvl2/coalesce. */
  val nullFuncs: Q = (s, d) =>
    Tables.customer(s, d).select(
      col("c_custkey"),
      nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"),
      nvl(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
        .as("seg_or_other"),
      nvl2(nullif(col("c_mktsegment"), lit("BUILDING")),
        lit("present"), lit("was_null")).as("seg_flag"),
      coalesce(nullif(col("c_acctbal"), lit(0d)), lit(-1d)).as("bal_nz"))

  /** KMV distinct sketch (custom TypedImperativeAggregate) — deterministic
    * hash-based estimate; rows-only (no SQL oracle can reproduce the
    * sketch), tolerance-tested in KmvSketchSpec. */
  val kmvDistinct: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(graft.functions.GraftFunctions
        .kmvDistinct(col("l_partkey"), 256).as("approx_parts"))
  }

  /** Gaps-and-islands: per-supplier shipment windows [shipdate, +10d]
    * merged into maximal coverage islands ([[graft.operators
    * .IntervalJoin.mergeIntervals]]) — pure window algebra, no
    * self-join. Supplier keys are dense (~hundreds of intervals each),
    * so the gate exercises real merging, not singleton passthrough. */
  val intervalMerge: Q = (s, d) => {
    val iv = Tables.lineitem(s, d).select(col("l_suppkey"),
      col("l_shipdate").as("ship_s"),
      (col("l_shipdate") + expr("INTERVAL 10 DAYS")).as("ship_e"))
    graft.operators.IntervalJoin.mergeIntervals(iv, Seq("l_suppkey"),
      "ship_s", "ship_e")
  }

  /** Percent-of-parent rollup share: each nation's revenue as a share
    * of its region — decimal-exact numerator and denominator (the Exact
    * discipline), ONE IEEE division at the end so both engines produce
    * the identical double. */
  val shareOfParent: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(Exact.discPrice).as("rev"))
    val w = Window.partitionBy(col("r_name"))
    rev.select(col("r_name"), col("n_name"),
        col("rev").cast("double").as("nation_rev"),
        sum(col("rev")).over(w).cast("double").as("region_rev"),
        (col("rev").cast("double") /
          sum(col("rev")).over(w).cast("double")).as("share"))
  }

  /** Exact distinct customers per order priority through the
    * dense-bitmap aggregate ([[graft.functions.BitmapIndex]]) — the
    * mergeable bitmap-index form of COUNT(DISTINCT): fixed-size per-group
    * state, bitwise-OR partial merge, popcount at the end. Full hash
    * gate against the plain COUNT(DISTINCT) oracle. */
  val bitmapDistinct: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.GraftFunctions.bitmapCount(
        graft.functions.GraftFunctions.bitmapAgg(col("o_custkey"),
          0L, (1L << 18) - 1)).as("n_customers"))
  }

  /** Audience-overlap matrix: per-event-type user bitmaps, then exact
    * |A∩B| / |A∪B| for every type pair by popcount — no self-join of
    * raw id rows ever happens; the only join is a broadcast of K
    * one-row-per-segment bitmaps (the BNLJ is K² over K=5 rows, the
    * documented tiny-side allowlist). The oracle pays the id-level
    * self-join the bitmap exists to avoid. */
  val bitmapOverlap: Q = (s, d) => {
    val seg = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions.bitmapAgg(col("user_id"),
        0L, (1L << 18) - 1).as("bm"))
    val a = seg.select(col("event_type").as("type_a"), col("bm").as("bm_a"))
    val b = seg.select(col("event_type").as("type_b"), col("bm").as("bm_b"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        graft.functions.GraftFunctions
          .bitmapAndCount(col("bm_a"), col("bm_b")).as("n_overlap"),
        graft.functions.GraftFunctions
          .bitmapOrCount(col("bm_a"), col("bm_b")).as("n_union"))
  }

  /** KMV in its sub-k regime — hash-gated: with fewer distinct values
    * than sketch slots the sketch holds EVERY hash and returns the exact
    * count by construction (KmvSketch keeps all n < k hashes), so
    * count(DISTINCT) is a true oracle for the sketch's merge/eval path,
    * not a tolerance check. */
  val kmvExact: Q = (s, d) => {
    // exact-regime assert: the gate's claim is per-group distinct < k
    // (sub-k sketches ARE the exact count). A future SF whose
    // cardinality crosses k must fail LOUDLY here, not drift into the
    // estimate regime and silently red the hash (the r15 sweep found
    // exactly that class at sf0.1). Result ≥ k ⟺ the estimator
    // engaged, since the exact path only ever returns n < k.
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(graft.functions.GraftFunctions
        .kmvDistinct(col("l_linenumber"), 256).as("__nd"))
      .select(col("l_returnflag"),
        when(col("__nd") >= 256, raise_error(lit(
          "q_kmv_exact: KMV sketch saturated (distinct >= k=256) — " +
            "the gate's pigeonhole-exact precondition no longer " +
            "holds at this SF; raise k")))
          .otherwise(col("__nd")).as("n_linenumbers"))
  }

  /** KMV sketch SET ALGEBRA (round 9, [[graft.operators.KmvAlgebra]]):
    * per-segment user sketches rolled up once, then pairwise
    * union / intersection / Jaccard from the sketch arrays alone —
    * the pre-aggregated-audience-overlap pattern. k = 512 exceeds the
    * user universe, so every estimator sits in its exact-by-
    * construction sub-k regime and the gate hashes against DuckDB's
    * exact distinct counts (the q_kmv_exact recipe, extended to
    * algebra). The 5-row sketch-pair join is a deliberate tiny
    * broadcast nested loop. */
  val kmvSetops: Q = (s, d) => {
    import graft.functions.GraftFunctions
    import graft.operators.KmvAlgebra
    // k = 2048 keeps every per-type sketch pigeonhole-exact through
    // sf0.1's 1,500 distinct users (r15: the sf0.1 STRICT sweep caught
    // k = 512 leaving the exact regime there; sub-k estimates are
    // exact for any k, so smaller SFs hash unchanged)
    val k = 2048
    val skRaw = Tables.events(s, d)
      .groupBy("event_type")
      .agg(GraftFunctions.kmvSketch(col("user_id"), k).as("sk"))
    // exact-regime assert (sketch length == k ⟺ saturated): a future
    // SF whose per-type user count reaches k must raise loudly here
    // instead of sliding into the estimate regime and redding the hash
    val sk = skRaw.select(col("event_type"),
      when(size(col("sk")) >= k, raise_error(lit(
        s"q_kmv_setops: KMV sketch saturated (distinct >= k=$k) — " +
          "the pigeonhole-exact precondition no longer holds at this " +
          "SF; raise k"))).otherwise(col("sk")).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        KmvAlgebra.unionEstimate(col("ska"), col("skb"), k)
          .as("n_union"),
        KmvAlgebra.intersectEstimate(col("ska"), col("skb"), k)
          .as("n_intersect"),
        KmvAlgebra.jaccardEstimate(col("ska"), col("skb"), k)
          .as("jaccard"))
  }

  /** Log-bucket quantile sketch (round 5): per-flag price quantiles from
    * the mergeable LogHist aggregate. Buckets are pure integer bit math
    * (2-dp money → cents, pow2 exponent + 6 mantissa bits), so DuckDB
    * rebuilds the ENTIRE sketch cell-for-cell and the estimates — bucket
    * lower bounds at ranks ⌈qN⌉ — hash-match exactly, collisions and
    * all (the CMS/Bloom gating recipe applied to quantiles). */
  val histQuantiles: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.functions.GraftFunctions.histQuantiles(col("cents"), 6,
          Seq(0.5, 0.9, 0.99)).as("qs"))
      .select(col("l_returnflag"), col("n"),
        col("qs")(0).as("q50_cents"), col("qs")(1).as("q90_cents"),
        col("qs")(2).as("q99_cents"))
  }

  // ---- E13: hash aggregate (TPC-H Q1 shape — the flagship) ---------------

  /** TPC-H Q1 (E13): partial aggregation map-side, 4-way agg over 2 group
    * keys; the canonical "does the engine aggregate at scale" probe. */
  val q1Agg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= "1998-09-02")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        Exact.sumMoney(col("l_extendedprice")).as("sum_base_price"),
        Exact.sumExact(Exact.discPrice).as("sum_disc_price"),
        Exact.sumExact(Exact.charge).as("sum_charge"),
        avg("l_quantity").as("avg_qty"),
        Exact.avgMoney(col("l_extendedprice")).as("avg_price"),
        Exact.avgMoney(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3 shape: 3-way join + agg + top-k. Filters reach each scan
    * BEFORE the joins (Catalyst pushes them); the final top-10 is a
    * TakeOrderedAndProject, not a global sort. */
  val q3Shipping: Q = (s, d) => {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < "1995-03-15")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > "1995-03-15")
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(Exact.sumExact(Exact.discPrice).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** TPC-H Q7 shape (volume shipping): bidirectional nation-pair trade by
    * ship year — the two nation dims broadcast TWICE under different
    * roles (supplier vs customer side), fact joins shuffle on their
    * keys, revenue decimal-exact. */
  val q7Volume: Q = (s, d) => {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1998-01-01")
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .withColumn("l_year", year(col("l_shipdate")))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(Exact.sumExact(Exact.discPrice).as("revenue"))
  }

  /** TPC-H Q10 shape (returned items): per-customer lost revenue in one
    * quarter, top 20 — deterministic cut via the (revenue desc, custkey)
    * total order on decimal-exact revenue. */
  val q10Returned: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("l_returnflag") === "R" &&
        col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1996-04-01")
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(Exact.sumExact(Exact.discPrice).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q18 shape (large-volume orders): the agg-driven semi-join —
    * orders qualify through a HAVING over their own lineitems, then
    * rejoin for the customer roll-up. The qualifying set is built ONCE
    * as a decimal-exact aggregate (ids + one decimal shuffle) and AQE
    * broadcasts it into the fact join; deterministic cut via
    * (o_totalprice desc, o_orderkey). */
  val q18LargeOrders: Q = (s, d) => {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(Exact.Money)).as("__qty"))
      .filter(col("__qty") > 180)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("__qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Distribution window functions (E18 completion): ntile buckets,
    * percent_rank, cume_dist — raw doubles, no rounding: both engines
    * compute the identical `(rank-1)/(n-1)` and `n_le/n` divisions on
    * the same totally-ordered partitions (unique o_orderkey tiebreak),
    * so the driver's exact hash matches bit-for-bit. */
  val windowDistribution: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(8).over(w).as("bucket8"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
  }

  /** TPC-H Q5 shape: 6-way join with co-nation constraint; dimension
    * tables broadcast, fact joins shuffle on their keys. */
  val q5LocalSupplier: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey")
        && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(Exact.sumExact(Exact.discPrice).as("revenue"))

  // ---- E7–E10: joins ------------------------------------------------------

  /** Equi inner join orders⋈customer (E7). customer is the smaller side; at
    * bench scale Spark broadcast it, at 100 TB AQE picks shuffle-hash /
    * sort-merge on o_custkey. Aggregation keys on the join output. */
  val joinInner: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "inner")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("total"))

  /** Salted skew join (round 5): [[graft.operators.SkewJoin
    * .saltedEquiJoin]] sprays lineitem across 8 sub-keys per orderkey
    * and replicates the orders side 8× — the structural fix for
    * pathological hot keys AQE can't pre-empt. Salting must be
    * RESULT-INVISIBLE, so the oracle is simply the plain equi join;
    * exact decimal sums keep the gate summation-order-free. */
  val joinSkewSalted: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedEquiJoin(li, ord, "okey",
        saltFactor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("l_extendedprice")).as("sum_price"))
  }

  /** Broadcast join of two dimension tables (E8) — explicitly hinted so the
    * 5-row region side never shuffles. */
  val joinBroadcast: Q = (s, d) =>
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", sort_array(collect_list("n_name"))).as("nations"))

  /** Left outer join preserving order-less customers (E9). */
  val joinLeft: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count("o_orderkey").as("n_orders"),
        coalesce(Exact.sumMoney(col("o_totalprice")), lit(0d)).as("total"))

  /** Full outer join over key sets (E9). */
  val joinFull: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_custkey").as("k"))
      .withColumn("has_cust", lit(1))
    val o = Tables.orders(s, d).select(col("o_custkey").as("k")).distinct()
      .withColumn("has_ord", lit(1))
    c.join(o, Seq("k"), "full")
      .agg(
        count(lit(1)).as("n_keys"),
        sum(coalesce(col("has_cust"), lit(0))).as("n_cust"),
        sum(coalesce(col("has_ord"), lit(0))).as("n_ord"))
  }

  /** Left semi = EXISTS (E10). */
  val joinSemi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** Left anti = NOT EXISTS (E10). */
  val joinAnti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Range join (E11): error events to purchase events of the same user in
    * the following hour. The equi key (user_id) makes this a hash join with
    * a range residual — NOT a cartesian product — which is the only shape
    * that survives 100 TB (pure theta joins explode; always find the equi
    * component, or bucket time into join keys). */
  val joinRange: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val e1 = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("u"), col("ts").as("t1"))
    val e2 = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("t2"))
    e1.join(e2, col("u") === col("u2")
        && col("t2") >= col("t1")
        && col("t2") <= col("t1") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("u").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .select("user_id", "n_pairs")
  }

  /** As-of join (E12): each purchase event picks up the most recent prior
    * view event's timestamp for the same user. See [[graft.operators.AsOfJoin]]
    * for the single-shuffle union-merge plan. */
  val asofJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts")
    graft.operators.AsOfJoin(purchases, views, "user_id", "ts", "ts", Seq("ts"))
      .select("event_id", "user_id", "asof_ts")
  }

  /** FORWARD as-of (round 12, [[graft.operators.AsOfJoin.forward]]):
    * the EARLIEST view at-or-after each purchase — the same custom
    * sort-merge node on negated ts axes; DuckDB replays it natively
    * with `ASOF ... ON p.ts <= v.ts`. */
  val asofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts")
    graft.operators.AsOfJoin.forward(purchases, views, "user_id",
      "ts", "ts", Seq("ts"))
      .select(col("event_id"), col("user_id"), col("asof_ts"))
  }

  /** Composite-key as-of (E12): most recent prior view for the same
    * (user, event-day) tuple — the match must agree on BOTH key columns,
    * mirroring DuckDB `ASOF ... ON u = u AND d = d AND ts >=`. */
  val asofMultiKey: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        to_date(col("ts")).as("day"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), to_date(col("ts")).as("day"))
    graft.operators.AsOfJoin.onKeys(purchases, views,
        Seq("user_id", "day"), "ts", "ts", Seq("ts"))
      .select("event_id", "user_id", "day", "asof_ts")
  }

  /** Scalar + correlated subqueries (E6/E10 adjacent): orders above the
    * global average, customers whose best order beats their nation's
    * average. Catalyst decorrelates into joins — asserted by results. */
  val subqueries: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_sq")
    s.sql("""
      SELECT o_orderkey, o_totalprice
      FROM orders_sq
      WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders_sq)
        AND EXISTS (SELECT 1 FROM orders_sq o2
                    WHERE o2.o_custkey = orders_sq.o_custkey
                      AND o2.o_orderkey <> orders_sq.o_orderkey)
    """)
  }

  /** TPC-H Q2 shape (minimum-cost supplier, adapted: the testdata has
    * no partsupp, so lineitem is the part↔supplier bridge and
    * l_extendedprice plays supplycost): per qualifying part, keep the
    * supply rows achieving the part's MINIMUM price — a correlated
    * scalar subquery on min. Catalyst decorrelates it into a per-part
    * min aggregate joined back on the correlation key (one aggregate
    * over lineitem + one equi join — never a per-row subquery), and
    * the dim chain supplier→nation→region broadcasts. Ordered by every
    * output column, so the top-100 cut is a deterministic total order
    * even among min-price ties. */
  val q2MinCost: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("part_q2")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q2")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q2")
    Tables.nation(s, d).createOrReplaceTempView("nation_q2")
    Tables.region(s, d).createOrReplaceTempView("region_q2")
    s.sql("""
      SELECT s.s_name, s.s_acctbal, n.n_name, p.p_partkey, p.p_name,
             l.l_extendedprice AS best_price
      FROM part_q2 p, lineitem_q2 l, supplier_q2 s, nation_q2 n,
           region_q2 r
      WHERE p.p_partkey = l.l_partkey AND l.l_suppkey = s.s_suppkey
        AND s.s_nationkey = n.n_nationkey
        AND n.n_regionkey = r.r_regionkey
        AND r.r_name = 'EUROPE' AND p.p_size <= 15
        AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                                 FROM lineitem_q2 l2
                                 WHERE l2.l_partkey = p.p_partkey)
      ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey,
               p.p_name, l.l_extendedprice
      LIMIT 100
    """)
  }

  /** TPC-H Q4 shape (order priority checking, adapted: the testdata
    * lineitem has no commit/receipt dates, so the late-delivery EXISTS
    * becomes a returned-item EXISTS): orders in one half-year having
    * at least one returned lineitem, counted by priority. Catalyst
    * rewrites the correlated EXISTS into a LEFT SEMI join on
    * l_orderkey — the date filter still pushes into the orders scan,
    * and the semi probe carries ids only. */
  val q4PriorityExists: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q4")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q4")
    s.sql("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders_q4 o
      WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-07-01'
        AND EXISTS (SELECT 1 FROM lineitem_q4 l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_returnflag = 'R')
      GROUP BY o_orderpriority
    """)
  }

  /** TPC-H Q20 shape (potential part promotion, adapted sans
    * partsupp): suppliers whose shipped quantity of 'small%'-named
    * parts beats 1.1× the average such quantity — a nested semi chain
    * (supplier IN ← grouped-HAVING lineitem IN ← part) with an
    * uncorrelated scalar-aggregate threshold, the relative form that
    * stays selective at every SF. Both INs decorrelate to left-semi
    * hash joins (ids-only probes), the part filter pushes to its scan,
    * and the threshold is a 1-row broadcast. */
  val q20SemiChain: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("part_q20")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q20")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q20")
    Tables.nation(s, d).createOrReplaceTempView("nation_q20")
    s.sql("""
      WITH sq AS (
        SELECT l_suppkey, sum(l_quantity) AS qty
        FROM lineitem_q20
        WHERE l_partkey IN (SELECT p_partkey FROM part_q20
                            WHERE p_name LIKE 'small%')
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, n.n_name
      FROM supplier_q20 s JOIN nation_q20 n
        ON s.s_nationkey = n.n_nationkey
      WHERE s.s_suppkey IN (SELECT l_suppkey FROM sq
                            WHERE qty > (SELECT avg(qty) * 1.1 FROM sq))
      ORDER BY s.s_suppkey
    """)
  }

  /** IGNORE NULLS analytic windows (E19 completion): per-user forward
    * fill of the last purchase value (`last` with ignoreNulls over a
    * running frame) plus the strictly-previous purchase (`lag` with
    * ignoreNulls) — the event-log "carry the last observation
    * forward" idiom without a self-join. One window pass per user;
    * values carried verbatim (no arithmetic), so raw doubles hash. */
  val windowFill: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("pv",
        when(col("event_type") === "purchase", col("value")))
      .select(col("user_id"), col("event_id"),
        last("pv", ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("last_purchase"),
        lag(col("pv"), 1, null, ignoreNulls = true).over(w)
          .as("prev_purchase"))
  }

  /** Deterministic string aggregation (listagg/string_agg): per order
    * priority, the sorted distinct order months joined by comma —
    * collect_set → array_sort → concat_ws on the Spark side, so the
    * string is order-independent and exact; DuckDB replays it as
    * `string_agg(DISTINCT ... ORDER BY ...)`. Distinct sets stay
    * bounded (months × statuses), so the in-row arrays are tiny at any
    * scale. */
  val stringAgg: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(concat_ws(",", array_sort(collect_set(
          date_format(col("o_orderdate"), "yyyy-MM")))).as("months"),
        concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        count(lit(1)).as("n"))

  /** TPC-H Q17 shape (small-quantity-order revenue): parts of one
    * brand/type whose lineitems fall under 50% of that part's own
    * average quantity — the correlated AVG subquery (vs Q2's MIN).
    * Catalyst decorrelates to a per-part avg aggregate joined back;
    * quantities are small integers in doubles, so the avg is exact and
    * the comparison boundary-free; revenue decimal-exact / 7. */
  val q17SmallQty: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("part_q17")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q17")
    s.sql(s"""
      SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
               AS DOUBLE) / 7.0 AS avg_yearly,
             count(*) AS n_lines
      FROM lineitem_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#12' AND p.p_type = 'ECONOMY'
        AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                            FROM lineitem_q17 l2
                            WHERE l2.l_partkey = p.p_partkey)
    """)
  }

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    * join with an in-join residual filter, then a histogram of counts
    * — customers with zero qualifying orders land in the c_count = 0
    * bucket instead of vanishing. Two partial-agg shuffles (custkey,
    * then count); all-integer output. */
  val q13OrderHistogram: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer_q13")
    Tables.orders(s, d).createOrReplaceTempView("orders_q13")
    s.sql("""
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer_q13 c LEFT JOIN orders_q13 o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey) cc
      GROUP BY c_count
    """)
  }

  /** TPC-H Q19 shape (disjunctive predicate revenue): an OR of
    * conjunction groups over part × lineitem attributes. The planner
    * must extract the common `p_partkey = l_partkey` factor as the
    * hash-join key and evaluate the disjunction as a residual — a
    * cartesian/nested-loop here is the classic optimizer failure this
    * gate pins against. Revenue decimal-exact. */
  val q19Disjunctive: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    li.join(p, col("p_partkey") === col("l_partkey") && (
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))))
      .agg(Exact.sumExact(Exact.discPrice).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22 shape (global sales opportunity): customers with
    * above-average positive balance and NO orders — a scalar AVG
    * subquery over a filtered set plus a NOT EXISTS anti join,
    * aggregated per nation. The anti probe carries custkeys only;
    * balance sums decimal-exact. */
  val q22IdleCustomers: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer_q22")
    Tables.orders(s, d).createOrReplaceTempView("orders_q22")
    s.sql("""
      SELECT c_nationkey, count(*) AS numcust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
      FROM customer_q22 c
      WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal
                                 AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                           FROM customer_q22 c2
                           WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders_q22 o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_nationkey
    """)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting, adapted to
    * the returnflag vocabulary): lines of finished orders whose
    * supplier returned, where the order HAS other suppliers (EXISTS)
    * but NONE of them returned (NOT EXISTS) — the dual correlated
    * EXISTS/NOT-EXISTS on the same fact table, each decorrelating to
    * its own semi/anti join on l_orderkey. Deterministic top-20 via
    * (numwait desc, s_name). */
  val q21Waiting: Q = (s, d) => {
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q21")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q21")
    Tables.orders(s, d).createOrReplaceTempView("orders_q21")
    s.sql("""
      SELECT s.s_name, count(*) AS numwait
      FROM supplier_q21 s
      JOIN lineitem_q21 l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders_q21 o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem_q21 l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem_q21 l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name
      LIMIT 20
    """)
  }

  /** TPC-H Q15 shape (top supplier): revenue view per supplier over
    * one quarter, then the suppliers achieving its MAXIMUM — a scalar
    * aggregate subquery over a shared CTE whose equality predicate is
    * safe because revenue is decimal-exact (bit-identical doubles in
    * both engines, so `= max` cannot straddle an FP boundary). */
  val q15TopSupplier: Q = (s, d) => {
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q15")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q15")
    s.sql("""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                 AS total_rev
        FROM lineitem_q15
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, r.total_rev
      FROM supplier_q15 s JOIN rev r ON s.s_suppkey = r.l_suppkey
      WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
      ORDER BY s.s_suppkey
    """)
  }

  /** TPC-H Q6 (forecasting revenue change): the pure scan-side
    * aggregate — one table, three pushable predicates, no join at all.
    * The point of the gate is the SCAN shape: every predicate reaches
    * the parquet reader (PushedFilters) and the whole query is a
    * single partial-agg pass. Revenue = Σ extendedprice·discount,
    * decimal-exact; discounts are 2-dp doubles so the DECIMAL(4,2)
    * cast is lossless and the BETWEEN endpoints exact. */
  val q6Forecast: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q6")
    s.sql("""
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             count(*) AS n_lines
      FROM lineitem_q6
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """)
  }

  /** TPC-H Q9 shape (product type profit, adapted: no partsupp, so
    * supply cost is modeled as 60% of p_retailprice): per supplier
    * nation and order year, Σ(revenue − cost) over lines of
    * gear-named parts. The widest join tree in the spine — lineitem
    * joins part (filtered, broadcast), supplier (broadcast),
    * orders (the one big shuffle), nation (broadcast) — with the whole
    * profit expression in exact decimal arithmetic (quantities are
    * integer-valued doubles, lossless at DECIMAL(12,2)). */
  val q9Profit: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("part_q9")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q9")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q9")
    Tables.orders(s, d).createOrReplaceTempView("orders_q9")
    Tables.nation(s, d).createOrReplaceTempView("nation_q9")
    s.sql("""
      SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l.l_discount AS DECIMAL(4,2)))
               - CAST(p.p_retailprice AS DECIMAL(12,2))
                 * CAST(l.l_quantity AS DECIMAL(12,2)) * 0.60)
               AS DOUBLE) AS sum_profit
      FROM lineitem_q9 l
      JOIN part_q9 p ON p.p_partkey = l.l_partkey
      JOIN supplier_q9 s ON s.s_suppkey = l.l_suppkey
      JOIN orders_q9 o ON o.o_orderkey = l.l_orderkey
      JOIN nation_q9 n ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%gear%'
      GROUP BY n.n_name, year(o.o_orderdate)
    """)
  }

  /** TPC-H Q11 shape (important stock, adapted sans partsupp: a
    * part's "stock value" is Σ price·quantity over its lineitems from
    * one nation's suppliers): parts whose value exceeds 2× the
    * average part share — the scalar-subquery-inside-HAVING shape,
    * phrased relative to the part count so it stays selective (and
    * non-empty) at EVERY scale factor, unlike TPC-H's fixed fraction.
    * Both sides of the > stay in DECIMAL with explicit widths chosen
    * so neither engine loses scale (28,4 × 9,0 and 36,4 × 2 both fit
    * 38 digits), so the cut is boundary-free; the double cast happens
    * only on output. */
  val q11ImportantParts: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q11")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q11")
    Tables.nation(s, d).createOrReplaceTempView("nation_q11")
    s.sql("""
      WITH nl AS (
        SELECT l.l_partkey,
               CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * CAST(l.l_quantity AS DECIMAL(12,2)) AS v
        FROM lineitem_q11 l
        JOIN supplier_q11 s ON s.s_suppkey = l.l_suppkey
        JOIN nation_q11 n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_12')
      SELECT l_partkey, CAST(sum(v) AS DOUBLE) AS part_value
      FROM nl
      GROUP BY l_partkey
      HAVING CAST(sum(v) AS DECIMAL(28,4))
               * CAST((SELECT count(DISTINCT l_partkey) FROM nl)
                      AS DECIMAL(9,0))
             > (SELECT CAST(sum(v) AS DECIMAL(36,4)) * 2 FROM nl)
    """)
  }

  /** TPC-H Q12 shape (shipping priority classes, adapted: the
    * testdata has no shipmode/commit/receipt dates, so the class axis
    * is l_returnflag and the lateness residual is "shipped more than
    * 60 days after ordering"): per flag, how many late-shipped lines
    * belong to urgent vs non-urgent orders. The cross-table date
    * comparison must plan as an in-join residual on the o↔l hash join
    * (not a nested loop); the CASE buckets are the classic two-column
    * conditional count. All-integer output. */
  val q12PriorityClass: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q12")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q12")
    s.sql("""
      SELECT l.l_returnflag,
             sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS high_line_count,
             sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS low_line_count
      FROM orders_q12 o JOIN lineitem_q12 l
        ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
        AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
      GROUP BY l.l_returnflag
    """)
  }

  /** TPC-H Q14 (promotion effect): promo revenue share for one month.
    * Both the promo and total sums are decimal-exact (bit-identical
    * doubles after the cast), and the percentage is computed with ONE
    * fixed operation order — (100 · promo) / total — so the single
    * IEEE multiply+divide is engine-agnostic (the "ship ratios raw"
    * rule; no rounding anywhere). */
  val q14Promo: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q14")
    Tables.part(s, d).createOrReplaceTempView("part_q14")
    s.sql("""
      WITH m AS (
        SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1.00 - CAST(l.l_discount AS DECIMAL(4,2)))
                   ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 AS promo_revenue,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * (1.00 - CAST(l.l_discount AS DECIMAL(4,2))))
                 AS DOUBLE) AS total_revenue
        FROM lineitem_q14 l JOIN part_q14 p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= '1996-09-01' AND l.l_shipdate < '1996-10-01')
      SELECT promo_revenue, total_revenue,
             (100.0 * promo_revenue) / total_revenue AS promo_pct
      FROM m
    """)
  }

  /** TPC-H Q16 shape (parts/supplier relationship, adapted: the
    * "customer complaints" exclusion becomes negative-balance
    * suppliers): distinct supplier counts per (brand, type, size)
    * over a filtered part set, excluding blacklisted suppliers via
    * NOT IN — the null-aware anti join shape (Catalyst plans a
    * broadcast NAAJ; s_suppkey is non-null so semantics equal a plain
    * anti join, but the gate pins the NOT IN rewrite path). Grouped
    * count(DISTINCT) output is all-integer. */
  val q16SupplierCnt: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("part_q16")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q16")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q16")
    s.sql("""
      SELECT p.p_brand, p.p_type, p.p_size,
             count(DISTINCT l.l_suppkey) AS supplier_cnt
      FROM lineitem_q16 l JOIN part_q16 p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#21' AND p.p_type <> 'PROMO'
        AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier_q16
                                WHERE s_acctbal < 0.0)
      GROUP BY p.p_brand, p.p_type, p.p_size
    """)
  }

  /** Aggregate FILTER clause (SQL:2003; E13/E16 surface completion):
    * conditional aggregates without CASE scaffolding — each FILTER
    * predicate evaluates inside the same partial-agg pass, so the
    * plan is identical to the CASE form (one scan, one shuffle).
    * Money sums decimal-exact. */
  val aggFilter: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_af")
    s.sql("""
      SELECT o_orderpriority,
             count(*) AS n,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
             count(DISTINCT o_custkey)
               FILTER (WHERE o_orderdate >= '1997-01-01')
               AS n_recent_custs,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  FILTER (WHERE o_totalprice > 100000.0) AS DOUBLE)
               AS big_total
      FROM orders_af
      GROUP BY o_orderpriority
    """)
  }

  /** Recursive CTE (WITH RECURSIVE, new in Spark 4.x): hierarchy walk
    * over the implicit binary tree on s_suppkey (parent = (k−1) div 2,
    * root 0 — suppkeys are dense from 0, so every ancestor exists).
    * Each supplier walks UP to the root carrying its depth and the
    * DECIMAL-exact sum of account balances along the path; the
    * terminal cur = 0 row is each node's answer. Iterations are
    * bounded by tree depth (log₂ n — ~10 at sf0.1, ~27 at 100 TB), and
    * every step is a broadcast-joinable equi lookup, so the fixpoint
    * loop is shallow at any scale. The double cast happens on output
    * only. */
  val recursiveChain: Q = (s, d) => {
    Tables.supplier(s, d).createOrReplaceTempView("supplier_rec")
    s.sql("""
      WITH RECURSIVE up (node, cur, depth, path_bal) AS (
        SELECT s_suppkey, s_suppkey, 0,
               CAST(s_acctbal AS DECIMAL(18,2))
        FROM supplier_rec
        UNION ALL
        SELECT u.node, s.s_suppkey, u.depth + 1,
               CAST(u.path_bal + CAST(s.s_acctbal AS DECIMAL(18,2))
                    AS DECIMAL(18,2))
        FROM up u JOIN supplier_rec s
          ON s.s_suppkey = (u.cur - 1) div 2
        WHERE u.cur > 0)
      SELECT node AS s_suppkey, depth,
             CAST(path_bal AS DOUBLE) AS path_bal
      FROM up
      WHERE cur = 0
    """)
  }

  /** Pivot (E16 adjacent): revenue matrix returnflag × linestatus. */
  val pivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(Exact.sumExact(Exact.discPrice))
      .withColumnRenamed("F", "rev_f")
      .withColumnRenamed("O", "rev_o")

  /** Unpivot/melt (E16 adjacent): the wide→long inverse of [[pivot]] via
    * the native `Dataset.unpivot` (Spark plans an Expand — map-side
    * row-multiplication, no shuffle beyond the feeding aggregate).
    * Decimal-exact sums so the melted doubles are order-independent. */
  val unpivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(Exact.sumMoney(col("l_quantity")).as("sum_qty"),
        Exact.sumMoney(col("l_extendedprice")).as("sum_price"),
        Exact.sumExact(Exact.discPrice).as("sum_disc_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc_price")),
        "metric", "amount")

  // ---- E14–E17: aggregation variants -------------------------------------

  /** Exact COUNT(DISTINCT) (E14): Spark expands to a two-phase distinct agg;
    * scales via partial distinct on mapper side. */
  val aggDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_cust"),
        count(lit(1)).as("n_orders"))

  /** ROLLUP (E16). */
  val aggRollup: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      // re-alias before rollup: Spark 4's ambiguous-self-join detector
      // false-positives when rollup grouping columns keep join-side names
      .select(col("r_name").as("rn"), col("n_name").as("nn"), col("c_acctbal"))
      .rollup(col("rn").as("r_name"), col("nn").as("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        Exact.sumMoney(col("c_acctbal")).as("bal"))

  /** CUBE (E16). */
  val aggCube: Q = (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("o_totalprice")).as("total"))

  /** GROUPING SETS via SQL (E16). */
  val aggGroupingSets: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority, count(1) AS n
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)
  }

  /** Statistical aggregates incl. exact interpolated percentile (E17). */
  val aggStats: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(stddev_samp("l_quantity"), 6).as("sd_qty"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"))

  /** collect_set canonicalized to a sorted string (E17) — determinism via
    * sort_array, oracle via list_sort. */
  val aggCollect: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(concat_ws(",", sort_array(collect_set("l_linestatus")))
        .as("statuses"))

  /** Approximate distinct (E15) — HLL-backed, tolerance-checked not
    * hash-matched (no oracle entry). */
  val aggApproxDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct("o_custkey").as("approx_cust"))

  // ---- E18–E20: window functions -----------------------------------------

  /** Ranking window (E18): highest-value order per customer. */
  val windowRank: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** Analytic lag (E19): inter-event gap per user in microseconds. */
  val windowLag: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("gap_us", unix_micros(col("ts"))
        - lag(unix_micros(col("ts")), 1).over(w))
      .select("event_id", "user_id", "gap_us")
  }

  /** Running frame (E20): cumulative spend per customer over time. The
    * ORDER BY is made total (date, then key) so the running double sum is
    * deterministic and oracle-comparable. */
  val windowFrame: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running",
        sum(col("o_totalprice").cast(Exact.Money)).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "running")
  }

  /** ntile + dense_rank + lead + first_value in one pass (E18/E19). */
  val windowAnalytics: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        dense_rank().over(w).as("drank"),
        ntile(4).over(w).as("quartile"),
        lead("o_orderkey", 1).over(w).as("next_key"),
        first("o_orderkey").over(w).as("top_key"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .filter(col("drank") <= 20)
  }

  /** RANGE frame (E20): 30-day trailing spend per customer — the frame is
    * value-based (epoch seconds), not row-based. */
  val windowRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("sec"))
      .rangeBetween(-2592000L, 0L) // 30 days in seconds
    Tables.orders(s, d)
      .withColumn("sec", unix_seconds(col("o_orderdate").cast("timestamp")))
      .withColumn("trailing_30d",
        sum(col("o_totalprice").cast(Exact.Money)).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "trailing_30d")
  }

  // ---- E21/E22: sort / limit / top-k -------------------------------------

  /** Global top-k (E22): compiles to TakeOrderedAndProject — per-partition
    * heaps then a k-row merge on the driver, never a global sort. */
  val topkOrders: Q = (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
      .select("o_orderkey", "o_totalprice")

  /** Top-k per group via the custom two-phase heap operator
    * ([[graft.plans.TopKPerGroupNode]]) — no group sort, shuffles ≤ k rows
    * per group per task. Oracle: the row_number window formulation. */
  val topkPerGroup: Q = (s, d) =>
    graft.operators.TopK.perGroup(Tables.orders(s, d),
        Seq("o_custkey"), "o_totalprice", k = 3,
        desc = true, tieBreak = Seq("o_orderkey"))
      .select("o_custkey", "o_orderkey", "o_totalprice")

  /** Top-k over an aggregate (E22): revenue top-10 parts. */
  val topkParts: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(Exact.sumExact(Exact.discPrice).as("revenue"))
      .orderBy(col("revenue").desc, col("l_partkey"))
      .limit(10)

  // ---- E23: set operations ------------------------------------------------

  val setUnion: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .union(Tables.orders(s, d).select(col("o_custkey").as("k")))
      .distinct()

  val setIntersect: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .intersect(Tables.orders(s, d).select(col("o_custkey").as("k")))

  val setExcept: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .except(Tables.orders(s, d).select(col("o_custkey").as("k")))

  /** UNION ALL preserved duplicates, then counted (E23). */
  val setUnionAll: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .unionAll(Tables.orders(s, d).select(col("o_custkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))

  /** INTERSECT ALL (E23 multiset variant): per key, min(multiplicity
    * left, multiplicity right) survivors — both sides genuinely
    * duplicate-bearing (lineitem suppkeys vs low-key order custkeys).
    * Plans as one hash aggregate per side + an equi join (no row
    * explosion); counted per key so the gate output stays bounded. */
  val setIntersectAll: Q = (s, d) =>
    Tables.lineitem(s, d).select(col("l_suppkey").as("k"))
      .intersectAll(Tables.orders(s, d)
        .filter(col("o_custkey") < 1000)
        .select(col("o_custkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))

  /** EXCEPT ALL (E23 multiset variant): multiplicity subtraction —
    * max(0, left − right) copies per key. */
  val setExceptAll: Q = (s, d) =>
    Tables.orders(s, d).select(col("o_custkey").as("k"))
      .exceptAll(Tables.lineitem(s, d)
        .filter(col("l_suppkey") < 1500)
        .select(col("l_suppkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))

  // ---- E24–E26: scalar function library ----------------------------------

  /** String functions (E24). */
  val stringFuncs: Q = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      lower(col("p_type")).as("type_l"),
      substring(col("p_name"), 1, 8).as("name8"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("bt"),
      length(col("p_name")).as("name_len"),
      trim(col("p_name")).as("name_trim"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
      lpad(col("p_brand"), 12, "_").as("brand_pad"),
      split(col("p_type"), " ").getItem(0).as("type_head"))

  /** Date/time functions (E25): monthly revenue rollup. */
  val dateFuncs: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("o_totalprice")).as("total"))
      .withColumn("yr", year(col("month")))
      .withColumn("mth", month(col("month")))

  /** Date arithmetic (E25): ship latency in days, month boundaries,
    * interval addition. */
  val dateDiff: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("ship_days"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_date"),
        last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
        dayofweek(col("o_orderdate")).as("dow"))

  /** Math functions (E26). Note ceil/floor return LONG in Spark — the
    * oracle casts to match. */
  val mathFuncs: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      round(col("l_extendedprice") * (lit(1) + col("l_tax")), 6).as("gross"),
      ceil(col("l_extendedprice")).as("price_ceil"),
      floor(col("l_discount") * 100).as("disc_pct"),
      round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
      round(pow(col("l_quantity"), 2.0), 6).as("qty_sq"),
      abs(col("l_quantity") - 25).as("qty_dev"))

  // ---- E27: array functions (see VectorQueries for the embedding ops) ----

  /** Array basics over embeddings (E27): size / element_at / slice-sum /
    * contains / filter-count / sort-head. */
  val arrayFuncs: Q = (s, d) =>
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      round(element_at(col("embedding"), 1).cast("double"), 6).as("e1"),
      round(aggregate(slice(col("embedding"), 1, 8),
        lit(0.0), (acc, x) => acc + x.cast("double")), 6).as("head_sum"),
      size(filter(col("embedding"), x => x > 0f)).as("n_pos"),
      round(element_at(array_sort(transform(col("embedding"),
        x => x.cast("double"))), 1), 6).as("min_elem"))

  /** LATERAL correlated top-k (round 6): each customer's two largest
    * orders via a LATERAL subquery with correlated ORDER BY + LIMIT —
    * the SQL-surface twin of [[graft.plans.TopKPerGroup]]. Catalyst
    * decorrelates it (DecorrelateInnerQuery) into a ranked window, so
    * the plan never executes per-row subqueries. */
  val lateralTopK: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer_lt")
    Tables.orders(s, d).createOrReplaceTempView("orders_lt")
    s.sql("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer_lt c,
      LATERAL (SELECT o_orderkey, o_totalprice
               FROM orders_lt
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 2) o
    """)
  }

  /** Per-group exact-sum OLS (round 6): price-on-quantity fit per return
    * flag — decimal moment sums, fixed IEEE closed form; see
    * [[graft.operators.Regression]]. */
  val linregGroup: Q = (s, d) =>
    graft.operators.Regression.linearFit(
      Tables.lineitem(s, d), groupCols = Seq("l_returnflag"),
      xCol = "l_quantity", yCol = "l_extendedprice")

  /** Misra–Gries heavy-hitter candidates over event types (round 7,
    * sketch tier): k=16 exceeds the type cardinality, so the sketch is
    * in its exact regime — order-independent counts, full hash gate.
    * The eviction regime is covered by MisraGriesSpec's guarantee
    * properties (approx-family discipline). */
  val heavyHitters: Q = (s, d) => {
    Tables.events(s, d)
      .agg(graft.functions.GraftFunctions.misraGries(
        col("event_type"), 16).as("hh"))
      .select(posexplode(col("hh")))
      .select(col("pos").cast("int").as("rank"),
        col("col.key").as("key"), col("col.count").as("cnt"))
  }

  /** Rolling exact median over a 5-row frame (round 7, E20 family):
    * Spark's exact `percentile` as a windowed aggregate vs DuckDB's
    * windowed `median`. Integer-valued quantities keep every median a
    * dyadic quarter — exact, and the per-supplier SUM of those medians
    * is order-independent, so the reduction hash-matches.
    *
    * Sort-key discipline: (l_orderkey, l_linenumber) is NOT unique in
    * the synthetic lineitem, so l_quantity joins the key — rows still
    * tied then carry EQUAL quantities, making every frame's multiset
    * (hence the median) invariant under engine tie order. */
  val rollingMedian: Q = (s, d) => {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      .rowsBetween(-4, Window.currentRow)
    Tables.lineitem(s, d)
      .withColumn("roll_med",
        percentile(col("l_quantity"), lit(0.5)).over(w))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"),
        sum("roll_med").as("sum_med"),
        max("roll_med").as("max_med"))
  }

  /** TPC-H Q8 market share (round 8): the deepest join tree in the
    * suite — lineitem against SIX dimensions (part filter, supplier →
    * share nation, orders → date range, customer → nation → region) —
    * the join-reorder/broadcast showcase: Catalyst plans every
    * dimension as a broadcast hash join off the one fact scan.
    * Numerator and denominator sum in exact decimal; the per-year
    * share is one IEEE division, raw-hashable. */
  val q8MarketShare: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val part = Tables.part(s, d).filter(col("p_type") === "PROMO")
      .select("p_partkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate").between("1995-01-01", "1996-12-31"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val region = Tables.region(s, d).filter(col("r_name") === "AMERICA")
      .select("r_regionkey")
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("n_name") === "NATION_1", Exact.discPrice)
          .otherwise(lit(0).cast(org.apache.spark.sql.types
            .DecimalType(18, 4)))).cast("double") /
          sum(Exact.discPrice).cast("double")).as("mkt_share"),
        count(lit(1)).as("n_lines"))
  }

  /** Event-transition (Markov) matrix (round 8): per-user consecutive
    * event-type pairs with transition probabilities — the product-
    * analytics complement of the funnel/sessionize family. One window
    * pass per user (lead), one pair count shuffle; probabilities are
    * single integer-ratio divisions, raw-hashable. */
  val eventTransitions: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val t = Tables.events(s, d)
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = t.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type")
      .agg(sum("n").as("row_total"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("row_total")).as("p"))
  }

  /** Market-basket co-purchase lift (round 8): part pairs appearing in
    * the same order, with support and lift — the association-rule
    * screen (`lift = P(ab)/(P(a)P(b))`, >1 = genuinely associated).
    * Round 9 adds the Apriori/SON support pre-prune: a pair's support
    * is ≤ min of its parts' supports, so parts with `n_item <
    * minSupport` are dropped from BOTH self-join sides BEFORE the pair
    * join. Round 10 makes the floor STRUCTURAL: pairs also filter on
    * `n_ab >= minSupport` (and the oracle carries the same HAVING), so
    * pruned and unpruned plans are provably identical — not an
    * empirical per-SF claim. The prune cuts the pair space by the
    * singleton-part share, which at corpus scale is most of it.
    * `n_a`/`n_b`/`n_orders` stay computed
    * over the UNPRUNED set so the emitted rows are byte-identical.
    * Within-order pair fan-out is bounded by basket size (the triangle
    * argument); counts exact, lift one fixed IEEE expression over
    * exact integers; deterministic (support desc, keys) top-100 cut. */
  val copurchaseLift: Q = (s, d) => {
    val minSupport = 2
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey").distinct()
    val itemN = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_item"))
    // ONE broadcast of the support table serves both the Apriori
    // filter and the n_a/n_b enrichment (they ride the self-join
    // sides as functional group keys) — strictly fewer joins than
    // prune-less + post-enrichment
    val lin = li.join(broadcast(itemN), Seq("l_partkey"))
      .filter(col("n_item") >= minSupport)
    val pairs = lin.alias("x").join(lin.alias("y"), Seq("l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("part_a"),
        col("y.l_partkey").as("part_b"),
        col("x.n_item").as("n_a"), col("y.n_item").as("n_b"))
      .agg(count(lit(1)).as("n_ab"))
      // structural support floor: the Apriori prune above is
      // result-identical by PROOF only when pairs below minSupport
      // can't reach the top-100 — enforce that, don't assume it (a
      // support-1 pair sneaking into the cut at an untested SF would
      // silently diverge from the unpruned semantics)
      .filter(col("n_ab") >= minSupport)
    val orders = li.agg(countDistinct("l_orderkey").as("n_orders"))
    pairs
      .crossJoin(broadcast(orders))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        col("n_a"), col("n_b"),
        (col("n_ab").cast("double") * col("n_orders") /
          (col("n_a").cast("double") * col("n_b"))).as("lift"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** Join-cardinality estimation (round 8, sketch tier,
    * [[graft.functions.CmsInnerProduct]]): |orders ⋈ customer| estimated
    * from two key sketches via the count-min inner product — the
    * pre-shuffle "should this join be salted / can it fit" answer; two
    * map-side aggregations instead of running the join. The exact size
    * rides along for the comparison; the oracle rebuilds both sketches
    * cell-for-cell (the q_cms_freq recipe), so the ESTIMATE itself —
    * collision inflation included — hash-matches. */
  val joinCardEst: Q = (s, d) => {
    import graft.functions.GraftFunctions
    val w = 1024
    val dep = 4
    val ska = Tables.orders(s, d).agg(GraftFunctions
      .cmsSketch(col("o_custkey").cast("string"), w, dep).as("ska"))
    val skb = Tables.customer(s, d).agg(GraftFunctions
      .cmsSketch(col("c_custkey").cast("string"), w, dep).as("skb"))
    val exact = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("exact_join_size"))
    ska.crossJoin(skb).crossJoin(exact)
      .select(GraftFunctions.cmsInner(col("ska"), col("skb"), w, dep)
        .as("est_join_size"), col("exact_join_size"))
  }

  /** Runtime Bloom-filtered join (round 8,
    * [[graft.operators.RuntimeFilter]]): orders pruned map-only against a
    * Bloom of nation-1 customers before the shuffle join — the sideways
    * information passing a selective dim filter buys at 100 TB. The
    * filter is result-invisible (FPs die in the join), so the oracle is
    * the PLAIN join; sums decimal-exact. */
  val bloomJoin: Q = (s, d) => {
    val dim = Tables.customer(s, d)
      .filter(col("c_nationkey") === 1)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.operators.RuntimeFilter
      .bloomFilteredJoin(Tables.orders(s, d), dim, "o_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("total"))
  }
}
