package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass column profiling (data-quality triage for a 100 TB table):
  * row count, null count, exact distinct count, min and max for each
  * requested numeric column, emitted in long format — ONE aggregation
  * over ONE scan.
  *
  * Count-distinct across several columns in a single pass plans as
  * Expand (one row replica per profiled column before partial
  * aggregation) — the standard Spark shape for multi-distinct. That
  * trades ×|cols| map-side rows for a single scan of the table, the
  * right trade when the scan dominates (it does at 100 TB). Distincts
  * are EXACT so the DuckDB oracle hash-matches; swap in
  * `approx_count_distinct` when estimates suffice and the Expand should
  * go away.
  *
  * Numeric columns only by design: min/max surface as doubles, so the
  * long format needs no lossy string casts (whose engine-specific
  * formatting would break cross-engine comparison). */
object Profile {

  def numeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_v"),
        col(s"__max_$c").as("max_v"))): _*)).as("p"))
      .select("p.*")
  }

  /** Skew diagnostics over a prospective shuffle/join key — the report
    * to run BEFORE keying a 100 TB shuffle: per-key cardinalities
    * reduced to group-count quantiles (the [[graft.functions
    * .LogHistQuantiles]] sketch over counts-of-counts — integer in,
    * integer out, so the whole report hash-gates) plus the top hot keys
    * (count desc, key-string asc). A p99/p50 ratio near 1 salts
    * nothing; a hot top key tells [[SkewJoin]] what to spray.
    *
    * Scale shape: one partial-agg count per key, then 1-row aggregates
    * over the (key, count) table — the report never shuffles more than
    * (key, 8-byte count) pairs, and the top-k rides a bounded sort.
    *
    * Returns one row: (n_groups, n_rows, max_group, p50_group,
    * p90_group, p99_group, top_keys array<string>). */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 10)
      : DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val stats = counts.agg(
      count(lit(1)).as("n_groups"),
      sum("n").as("n_rows"),
      max("n").as("max_group"),
      graft.functions.GraftFunctions.histQuantiles(col("n"), 6,
        Seq(0.5, 0.9, 0.99)).as("__qs"))
    val top = counts.orderBy(col("n").desc, col(keyCol).cast("string"))
      .limit(topK)
      .agg(transform(sort_array(collect_list(struct(
        (-col("n")).as("negn"), col(keyCol).cast("string").as("k")))),
        s => s.getField("k")).as("top_keys"))
    stats.crossJoin(broadcast(top))
      .select(col("n_groups"), col("n_rows"), col("max_group"),
        col("__qs")(0).as("p50_group"), col("__qs")(1).as("p90_group"),
        col("__qs")(2).as("p99_group"), col("top_keys"))
  }

  /** Categorical twin of [[numeric]]: the top-`k` most frequent values
    * per column (count desc, value asc — deterministic under ties),
    * long format (column, value, cnt, rank). Values surface as strings;
    * profile STRING-typed columns when the output must hash-match
    * across engines (numeric→string formatting is engine-specific).
    *
    * Scale shape: ONE scan explodes to (column, value) pairs, a
    * partial-aggregable count, and [[TopK.perGroup]] bounds each
    * column's survivors at `k` rows per task — no full sort, no value
    * list ever collects. */
  def categorical(df: DataFrame, cols: Seq[String], k: Int = 3)
      : DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(k >= 1, s"k must be >= 1, got $k")
    val long = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column"),
          col(c).cast("string").as("value"))): _*)).as("p"))
      .select("p.*")
      .filter(col("value").isNotNull)
    val counts = long.groupBy("column", "value")
      .agg(count(lit(1)).as("cnt"))
    val top = TopK.perGroup(counts, Seq("column"), "cnt", k,
      desc = true, tieBreak = Seq("value"))
    // survivors are ≤ k per column — the rank window is tiny
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("column")
        .orderBy(col("cnt").desc, col("value"))))
  }

  /** k-anonymity audit over a quasi-identifier combination: one row per
    * distinct combination with its population and an `at_risk` flag
    * (fewer than `k` records share it — those rows are re-identifiable
    * through the combination). The release-gate check for corpora
    * carrying user-adjacent metadata; pairs with the PII scrub (scrub
    * removes direct identifiers, this audits the indirect ones).
    *
    * ONE partial-aggregatable groupBy — the shuffle carries (combo,
    * count), so auditing 100 TB costs a scan plus a combo-cardinality
    * shuffle. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[Column], k: Int)
      : DataFrame = {
    require(quasiCols.nonEmpty, "audit needs at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols: _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("at_risk", col("cnt") < k)
  }

  /** Per-group Shannon entropy of a categorical column — the
    * concentration monitor next to [[kAnonymity]]/[[lDiversity]]:
    * "how mixed is the source distribution per language", tracked
    * round over round to catch a pipeline quietly collapsing onto one
    * source. NULL categories count as their own category (missingness
    * IS part of the distribution).
    *
    * Shape: one (group, category) cell shuffle; the Σ p·ln p fold
    * rides sorted category order inside the group row (bounded by
    * `maxCategories`, raised loudly BEFORE the per-group cell array
    * materializes — the guard is a streamed keyed window count over
    * the distinct-cell table, so the raise bounds peak memory, not
    * just output semantics). Transcendental tier: entropy
    * and its ln(k)-normalized form round 6dp; a single-category group
    * reports entropy 0 and NULL norm_entropy (0/0 — sweep-row
    * discipline).
    *
    * @return one row per group: (groupCols…, n, n_categories,
    *         entropy, norm_entropy) */
  def categoryEntropy(df: DataFrame, groupCols: Seq[String],
      catCol: String, maxCategories: Int = 100000): DataFrame = {
    val g = groupCols.map(col)
    val cells = df.groupBy(g :+ col(catCol).cast("string").as("__c"): _*)
      .agg(count(lit(1)).as("__n"))
    // the maxCategories guard must fire BEFORE the collect_list
    // materializes an oversized per-group array (round-12 ADVICE: a
    // raise in the post-agg projection bounds output semantics, not
    // peak memory). A keyed window count streams the distinct-cell
    // table (WindowExec spills; collect_list cannot) and the raise
    // rides __n — referenced downstream with differing branches, so
    // neither pruning class drops it (NOTES guard taxonomy).
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    val guarded = cells
      .withColumn("__ncat", count(lit(1)).over(wG))
      .withColumn("__n", when(col("__ncat") > maxCategories,
        raise_error(concat(
          lit(s"Profile.categoryEntropy: more than $maxCategories " +
            "categories in one group (the fold collects one cell " +
            "each) — got "), col("__ncat").cast("string")))
          .cast("long"))
        .otherwise(col("__n")))
      .drop("__ncat")
    val grouped = guarded.groupBy(g: _*)
      .agg(coalesce(sum("__n"), lit(0L)).as("n"),
        count(lit(1)).as("n_categories"),
        sort_array(collect_list(struct(col("__c"), col("__n"))))
          .as("__cells"))
    val nD = col("n").cast("double")
    val acc = aggregate(col("__cells"), lit(0.0), (a, x) => {
      val p = x.getField("__n").cast("double") / nD
      a + p * log(p)
    })
    grouped.select(g ++ Seq(
      col("n"),
      col("n_categories"),
      round(-acc, 6).as("entropy"),
      when(col("n_categories") === 1, lit(null).cast("double"))
        .otherwise(round(-acc / log(col("n_categories").cast("double")),
          6)).as("norm_entropy")): _*)
  }

  /** l-diversity audit — the companion [[kAnonymity]] needs: a
    * quasi-identifier group can be k-anonymous yet leak its SENSITIVE
    * attribute when every member shares one value (the homogeneity
    * attack). One row per distinct combination with its population,
    * the exact count of distinct sensitive values inside it, and the
    * `at_risk` flag (fewer than `l` distinct values). A NULL sensitive
    * value raises loudly — counting it as a "value" would fake
    * diversity, dropping it would undercount the group.
    *
    * Same scale shape as [[kAnonymity]]: one partial-aggregatable
    * groupBy (exact COUNT DISTINCT rides the standard two-phase
    * expand), shuffle carries (combo, sensitive) cells. */
  def lDiversity(df: DataFrame, quasiCols: Seq[Column],
      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "audit needs at least one quasi-identifier")
    require(l >= 2, s"l must be >= 2, got $l")
    val sv = when(col(sensitiveCol).isNull, raise_error(lit(
      s"Profile.lDiversity: NULL sensitive value ($sensitiveCol) — " +
        "null is neither a diversity value nor ignorable; filter or " +
        "impute explicitly first")))
      .otherwise(col(sensitiveCol))
    df.groupBy(quasiCols: _*)
      .agg(count(lit(1)).as("cnt"),
        countDistinct(sv).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)
  }

  /** t-closeness audit — the third rung of the release-gate ladder
    * ([[kAnonymity]] → [[lDiversity]] → this): a group can be
    * k-anonymous AND l-diverse yet still leak when its sensitive
    * DISTRIBUTION deviates from the table's (a group that is 90% one
    * source in a 50/50 corpus tells an attacker plenty — the skewness
    * attack l-diversity misses). Per quasi-identifier group, the
    * variational distance (= EMD under the categorical equal-ground
    * metric of Li, Li & Venkatasubramanian 2007)
    * `t_g = ½ Σ_v |p_g(v) − p(v)|` against the global distribution;
    * groups with `t_g > t` flag `at_risk`.
    *
    * Distributed shape: one (combo, sensitive) cell shuffle, a
    * per-combo total re-join ON THE SAME KEY (co-partitioned), the
    * global sensitive distribution joined as a BROADCAST (cardinality
    * guarded by `maxValues` — raised loudly off the one-row
    * aggregate). Values absent from a group never materialize:
    * `Σ_{v∉g} p(v) = 1 − Σ_{v∈g} p(v)` folds them into the closed
    * form, so the cell table stays observed-cells-sized.
    *
    * Exactness: every numerator is an exact DECIMAL(38,0)
    * (`|c_gv·N − c_v·n_g|`), sums are exact-integer (order-free), and
    * t_g is ONE fixed IEEE chain over their correctly-rounded double
    * casts — hash-gate exact, no rounding.
    *
    * @return one row per combo: (quasiCols…, cnt, t_dist, at_risk) */
  def tCloseness(df: DataFrame, quasiCols: Seq[Column],
      sensitiveCol: String, t: Double, maxValues: Int = 100000)
      : DataFrame = {
    require(quasiCols.nonEmpty, "audit needs at least one quasi-identifier")
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sv = when(col(sensitiveCol).isNull, raise_error(lit(
      s"Profile.tCloseness: NULL sensitive value ($sensitiveCol) — " +
        "null is neither a distribution value nor ignorable; filter " +
        "or impute explicitly first")))
      .otherwise(col(sensitiveCol))
    val base = df.select(quasiCols :+ sv.as("__v"): _*)
    val qNames = base.columns.dropRight(1).toIndexedSeq
    val q = qNames.map(col)
    val cells = base.groupBy(q :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val glob = cells.groupBy(col("__v").as("__gv"))
      .agg(sum("__c").as("__cv"))
    val nAgg = glob.agg(
      count(lit(1)).as("__nv"),
      coalesce(sum("__cv"), lit(0L)).as("__N"))
      .select(when(col("__nv") > maxValues, raise_error(concat(
          lit(s"Profile.tCloseness: more than $maxValues distinct " +
            "sensitive values (the global distribution broadcasts) — " +
            "got "), col("__nv").cast("string"))))
        .otherwise(col("__N")).as("__N"))
    val perN = cells.groupBy(q: _*).agg(sum("__c").as("__ng"))
      .select(qNames.map(c => col(c).as(s"__n_$c")) :+ col("__ng"): _*)
    val joined = cells
      .join(perN, qNames.map(c => col(c) <=> col(s"__n_$c")).reduce(_ && _))
      .join(broadcast(glob), col("__v") <=> col("__gv"))
      .crossJoin(broadcast(nAgg))
    val term = abs(col("__c").cast(dec) * col("__N").cast(dec) -
      col("__cv").cast(dec) * col("__ng").cast(dec))
    val perG = joined.groupBy(q: _*)
      .agg(max(col("__ng")).as("cnt"), max(col("__N")).as("__Nx"),
        sum(term).as("__s"),
        sum(col("__cv").cast(dec)).as("__tg"))
    val tDist = (col("__s").cast("double") /
      (col("cnt").cast(dec) * col("__Nx").cast(dec)).cast("double") +
      lit(1.0) - col("__tg").cast("double") /
      col("__Nx").cast("double")) / lit(2.0)
    perG.select(q ++ Seq(col("cnt"), tDist.as("t_dist")): _*)
      .withColumn("at_risk", col("t_dist") > t)
  }

  /** Candidate-key / uniqueness profile — per column: row count,
    * non-null count, exact distinct count, and the is-candidate-key
    * verdict (`n_distinct = n_nonnull = n_rows`) — the first question
    * a schema review asks of an unfamiliar table ("what identifies a
    * row"), and the regression canary for upstream key collisions.
    *
    * Shape: ONE unpivot pass to (column, value) rows — every column's
    * counts ride a single shuffle keyed by column name + value hash,
    * instead of |cols| separate COUNT(DISTINCT) scans. Values fold to
    * their string form for counting (distinctness is preserved within
    * a column's one type; cross-type collisions cannot occur because
    * the column name is part of the key). All outputs exact integers
    * + one exact division.
    *
    * @return one row per column: (column, n_rows, n_nonnull,
    *         n_distinct, distinct_ratio, is_key) */
  def keyProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "keyProfile: need at least one column")
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("__col"),
          col(c).cast("string").as("__v"))): _*)).as("__e"))
      .select(col("__e.__col").as("__col"), col("__e.__v").as("__v"))
    pairs.groupBy(col("__col").as("column"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("__v")).as("n_nonnull"),
        countDistinct(col("__v")).as("n_distinct"))
      .select(col("column"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_rows"))
          .as("distinct_ratio"),
        (col("n_distinct") === col("n_rows") &&
          col("n_nonnull") === col("n_rows")).as("is_key"))
  }

  /** Functional-dependency audit `A → B`: does the determinant column
    * set functionally determine the dependent column, and if not, how
    * badly — per-determinant violation mass (rows beyond the majority
    * dependent value: the g3 error of approximate-FD mining, Kivinen &
    * Mannila 1995) plus the table-level summary a data-contract check
    * consumes.
    *
    * Shape: one groupBy to (determinant, dependent) cells, one
    * per-determinant fold (only the majority COUNT matters, so ties
    * among dependent values need no tie-break), one global aggregate.
    * NULL dependents count as a value (two NULLs agree — the SQL
    * GROUP BY convention); NULL determinant components group together
    * likewise.
    *
    * @return one row: (n_rows, n_determinants, n_violating_groups,
    *         n_violating_rows, g3_rate) */
  def fdViolations(df: DataFrame, determinants: Seq[String],
      dependent: String): DataFrame = {
    require(detsOk(determinants, dependent),
      s"fdViolations: dependent '$dependent' must not appear in " +
        s"determinants $determinants")
    val cells = df.groupBy(
        (determinants.map(c => col(c).cast("string")) :+
          col(dependent).cast("string").as("__dep")): _*)
      .agg(count(lit(1)).as("__c"))
    val perDet = cells.groupBy(determinants.map(col): _*)
      .agg(sum("__c").as("__n"), max("__c").as("__maj"))
    perDet.agg(
      coalesce(sum("__n"), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_determinants"),
      sum(when(col("__n") > col("__maj"), 1L).otherwise(0L))
        .as("n_violating_groups"),
      coalesce(sum(col("__n") - col("__maj")), lit(0L))
        .as("n_violating_rows"))
      .withColumn("g3_rate",
        when(col("n_rows") === 0, raise_error(lit(
          "Profile.fdViolations: empty input — the FD verdict is " +
            "vacuous")))
          .otherwise(col("n_violating_rows").cast("double") /
            col("n_rows")))
  }

  private def detsOk(determinants: Seq[String], dependent: String) =
    determinants.nonEmpty && !determinants.contains(dependent) &&
      determinants.distinct.size == determinants.size
}
