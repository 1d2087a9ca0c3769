package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Compaction, Decontam, Dedup, TextSearch, TopK}
import graft.sources.{Artifacts, Tables}

/** Training-data pipeline queries beyond SURVEY §2's original inventory:
  * CDC compaction, deterministic sampling, PII scrubbing, BM25 retrieval,
  * benchmark decontamination, quality-aware dedup. Every SQL-expressible
  * one carries a DuckDB oracle in SparkEntry.oracleSql. */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** CDC upsert view: latest event per user (E13-family at scale; one
    * max_by reduction, no window sort — see [[graft.operators.Compaction]]). */
  val latestPerKey: Q = (s, d) =>
    Compaction.latestByKey(
        Tables.events(s, d)
          .select("user_id", "event_id", "ts", "event_type", "value"),
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"), col("ts").as("last_ts"))

  /** Deterministic content-hash Bernoulli sample (~25%): reproducible
    * across runs/engines, no RNG state, embarrassingly parallel — the only
    * sampling discipline that survives pipeline re-runs at 100 TB. */
  val sampleHash: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "4")
      .select("doc_id", "lang")

  /** Deterministic stratified sample: 50 docs per language, ranked by
    * content hash — runs on the custom TopKPerGroup operator, so no group
    * ever sorts in full and the shuffle carries ≤ 50 rows per (task,
    * lang). */
  val sampleStratified: Q = (s, d) =>
    TopK.perGroup(
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("rk")),
      groupCols = Seq("lang"), orderCol = "rk", k = 50, desc = false,
      tieBreak = Seq("doc_id"))

  /** PII scrubbing: emails → `<EMAIL>`, long digit runs → `<NUM>` — the
    * map-only redaction pass every LLM corpus gets; codegen'd
    * regexp_replace, zero shuffles. */
  val piiScrub: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]{3,}", "<NUM>").as("clean"))

  /** BM25 retrieval over the corpus for a fixed query. */
  val bm25Search: Q = (s, d) =>
    TextSearch.bm25(Tables.documents(s, d), "doc_id", "text",
      terms = Seq("scan", "join"))

  /** End-to-end entity resolution (composition flagship): candidate
    * pairs over distinct part names scored with the
    * [[graft.functions.JaroWinkler]] kernel (threshold 0.93 keeps the
    * semantic "cold X" ↔ "old X" merges and rejects the 0.90 tier),
    * transitive match clusters via [[graft.operators.Graph]] min-label
    * components over md5-derived numeric ids, canonical = the
    * cluster's MINIMUM name (string order — id-free, so the DuckDB
    * oracle replays the whole pipeline including the closure as a
    * recursive CTE). Unmatched names are their own singleton cluster.
    * At scale the all-pairs stage is replaced by [[SetSimJoin]]-style
    * blocked candidates; scoring, closure, and canonicalization are
    * unchanged. */
  val entityResolution: Q = (s, d) => {
    val names = Tables.part(s, d).select("p_name").distinct()
    val withId = names.withColumn("nid",
      conv(substring(md5(col("p_name")), 1, 15), 16, 10).cast("long"))
    val a = withId.select(col("p_name").as("na"), col("nid").as("ida"))
    val b = withId.select(col("p_name").as("nb"), col("nid").as("idb"))
    val matches = a.join(b, col("na") < col("nb"))
      .filter(graft.functions.GraftFunctions
        .jaroWinkler(col("na"), col("nb")) >= 0.93)
      .select(col("ida").as("src"), col("idb").as("dst"))
    val comps = graft.operators.Graph
      .connectedComponents(matches, "src", "dst")
    val labeled = withId
      .join(comps, col("nid") === col("node"), "left")
      .select(col("p_name"),
        coalesce(col("component"), col("nid")).as("__cid"))
    val canon = labeled.groupBy("__cid")
      .agg(min("p_name").as("canonical"),
        count(lit(1)).as("cluster_size"))
    labeled.join(broadcast(canon), "__cid")
      .select("p_name", "canonical", "cluster_size")
  }

  /** Classifier calibration ([[graft.operators.Classifier.calibration]]):
    * reliability-diagram bins of the quality classifier's rounded
    * scores against a deterministic label (lang = 'en'). Per-bin conf
    * sums run in DECIMAL(10,6) over the exact rounded rationals;
    * conf/acc/gap ship raw (one division each). */
  val calibrationReport: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.operators.Classifier.linearScore(
      docs, "doc_id", "text", dim = 64,
      weights = graft.operators.Classifier.hashWeights(64))
    val labeled = scored.join(
      docs.select(col("doc_id"), (col("lang") === "en").as("is_en")),
      "doc_id")
    graft.operators.Classifier.calibration(labeled, "score", "is_en")
  }

  /** ROC AUC of the quality classifier against the deterministic
    * lang = 'en' label (round 10, [[graft.operators.Eval.rocAuc]]):
    * exact tie-corrected rank-sum AUC over the RAW logit (monotone in
    * the score, already proven raw-hashable by q_quality_classifier) —
    * pair counts are exact longs, auc is one IEEE division. The oracle
    * replays the cumulative with a plain window; the operator's
    * two-phase bucket-offset form must match it bit-for-bit. */
  val rocAucReport: Q = (s, d) => {
    graft.operators.Eval.rocAuc(scoredLabeled(s, d), "logit", "label",
      v => floor(v * 100))
  }

  /** Average precision (PR AUC) on the same fixture
    * ([[graft.operators.Eval.avgPrecision]]): step-interpolated
    * Σ ΔR·P over distinct logit thresholds; order-summed divisions, so
    * `ap` ships rounded 6dp. */
  val avgPrecisionReport: Q = (s, d) => {
    graft.operators.Eval.avgPrecision(scoredLabeled(s, d), "logit",
      "label", v => floor(v * 100))
  }

  private def scoredLabeled(s: SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    graft.operators.Classifier.linearScore(
        docs, "doc_id", "text", dim = 64,
        weights = graft.operators.Classifier.hashWeights(64))
      .select(col("doc_id"), col("logit"))
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").as("label")), "doc_id")
  }

  /** CUSUM change-point detection
    * ([[graft.operators.TimeSeries.cusum]]): daily event counts per
    * type against each type's first-week mean (an exact sum of
    * integer counts under ONE division — bit-identical cross-engine),
    * slack 2, threshold 25. The chained max(0, ·+·) recurrence runs
    * as the in-row fold; the DuckDB oracle replays it as a recursive
    * CTE in the same op order, so RAW statistics hash (the EMA
    * precedent). */
  val cusumShift: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val base = daily.filter(col("day") < "2024-01-08")
      .groupBy(col("event_type").as("__k"))
      .agg((sum("n") / 7.0).as("mu"))
    val withMu = daily
      .join(broadcast(base), col("event_type") === col("__k"))
      .drop("__k")
    graft.operators.TimeSeries.cusum(withMu, "event_type", "day", "n",
      "mu", slack = 2.0, threshold = 25.0)
  }

  /** Jaro–Winkler name matching ([[graft.functions.JaroWinkler]], a
    * codegen kernel whose semantics are pinned to DuckDB's builtin):
    * all distinct part-name pairs scored — the record-linkage metric
    * complementing the Levenshtein tier. 64 distinct names → 2016
    * pairs; at scale the same kernel rides [[SetSimJoin]]-style
    * blocked candidates, never all-pairs. Rounded 6dp (small-
    * denominator rationals, boundary-free). */
  val jaroWinklerPairs: Q = (s, d) => {
    val names = Tables.part(s, d).select(col("p_name")).distinct()
    val a = names.select(col("p_name").as("name_a"))
    val b = names.select(col("p_name").as("name_b"))
    a.join(b, col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        round(graft.functions.GraftFunctions
          .jaroWinkler(col("name_a"), col("name_b")), 6).as("jw"))
  }

  /** Full Damerau–Levenshtein distances
    * ([[graft.functions.DamerauLevenshtein]], byte-exact parity with
    * DuckDB's builtin — full DL with the transposition lookback, not
    * OSA) over all distinct part-name pairs, same blocking caveat as
    * [[jaroWinklerPairs]]. Integer output — no rounding needed. */
  val damerauPairs: Q = (s, d) => {
    val names = Tables.part(s, d).select(col("p_name")).distinct()
    val a = names.select(col("p_name").as("name_a"))
    val b = names.select(col("p_name").as("name_b"))
    a.join(b, col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        graft.functions.GraftFunctions
          .damerauLevenshtein(col("name_a"), col("name_b")).as("dl"))
  }

  /** Additive seasonal decomposition
    * ([[graft.operators.TimeSeries.decompose]]) of daily event counts
    * per event type, weekly period: trend (centered 7-day average,
    * raw — exact integer-frame sums under one division), seasonal
    * (zero-centered per-phase mean of the detrended series) and
    * residual, both rounded 6dp. */
  val seasonalDecompose: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    graft.operators.TimeSeries.decompose(
      daily, "event_type", "day", "n", period = 7)
  }

  /** Two-sample KS drift ([[graft.operators.Drift.ks]]): order totals
    * before vs during 1998 — the unbinned drift monitor next to
    * q_corpus_drift's PSI. The running CDFs are per-bucket windows
    * (price div 1000) + a bucket-offset window over bucket counts, so
    * no value-row window is unpartitioned; D and its argmax are exact
    * (single IEEE divisions of exact counts, max has no summation
    * order). */
  val ksDrift: Q = (s, d) => {
    val o = Tables.orders(s, d)
    graft.operators.Drift.ks(
      o.filter(col("o_orderdate") < "1998-01-01"),
      o.filter(col("o_orderdate") >= "1998-01-01"),
      "o_totalprice", v => floor(v / 1000.0))
  }

  /** Skyline / Pareto frontier ([[graft.operators.Skyline]]): parts no
    * other part beats on BOTH bigger-size and lower-price — two-phase
    * local-then-global skyline; the oracle pays the NOT EXISTS
    * dominance scan the local prune avoids. */
  val skylineParts: Q = (s, d) =>
    graft.operators.Skyline.skyline(Tables.part(s, d), "p_partkey",
        Seq(("p_size", true), ("p_retailprice", false)))
      .select("p_partkey", "p_size", "p_retailprice")

  /** Multinomial Naive Bayes TRAINING ([[graft.operators.NaiveBayes]]):
    * the per-(lang, token) smoothed log-probability model over the
    * document corpus — pure counting + one ln per row, rounded 6dp
    * (surprisal precedent). */
  val nbTrain: Q = (s, d) =>
    graft.operators.NaiveBayes.train(Tables.documents(s, d),
        "doc_id", "text", "lang")
      .select(col("label"), col("tok"), col("tf"),
        round(col("log_prob"), 6).as("log_prob"))

  /** NB classification of the same corpus under the trained model:
    * per-doc argmax of prior + summed token log-probs with the unseen
    * floor. Self-labeling is the point of the gate (deterministic
    * end-to-end train→score), not an accuracy claim. */
  val nbClassify: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.operators.NaiveBayes.classify(docs, "doc_id", "text",
      graft.operators.NaiveBayes.train(docs, "doc_id", "text", "lang"),
      graft.operators.NaiveBayes.classStats(docs, "doc_id", "text",
        "lang"))
  }

  /** Saturating inventory balance ([[graft.operators.TimeSeries
    * .clampedCumsum]]): per-supplier stock from 100 units, returns
    * restock (+qty) and ships deplete (−qty), clamped to [0, 200] —
    * the non-linear recurrence a window can't express; the oracle is a
    * recursive-CTE replay of the identical integer fold. */
  val clampedInventory: Q = (s, d) => {
    val ev = Tables.lineitem(s, d).select(col("l_suppkey"),
      col("l_shipdate").as("ship_ts"),
      when(col("l_returnflag") === "R", col("l_quantity"))
        .otherwise(-col("l_quantity")).cast("long").as("qty_delta"))
    graft.operators.TimeSeries.clampedCumsum(ev, "l_suppkey", "ship_ts",
      "qty_delta", lo = 0L, hi = 200L, init = 100L)
  }

  /** Multi-touch attribution ([[graft.operators.Attribution]]):
    * purchases credited to click/view/signup touches within a 3-day
    * lookback — exact position-based counts, fully SQL-expressible. */
  val attribution: Q = (s, d) =>
    graft.operators.Attribution.positionCounts(Tables.events(s, d),
      "user_id", "event_type", "ts", "event_id",
      conversionType = "purchase",
      touchTypes = Seq("click", "view", "signup"), lookbackDays = 3)

  /** RFM segmentation: per-customer recency/frequency/monetary with
    * quintile scores (1 = best) — deterministic ntile via total-order
    * tie-breaks on the customer key, decimal-exact monetary.
    *
    * Round 10: the three `ntile(5) OVER (ORDER BY ...)` windows (each
    * an unpartitioned WindowExec — every customer through ONE task,
    * the bench tail's "No Partition Defined" warnings, a hard
    * scale-killer at 100 TB) are replaced by
    * [[graft.operators.Selection.ntileScore]]: two-phase bucket-offset
    * exact ranks + integer ntile arithmetic, bit-identical output.
    * Buckets: recency by day, frequency by (−freq, custkey slice) —
    * a single frequency value is the canonical hot key — monetary by
    * descending 1k bands. */
  val rfmSegments: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val maxDate = o.agg(max(col("o_orderdate")).as("__maxd"))
    val base = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(Exact.Money)).as("__mon"))
      .crossJoin(broadcast(maxDate))
      .select(col("o_custkey"),
        datediff(col("__maxd"), col("__last")).as("recency_days"),
        col("frequency"), col("__mon").cast("double").as("monetary"))
    // round 11: the three sequential ntileScore passes re-derived the
    // (aggregated) base for every pass's count side — fused, all three
    // count tables ride ONE grouping-sets pass over base, bit-identical
    // scores (Selection.ntileScores)
    val m = graft.operators.Selection.ntileScores(base, 5, Seq(
      (col("recency_days"),
        Seq(col("recency_days").asc, col("o_custkey").asc), "r_score"),
      (struct((-col("frequency")).as("nf"),
        floor(col("o_custkey") / 65536).as("ks")),
        Seq(col("frequency").desc, col("o_custkey").asc), "f_score"),
      (floor(-col("monetary") / 1000.0),
        Seq(col("monetary").desc, col("o_custkey").asc), "m_score")))
    m.select(col("o_custkey"), col("recency_days"), col("frequency"),
      col("monetary"), col("r_score"), col("f_score"), col("m_score"))
  }

  /** Mann–Whitney U ([[graft.operators.Drift.mannWhitney]]): did
    * returned lineitems price-shift vs accepted ones. Distinct-value
    * collapse + the two-phase running count — exact doubled-rank
    * integers end to end, z rounded 9dp (the fixed-IEEE-sequence
    * recipe). The oracle replays the identical rank algebra in SQL. */
  val mannWhitneyPrices: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    graft.operators.Drift.mannWhitney(
      li.filter(col("l_returnflag") === "R"),
      li.filter(col("l_returnflag") === "A"),
      "l_extendedprice", v => floor(v / 1000.0))
  }

  /** Spearman's ρ ([[graft.operators.RankCorr.spearmanRho]], round 11):
    * does quantity rank-predict line price. Exact doubled average
    * ranks off the distinct-value collapse (the mannWhitney recipe on
    * BOTH axes), moments in DECIMAL, one IEEE chain rounded 9dp —
    * the oracle replays the identical rank algebra in SQL. */
  val spearmanQtyPrice: Q = (s, d) =>
    graft.operators.RankCorr.spearmanRho(Tables.lineitem(s, d),
      "l_quantity", "l_extendedprice", x => x, y => floor(y / 1000.0))

  /** Kendall's τ-b ([[graft.operators.RankCorr.kendallTauB]], round
    * 11) between quantity and discount cents — two ordinal axes, so
    * the distinct-cell pair space is ≤ 50·11 cells and the exact
    * C/D pair counts replay directly in SQL. */
  val kendallQtyDisc: Q = (s, d) =>
    graft.operators.RankCorr.kendallTauB(
      Tables.lineitem(s, d)
        .select(col("l_quantity").as("qty"),
          floor(col("l_discount") * 100 + lit(0.5)).cast("long")
            .as("disc")),
      "qty", "disc")

  /** Fleiss' κ ([[graft.operators.Eval.fleissKappa]], round 11):
    * doc blocks of five as items, the in-block index as the rater,
    * lang as the category — only COMPLETE five-rating blocks enter
    * (the operator raises on an unbalanced design; the per-item
    * count window is bounded at 5 rows per partition). */
  val fleissLangAgreement: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val r = Tables.documents(s, d)
      .select(expr("doc_id div 5").as("item"),
        (col("doc_id") % 5).as("rater"), col("lang").as("cat"))
    val complete = r
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("item"))))
      .filter(col("__n") === 5).drop("__n")
    graft.operators.Eval.fleissKappa(complete, "item", "rater", "cat")
  }

  /** Krippendorff's α (round 12,
    * [[graft.operators.Eval.krippendorffAlpha]]): the SAME doc-block
    * rating design as q_fleiss_kappa but deliberately UNBALANCED —
    * every third block loses its 5th rating and every seventh its 4th
    * — the missing-data case Fleiss rejects and α exists for. */
  val krippendorffLang: Q = (s, d) => {
    val r = Tables.documents(s, d)
      .select(expr("doc_id div 5").as("item"),
        (col("doc_id") % 5).as("rater"), col("lang").as("cat"))
      .filter(!(col("rater") === 4 && col("item") % 3 === 0) &&
        !(col("rater") === 3 && col("item") % 7 === 0))
    graft.operators.Eval.krippendorffAlpha(r, "item", "rater", "cat")
  }

  /** Two-proportion z-test ([[graft.operators.Drift.propZTest]],
    * round 11): did the high-discount rate differ between returned
    * (R) and in-transit (N) lineitems — the binary-metric A/B shape,
    * one conditional partial-agg scan. */
  val propZDiscount: Q = (s, d) =>
    graft.operators.Drift.propZTest(
      Tables.lineitem(s, d)
        .withColumn("disc_hi", col("l_discount") >= 0.05),
      "l_returnflag", "R", "N", "disc_hi")

  /** Kruskal–Wallis H ([[graft.operators.Drift.kruskalWallis]], round
    * 11): did ANY return-flag class shift the price distribution — the
    * k-group screen over the same axis q_mann_whitney tests pairwise.
    * Doubled ranks off the distinct-value collapse, per-group rank
    * sums exact decimals, the cross-group Σ R²/n a sorted sequential
    * fold (bit-identical to the oracle's list_reduce), H shipped raw. */
  val kruskalPrices: Q = (s, d) =>
    graft.operators.Drift.kruskalWallis(Tables.lineitem(s, d),
      "l_returnflag", "l_extendedprice", v => floor(v / 1000.0))

  /** One-way ANOVA F ([[graft.operators.Drift.anovaF]], round 11):
    * does mean line price differ across the twelve ship months — ONE
    * conditional partial-agg scan to exact per-group moments, the
    * sorted fold for Σ S²/n, F raw. The month group key is zero-padded
    * so the string fold order equals the numeric one. */
  val anovaShipmode: Q = (s, d) =>
    graft.operators.Drift.anovaF(
      Tables.lineitem(s, d)
        .withColumn("ship_month",
          lpad(month(col("l_shipdate")).cast("string"), 2, "0")),
      "ship_month", "l_extendedprice")

  /** Shared subject table of the survival gates: per-user days from
    * first activity to first HIGH-VALUE purchase (value ≥ 90), with
    * EXPLICIT censoring — a user who never converts is censored at
    * their last-seen day, not counted as "converted at last event".
    * The distinction a plain conversion-rate curve gets wrong. */
  private def survivalSubjects(s: SparkSession, d: String): DataFrame = {
    val us = expr("unix_micros(ts)")
    val ev = Tables.events(s, d).filter(col("ts").isNotNull)
    val span = ev.groupBy(col("user_id"))
      .agg(min(us).as("__t0"), max(us).as("__tl"))
    val conv = ev
      .filter(col("event_type") === "purchase" && col("value") >= 90)
      .groupBy(col("user_id").as("__cu")).agg(min(us).as("__tp"))
    span.join(conv, col("user_id") <=> col("__cu"), "left")
      .select(col("user_id"),
        when(col("__tp").isNotNull,
          expr("(__tp - __t0) div 86400000000"))
          .otherwise(expr("(__tl - __t0) div 86400000000"))
          .as("duration"),
        col("__tp").isNotNull.as("converted"))
  }

  /** Kaplan–Meier time-to-conversion curve (round 13,
    * [[graft.operators.Survival.kaplanMeier]]): censoring-aware S(t)
    * over per-user conversion delays — the curve q_cohort_retention
    * approximates without censoring. Bounded day grid, suffix-sum
    * risk sets, time-ordered ln cumsum, 6dp. */
  val kaplanMeierRetention: Q = (s, d) =>
    graft.operators.Survival.kaplanMeier(survivalSubjects(s, d),
      "duration", "converted")

  /** Nelson–Aalen cumulative hazard (round 13,
    * [[graft.operators.Survival.nelsonAalen]]): the failure-rate
    * integral over the same subjects — read next to the KM curve
    * (S ≈ e^−H; divergence marks thinning risk sets). */
  val nelsonAalenHazard: Q = (s, d) =>
    graft.operators.Survival.nelsonAalen(survivalSubjects(s, d),
      "duration", "converted")

  /** Log-rank test (round 13, [[graft.operators.Survival.logRank]]):
    * do the two parity cohorts convert at different rates — the
    * hypergeometric O−E comparison on the SAME risk sets the KM curve
    * walks; χ² one raw chain off the time-ordered fold. */
  val logRankCohorts: Q = (s, d) =>
    graft.operators.Survival.logRank(
      survivalSubjects(s, d)
        .withColumn("cohort", pmod(col("user_id"), lit(2))),
      "duration", "converted", "cohort")

  /** Jonckheere–Terpstra trend ([[graft.operators
    * .Drift.jonckheereTerpstra]], round 13): does order value rise
    * across the five priority classes IN ORDER — the
    * ordered-alternative screen q_kruskal cannot ask (KW is
    * order-blind). Union-value × 5 grid, bounded windows, 2J and all
    * moment sums exact decimals, z one raw chain. */
  val jtPriority: Q = (s, d) =>
    graft.operators.Drift.jonckheereTerpstra(Tables.orders(s, d),
      "o_orderpriority", "o_totalprice",
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      v => floor(v / 1000.0))

  /** Cochran–Armitage trend ([[graft.operators.Drift
    * .cochranArmitage]], r14): does the HIGH-VALUE RATE rise across
    * the five priority classes in order — the proportions member of
    * the ordered-alternative family (q_jonckheere trends a continuous
    * metric; this trends a success rate). Five stratum cells, exact
    * decimal sums, z one raw chain. */
  val caPriority: Q = (s, d) =>
    graft.operators.Drift.cochranArmitage(
      Tables.orders(s, d)
        .withColumn("hi", col("o_totalprice") > 150000.0),
      "o_orderpriority", "hi",
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))

  /** Mantel–Haenszel pooled OR ([[graft.operators.Eval
    * .mantelHaenszel]], r14): even/odd-customer "arm" vs high-value
    * outcome, stratified by priority class — the confounder-adjusted
    * 2×2 readout next to q_prop_ztest's unstratified form. Per-stratum
    * cells exact; or_mh/chi2 ride the 6dp tier (per-stratum rational
    * terms sum as doubles). */
  val mhPriority: Q = (s, d) =>
    graft.operators.Eval.mantelHaenszel(
      Tables.orders(s, d)
        .withColumn("arm", pmod(col("o_custkey"), lit(2)) === 0)
        .withColumn("hi", col("o_totalprice") > 150000.0),
      "o_orderpriority", "arm", "hi")

  /** Cronbach's alpha ([[graft.operators.Eval.cronbachAlpha]], r14):
    * are a customer-cohort's three activity sub-scores (order count,
    * high-value count, urgent-or-high count) internally consistent —
    * the scale-reliability member of the agreement family. The item
    * matrix is built complete by construction (3 aggregates per
    * cohort, unpivoted); integer values make alpha one exact raw
    * chain. */
  val cronbachCohorts: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .groupBy(pmod(col("o_custkey"), lit(120)).as("subj"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("o_totalprice") > 150000.0, 1L).otherwise(0L))
          .as("hi"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("urg"))
    val items = per.selectExpr("subj",
      "stack(3, 'cnt', cnt, 'hi', hi, 'urg', urg) AS (item, score)")
    graft.operators.Eval.cronbachAlpha(items, "subj", "item", "score")
  }

  /** Brown–Forsythe W ([[graft.operators.Drift.leveneBF]], round 13):
    * does price SPREAD differ across the return-flag classes — the
    * variance-homogeneity screen paired with q_anova_f's mean test
    * (ANOVA's pooled-variance assumption is exactly what this
    * checks). Doubled exact-cents medians off the groupedQuantiles
    * two-phase, half-cent deviations weighted by cell counts, the
    * anovaF moment fold, W one raw IEEE chain. */
  val leveneReturnflag: Q = (s, d) =>
    graft.operators.Drift.leveneBF(Tables.lineitem(s, d),
      "l_returnflag", "l_extendedprice", v => floor(v / 100000L))

  /** Cliff's δ ([[graft.operators.Drift.cliffsDelta]], round 11): the
    * effect size next to q_mann_whitney's z on the identical R-vs-A
    * price comparison — exact doubled-U integer, one raw division. */
  val cliffsDeltaPrices: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    graft.operators.Drift.cliffsDelta(
      li.filter(col("l_returnflag") === "R"),
      li.filter(col("l_returnflag") === "A"),
      "l_extendedprice", v => floor(v / 1000.0))
  }

  /** Mann–Kendall trend + Theil–Sen slope
    * ([[graft.operators.TimeSeries.mannKendallTrend]], round 11): is
    * daily order volume drifting. The slot grid (epoch days) is
    * data-size-independent — 100 TB of orders still collapse to the
    * same ~2.4k-day series before the grid² pair join. */
  val mannKendallOrders: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .groupBy(expr("unix_seconds(cast(o_orderdate as timestamp)) div 86400")
        .as("slot"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.TimeSeries.mannKendallTrend(daily, "slot", "cnt",
      sl => floor(sl))
  }

  /** Dunning LLR keyness ([[graft.operators.TextScore.llrKeyness]],
    * round 11): which terms distinguish the en slice from the de slice
    * by G² — the frequentist companion to q_fightin_words' shrunk
    * log-odds on the same corpus split. */
  val llrKeynessLangs: Q = (s, d) =>
    graft.operators.TextScore.llrKeyness(
      Tables.documents(s, d), "text", "lang", "en", "de")

  /** Multiclass Matthews correlation
    * ([[graft.operators.Eval.mccMulticlass]], round 11): the single
    * chance-corrected R_K for the same lang-id-vs-truth confusion
    * table q_confusion_f1 reports per class — exact decimal marginal
    * products, one raw IEEE chain. */
  val mccLangId: Q = (s, d) =>
    graft.operators.Eval.mccMulticlass(
      TextQueries.langIdOf(Tables.documents(s, d)), "lang", "predicted")

  /** Lagged cross-correlation
    * ([[graft.operators.TimeSeries.crossCorr]], round 11): does daily
    * click volume lead daily purchase volume — Pearson r at lags 0..7
    * off ONE shifted-slot equi-join over the (data-size-independent)
    * day grid, exact long counts, r raw. */
  val crossCorrClicks: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .groupBy(expr("unix_seconds(cast(ts as timestamp)) div 86400")
        .as("slot"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
    graft.operators.TimeSeries.crossCorr(daily, "slot", "clicks",
      "purchases", maxLag = 7)
  }

  /** Bucketed Jensen–Shannon divergence
    * ([[graft.operators.TextScore.jsdBuckets]], round 11): how far
    * apart are the en and de token mixes as distributions — the
    * corpus-pair number next to q_llr_keyness' per-term ranking; the
    * md5 bucket grid makes the transcendental fold bounded and
    * engine-deterministic. */
  val jsdLangs: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.operators.TextScore.jsdBuckets(
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") === "de"), "text")
  }

  /** McNemar's paired test ([[graft.operators.Eval.mcnemar]], round
    * 11): is the lang-id classifier actually better than the
    * always-'en' majority baseline ON THE SAME DOCS — only the
    * discordant counts decide; χ² one raw division of exact longs. */
  val mcnemarLangId: Q = (s, d) =>
    graft.operators.Eval.mcnemar(
      TextQueries.langIdOf(Tables.documents(s, d))
        .withColumn("a_ok", col("predicted") === col("lang"))
        .withColumn("b_ok", col("lang") === "en"),
      "a_ok", "b_ok")

  /** Cochran's Q ([[graft.operators.Eval.cochranQ]], round 13): do
    * three heuristic quality judges flag the SAME docs at the same
    * rate — the k-treatment McNemar an eval platform runs over k
    * filter variants before pairwise drill-downs. Two partial-agg
    * scans of the (doc, judge) cell table; Q one raw division of
    * exact-integer chains. */
  val cochranJudges: Q = (s, d) => {
    val t = coalesce(col("text"), lit(""))
    val cells = Tables.documents(s, d)
      .select(col("doc_id"), explode(array(
        struct(lit("spark").as("judge"), t.contains("spark").as("ok")),
        struct(lit("customer").as("judge"),
          t.contains("customer").as("ok")),
        struct(lit("vector").as("judge"),
          t.contains("vector").as("ok")))).as("c"))
      .select(col("doc_id"), col("c.judge").as("judge"),
        col("c.ok").as("ok"))
    graft.operators.Eval.cochranQ(cells, "doc_id", "judge", "ok")
  }

  /** Cramér's V ([[graft.operators.Features.cramersV]], round 11): the
    * single association strength for the event_type × day-of-week
    * table q_cat_dependence screens per cell — exact integer products,
    * the sorted fold for Σ o²/(rt·ct), V raw. */
  val cramersVEvents: Q = (s, d) =>
    graft.operators.Features.cramersV(
      Tables.events(s, d).select(col("event_type"),
        dayofweek(col("ts")).as("dow")),
      "event_type", "dow")

  /** Wilcoxon signed-rank
    * ([[graft.operators.Drift.wilcoxonSignedRank]], round 11): did
    * per-customer spend move from 1996 to 1997, PAIRED by customer
    * (only customers active in both years enter) — decimal-exact
    * yearly sums, the (|d|, sign) cell collapse, z raw. */
  val wilcoxonSpend: Q = (s, d) => {
    val o = Tables.orders(s, d).filter(col("o_orderdate").isNotNull)
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1996, 1997))
    val rev = o.groupBy(col("o_custkey"))
      .agg(
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n94"),
        sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("n95"),
        sum(when(col("yr") === 1996,
          col("o_totalprice").cast(Exact.Money))).as("r94"),
        sum(when(col("yr") === 1997,
          col("o_totalprice").cast(Exact.Money))).as("r95"))
      .filter(col("n94") > 0 && col("n95") > 0)
      .select(col("r94").cast("double").as("rev94"),
        col("r95").cast("double").as("rev95"))
    graft.operators.Drift.wilcoxonSignedRank(rev, "rev94", "rev95",
      a => floor(a / 100000.0))
  }

  /** Friedman χ²_F ([[graft.operators.Drift.friedman]], round 12,
    * closing the r11 verdict's #1): did ANY of the five order
    * priorities move monthly order volume, PAIRED by month — every
    * month (block) sees all five priorities (treatments), so the
    * within-block ranking removes the month-to-month level shift the
    * unpaired q_kruskal would absorb into noise. One groupBy(month)
    * shuffle; ranks are in-row k²=25 arithmetic; ΣR² exact decimal;
    * χ²_F one fixed IEEE chain, raw. */
  val friedmanPriority: Q = (s, d) => {
    val cells = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Drift.friedman(cells, "ym", "prio", "cnt", k = 5)
  }

  /** Page's L trend ([[graft.operators.Drift.pageTrend]], r14): do
    * the five priority classes' monthly order counts rise in priority
    * order WITHIN months — the ordered-alternative form of
    * q_friedman's any-shift question, on the same (month × priority)
    * cell table. 2L and all moments exact ints; z one raw chain. */
  val pageTrendPriority: Q = (s, d) => {
    val cells = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Drift.pageTrend(cells, "ym", "prio", "cnt",
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
  }

  /** Kendall's W ([[graft.operators.Drift.kendallW]], r14): HOW MUCH
    * the months agree on the priority-class ordering — the effect size
    * q_friedman's test statistic lacks (χ²_F = b(k−1)·W, asserted as
    * a differential spec). Exact block mid-rank sums; W one raw
    * division. */
  val kendallWPriority: Q = (s, d) => {
    val cells = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.Drift.kendallW(cells, "ym", "prio", "cnt", k = 5)
  }

  /** Split-conformal calibration quantile ([[graft.operators.Selection
    * .conformalQuantile]], r14): the ⌈(n+1)·0.95⌉-th smallest price
    * per return flag — the finite-sample anomaly threshold a deployed
    * screen uses where a plain 95th percentile silently under-covers.
    * Exact order-statistic pick off the grouped two-phase. */
  val conformalPrice: Q = (s, d) =>
    graft.operators.Selection.conformalQuantile(Tables.lineitem(s, d),
      Seq("l_returnflag"), "l_extendedprice", alpha = 0.05,
      v => floor(v / 1000.0))

  /** Benjamini–Hochberg flags over a 200-hypothesis sweep (round 12,
    * [[graft.operators.Drift.benjaminiHochberg]]): ten planted signals
    * (p = (i+1)/10⁴, all under the adaptive cutoff at α = 0.05) among
    * 190 hash-uniform dyadic p-values — the fixture exercises the
    * step-up rank/threshold machinery end-to-end with every p one IEEE
    * division of exact integers, so the flags gate exactly. */
  val fdrFlags: Q = (s, d) => {
    val hyp = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        when(col("doc_id") < 10,
          (col("doc_id") + 1).cast("double") / lit(10000.0))
          .otherwise(
            conv(substring(md5(concat(lit("fdr_"),
              col("doc_id").cast("string"))), 1, 8), 16, 10)
              .cast("long").cast("double") / lit(4294967296.0))
          .as("p"))
    graft.operators.Drift.benjaminiHochberg(hyp, "p", alpha = 0.05)
  }

  /** Grouped BH flags (round 12): the same hypothesis sweep split into
    * per-language FAMILIES — each language corrects against its own m,
    * so a p-value that clears a small family fails a large one. */
  val fdrGrouped: Q = (s, d) => {
    val hyp = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") < 10,
          (col("doc_id") + 1).cast("double") / lit(10000.0))
          .otherwise(
            conv(substring(md5(concat(lit("fdr_"),
              col("doc_id").cast("string"))), 1, 8), 16, 10)
              .cast("long").cast("double") / lit(4294967296.0))
          .as("p"))
    graft.operators.Drift.benjaminiHochberg(hyp, "p", alpha = 0.05,
      groupCols = Seq("lang"))
  }

  /** Zipf-law fit over the corpus vocabulary (round 12,
    * [[graft.operators.TextScore.zipfFit]]): OLS slope of ln freq on
    * ln rank over the top-1000 terms — the vocabulary-shape number a
    * corpus monitor tracks; 6dp (transcendental tier). */
  val zipfFit: Q = (s, d) =>
    graft.operators.TextScore.zipfFit(Tables.documents(s, d), "text",
      topK = 1000)

  /** Heaps-law fit over the vocabulary growth curve (round 13,
    * [[graft.operators.TextScore.heapsFit]]): OLS of ln types on ln
    * tokens sampled at 16 doc_id-range checkpoints — the saturation
    * diagnostic next to q_zipf_fit's static shape; no global cumsum,
    * just two grouped scans crossed with the broadcast grid. */
  val heapsFit: Q = (s, d) =>
    graft.operators.TextScore.heapsFit(Tables.documents(s, d),
      "doc_id", "text", gridSize = 16)

  /** Fenced code-block extraction (round 12,
    * [[graft.operators.Markup.codeFences]]): every 4th doc gets a
    * python fence with a doc-derived body and every 6th a plain fence
    * planted via chr(10)-exact strings — counts, fenced chars, and
    * language tags gate byte-identically. */
  val codeFencesQ: Q = (s, d) =>
    graft.operators.Markup.codeFences(
      Tables.documents(s, d).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 4 === 0, concat(lit("\n```python\n"),
          substring(md5(concat(col("doc_id").cast("string"),
            lit("_code"))), 1, 8), lit(" = 1\n```")))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("\n```\nplain body\n```"))
          .otherwise(lit(""))).as("text")),
      "doc_id", "text")

  /** Mixed-script confusable screen (round 12,
    * [[graft.operators.TextScore.scriptMix]]): every 7th doc gets a
    * Cyrillic-а spoof token and every 11th a Greek-α one planted onto
    * its text — the per-token script-membership counts gate exactly. */
  val scriptMixQ: Q = (s, d) =>
    graft.operators.TextScore.scriptMix(
      Tables.documents(s, d).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" p\u0430ypal"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" \u03b1lpha"))
          .otherwise(lit(""))).as("text")),
      "doc_id", "text")

  /** Two-stage retrieve-and-rerank (the production search shape): BM25
    * lexical retrieval prunes the corpus to 20 candidates, then an
    * exact cosine re-rank against the query embedding (vec_id 0)
    * touches ONLY those candidates — stage 2 cost is O(k·dim)
    * regardless of corpus size. The candidate set broadcasts into the
    * embeddings join (the big side never shuffles) and the query
    * vector rides a 1-row broadcast cross join; the final cut is a
    * TakeOrderedAndProject on (rounded cosine desc, doc_id), a
    * deterministic total order. The corpus-scale posture: stage 1 is
    * the postings-pruned scan ([[TextSearch.bm25]]), stage 2 never
    * sees more than k vectors. */
  val retrieveRerank: Q = (s, d) => {
    val cands = TextSearch.bm25(Tables.documents(s, d), "doc_id",
      "text", terms = Seq("scan", "join"))
    val emb = Tables.embeddings(s, d)
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("__qv"))
    emb.join(broadcast(cands), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(qvec))
      .select(col("doc_id"), col("bm25"),
        round(graft.functions.GraftFunctions
          .cosineSim(col("__qv"), col("embedding")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(10)
  }

  /** Reciprocal-rank fusion (round 10,
    * [[graft.operators.Retrieval.rrfFuse]]): the lexical BM25 top-20
    * and the dense cosine top-20 (independently ranked, genuinely
    * different doc sets) fuse by Σ 1/(60 + rank) — the standard hybrid
    * retrieval combiner. Both run ranks are deterministic
    * (rounded-score desc, doc_id); the rank windows run over the
    * bounded top-20 survivors ([[graft.operators.Bounded.constPart]]).
    * At 100 TB stage 1 is the postings-pruned BM25 scan and an ANN
    * index replaces the brute-force cosine — fusion itself only ever
    * sees k·runs rows. */
  val rrfFusion: Q = (s, d) => {
    import graft.operators.Bounded
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(Bounded.constPart(col("bm25")))
      .orderBy(col("bm25").desc, col("doc_id"))
    val r1 = TextSearch.bm25(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("scan", "join"))
      .withColumn("rank", row_number().over(w1))
    val emb = Tables.embeddings(s, d)
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("__qv"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(Bounded.constPart(col("cos")))
      .orderBy(col("cos").desc, col("doc_id"))
    val r2 = emb.crossJoin(broadcast(qvec))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.GraftFunctions
          .cosineSim(col("__qv"), col("embedding")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(w2))
    graft.operators.Retrieval.rrfFuse(
      Seq(r1.select("doc_id", "rank"), r2.select("doc_id", "rank")),
      "doc_id", "rank", kc = 60, topK = 10)
  }

  /** Benchmark decontamination: corpus docs sharing any 5-gram with the
    * "benchmark" docs (doc_id < 5). Runs the hashed tier (native
    * ngram_hashes kernel — no n-gram strings materialized); the DuckDB
    * oracle computes the string join, and the two agree exactly
    * (DecontamSpec proves tier equivalence, including edge cases). */
  val decontam: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Decontam.overlapHashed(docs.filter(col("doc_id") >= 5),
      docs.filter(col("doc_id") < 5), "doc_id", "text", n = 5)
  }

  /** Join-free Bloom decontamination: same bench split as [[decontam]]
    * but membership comes from a broadcast 16 Kbit Bloom filter — the
    * map-only 100 TB shape. The filter is deliberately small so real
    * false positives occur at this SF; the DuckDB oracle rebuilds the
    * exact bit set, so verdicts INCLUDING false positives hash-match. */
  val bloomDecontam: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Decontam.bloomDecontam(docs.filter(col("doc_id") >= 5),
      docs.filter(col("doc_id") < 5), "doc_id", "text",
      n = 5, mBits = 16384, k = 3)
  }

  /** Semantic decontamination gate (round 5): bench = the first ten
    * corpus vectors themselves, so every vec_id < 10 row is its own
    * bench twin at cosine ~1 while threshold 0.999 keeps genuine corpus
    * pairs out (the q_semantic_dedup_planted argument, cross-set).
    * Exact boolean verdict per corpus row, closed-form oracle. */
  val semanticDecontam: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    Decontam.semanticOverlap(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", threshold = 0.999)
  }

  /** Compressibility filter, planted gate (round 5): the corpus plus 10
    * planted template-spam docs (must flag too_repetitive) and 10
    * planted md5-noise docs (must flag too_random). Deflate byte counts
    * are JVM-zlib-specific, so the gate hashes the CLASSIFICATION of
    * planted extremes (closed-form in DuckDB) while the operator runs
    * over the whole corpus; the raw-ratio contract is spec-gated. */
  val compressQuality: Q = (s, d) => {
    val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = s.range(20).select(
      (col("id") + 900000000L).as("doc_id"),
      when(col("id") < 10, repeat(lit("spam "), 120))
        // base64 of 128 md5-derived bytes ≈ 0.94 ratio — hex digits
        // (4 bits/char) deflate too close to short-prose territory.
        // Spark's base64 is MIME-chunked (\r\n every 76 chars); strip
        // the breaks to match DuckDB's unchunked form byte-for-byte.
        .otherwise(regexp_replace(base64(concat((0 to 7).map(j =>
          unhex(md5((col("id") + j * 1000).cast("string")
            .cast("binary")))): _*)), "[\\r\\n]", ""))
        .as("text"))
    graft.operators.TextScore
      .compressionRatio(corpus.unionAll(planted), "doc_id", "text")
      .filter(col("doc_id") >= 900000000L)
      .select("doc_id", "n_bytes", "too_repetitive", "too_random")
  }

  /** Quality-aware near-dup removal: keep the LONGEST copy of each
    * near-dup cluster (rows-only driver check; survivor rule spec-tested
    * in DedupSpec). Returns per-lang survivor counts. */
  val minhashKeepBest: Q = (s, d) =>
    Dedup.minhashDedupKeepBest(Tables.documents(s, d), "doc_id", "text",
        qualityCol = "n_chars",
        threshold = DedupQueries.MinhashSurvivorThreshold)
      .groupBy("lang").agg(count(lit(1)).as("n_survivors"))

  /** Multimodal transform plumbing under the driver oracle (E40): the
    * resize and frame-sample stubs are deterministic byte arithmetic, so
    * their output SIZES hash-match a pure-SQL oracle — proving the
    * per-partition transform pipeline (schema, batching, modality
    * routing) end-to-end, not just in specs. */
  val multimodalTransform: Q = (s, d) => {
    import s.implicits._
    // ONE scan: both transforms evaluate per row in a single pass — no
    // second read of the table, no self-join exchange
    graft.operators.Multimodal.documentsAsMedia(s, d)
      .map { m =>
        (m.media_id, m.modality,
          graft.operators.Multimodal.resizeRow(m, 320, 240)
            .payload.length.toLong,
          graft.operators.Multimodal.frameSampleRow(m, 2, 64)
            .payload.length.toLong)
      }
      .toDF("media_id", "modality", "resized_bytes", "sampled_bytes")
  }

  /** One-pass numeric column profile of lineitem (data-quality triage). */
  val profileLineitem: Q = (s, d) =>
    graft.operators.Profile.numeric(Tables.lineitem(s, d),
      Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"))

  /** Categorical profile (round 4): top-3 most frequent values per
    * string column — the other half of data-quality triage; ranked on
    * the TopKPerGroup operator, deterministic under count ties. */
  val profileCategorical: Q = (s, d) =>
    graft.operators.Profile.categorical(Tables.documents(s, d),
      Seq("lang", "source"), k = 3)

  /** Candidate-key profile ([[graft.operators.Profile.keyProfile]],
    * r14): which orders columns identify a row — one unpivoted shuffle
    * for every column's exact distinct/null counts instead of |cols|
    * COUNT(DISTINCT) scans. o_orderkey must flag as the key. */
  val keyProfileOrders: Q = (s, d) =>
    graft.operators.Profile.keyProfile(Tables.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice",
        "o_orderdate"))

  /** Approximate-FD audit ([[graft.operators.Profile.fdViolations]],
    * r14): does customer determine order priority (it must not — the
    * g3 violation mass is the gate payload), the data-contract check
    * run before trusting an inferred dependency. */
  val fdCustPriority: Q = (s, d) =>
    graft.operators.Profile.fdViolations(Tables.orders(s, d),
      Seq("o_custkey"), "o_orderpriority")

  /** Cluster-exact near-dup removal: one survivor per TRANSITIVE
    * duplicate component (min-label propagation over the LSH pair graph;
    * rows-only — ComponentsSpec carries the BFS reference oracle). */
  val minhashTransitive: Q = (s, d) =>
    Dedup.minhashDedupTransitive(Tables.documents(s, d), "doc_id", "text",
        threshold = DedupQueries.MinhashSurvivorThreshold)
      .groupBy("lang").agg(count(lit(1)).as("n_survivors"))

  /** The FULL training-data chain as ONE composed flow (round-13
    * verdict #3: per-stage gates can't catch cross-stage schema or
    * contract drift): corpus build (quality gate) → exact dedup →
    * exact-Jaccard near-dup (greedy smaller-id-wins) → benchmark
    * decontam → language mixing (dyadic weights ⇒ exact quotas) →
    * sequence packing → shard assignment → manifest digest. The gate
    * output is the final MANIFEST (bucket, n_rows, digest): any drift
    * at any stage — a doc wrongly kept/dropped, a chunk boundary off
    * by one, a shard flip — changes a digest.
    *
    * Every stage is the REAL registered operator (Dedup.exactByContent,
    * SetSimJoin.joinByJaccard, Decontam.overlapHashed,
    * Mixing.sampleToWeights, Packing.packBySize, Shards.assign,
    * ManifestDigest.manifest). Near-dup uses the EXACT prefix-filtered
    * Jaccard tier (not MinHash) so the whole chain stays
    * DuckDB-reproducible. Text bytes are consumed at the scans (content
    * hash, shingles, n-gram hashes); every inter-stage join carries ids
    * + metadata only.
    *
    * 100 TB shape: each stage is the drilled operator at its drilled
    * shape — the composition adds only id-keyed semi/anti joins. */
  private[graft] case class CorpusStages(quality: DataFrame,
    s2: DataFrame, ndPairs: DataFrame, s3: DataFrame,
    contaminated: DataFrame, s4: DataFrame, s5: DataFrame)

  /** The shared S1–S5 stage chain of [[corpusEnd2EndFrom]] and
    * [[corpusDropLedgerFrom]] — ONE definition so the manifest gate
    * and the provenance ledger can never disagree about what a stage
    * dropped. */
  /** The S1 quality gate of the corpus chain — ONE definition shared
    * by the batch chain ([[corpusStages]]) and the incremental path
    * ([[corpusIncremental]]), so the two can never drift on a
    * sub-rule. */
  private[graft] def qualityGate(docs: DataFrame): DataFrame = docs
    .filter(col("lang").isin("en", "de", "fr"))
    .withColumn("n_tokens", size(split(col("text"), " ")))
    .filter(col("n_tokens").between(20, 1000))
    .filter(length(col("text")).cast("double") / col("n_tokens") < 12)
    .select("doc_id", "lang", "n_tokens", "text")

  private def corpusStages(docs: DataFrame,
      pairs: Option[DataFrame]): CorpusStages = {
    import graft.operators.{Mixing, SetSimJoin}
    val quality = qualityGate(docs)
    val keepExact = Dedup.exactByContent(quality, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val s2 = quality.join(keepExact, "doc_id")
    val ndPairs = pairs match {
      case Some(p) => p.select("id1", "id2")
        .join(s2.select(col("doc_id").as("id1")), Seq("id1"), "left_semi")
      case None => SetSimJoin.joinByJaccard(
        s2.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("tk")),
        "doc_id", "tk", minJaccard = 0.6)
    }
    val s3 = s2.join(ndPairs.select(col("id2").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val contaminated = Decontam.overlapHashed(
        s3.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5),
        "doc_id", "text", n = 5)
      .select("doc_id")
    val s4 = s3.filter(col("doc_id") >= 5)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val mixed = Mixing.sampleToWeights(s4, "lang", "doc_id",
      weights = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25),
      budget = 120)
    val s5 = s4.select("doc_id", "lang", "n_tokens")
      .join(mixed.select("doc_id"), Seq("doc_id"))
    CorpusStages(quality, s2, ndPairs, s3, contaminated, s4, s5)
  }

  private[graft] def corpusEnd2EndFrom(docs: DataFrame,
      pairs: Option[DataFrame] = None): DataFrame = {
    // S1 quality → S2 exact dedup (min id per digest) → S3 exact
    // 3-shingle Jaccard near-dup at J >= 0.6 (greedy smaller-id;
    // `pairs`, when supplied, is the PERSISTED exact-Jaccard pair
    // artifact — on the exact tier, artifact pairs restricted to S2
    // survivors ARE joinByJaccard(s2)'s output, so consuming it is a
    // plan change only: the 100 TB posture) → S4 benchmark decontam
    // (bench docs id < 5 leave and take every 5-gram-sharing doc) →
    // S5 language mixing (dyadic weights ⇒ exact quotas): the shared
    // [[corpusStages]] chain, also consumed by the drop ledger
    val st = corpusStages(docs, pairs)
    corpusFinish(st.s4.select("doc_id", "lang", "n_tokens"))
  }

  /** S5–S8 metadata finish (mixing → packing → shards → manifest) over
    * an S4 survivor metadata frame (doc_id, lang, n_tokens) — ONE
    * definition shared by the batch chain and [[corpusIncremental]].
    * These stages are global by nature (quota mixing and capacity
    * packing are not prefix-stable under appends), but they carry ids
    * + metadata only — at 100 TB this is the cheap corpus-sized tail
    * after the text-consuming stages ran delta-sized. */
  private[graft] def corpusFinish(s4meta: DataFrame): DataFrame = {
    import graft.operators.{ManifestDigest, Mixing, Packing, Shards}
    val mixed = Mixing.sampleToWeights(s4meta, "lang", "doc_id",
      weights = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25),
      budget = 120)
    val s5 = s4meta.join(mixed.select("doc_id"), Seq("doc_id"))
    // S6: per-language sequence packing into 256-token chunks
    val packed = Packing.packBySize(s5, partCols = Seq("lang"),
      orderCol = "doc_id", sizeCol = "n_tokens", capacity = 256)
    // S7: shard assignment (salted-hash shard + shuffle key)
    val sharded = Shards.assign(packed, "doc_id", numShards = 8)
    // S8: the corpus manifest — the artifact a training run consumes
    ManifestDigest.manifest(sharded, "doc_id",
      Seq("lang", "n_tokens", "chunk_id", "shard"), buckets = 16)
  }

  /** Per-doc drop PROVENANCE for the [[corpusEnd2EndFrom]] chain — the
    * governance audit a training-data review asks first: "why is doc
    * X not in the corpus, and which doc displaced it". One row per
    * dropped doc at its FIRST dropping stage, with the displacing
    * culprit where one exists (the kept exact-duplicate, the
    * smaller-id near-duplicate); quality drops name the failed
    * sub-rule. Derived from the SAME [[corpusStages]] frames the
    * manifest gate hashes, so ledger and manifest cannot disagree.
    *
    * 100 TB shape: each stage set is the drilled operator's output;
    * the ledger adds only id-keyed anti-joins and per-digest/per-id
    * min aggregates (ids + reasons on every shuffle). */
  private[graft] def corpusDropLedgerFrom(docs: DataFrame,
      pairs: Option[DataFrame] = None): DataFrame = {
    val st = corpusStages(docs, pairs)
    val ids = docs.select(col("doc_id"), col("lang"), col("text"))
    def row(stage: String, reason: org.apache.spark.sql.Column,
        culprit: org.apache.spark.sql.Column)(d: DataFrame) =
      d.select(col("doc_id"), lit(stage).as("stage"),
        reason.as("reason"), culprit.cast("long").as("culprit_id"))
    // S1: name the first failed sub-rule (the filter order)
    val nTok = size(split(col("text"), " "))
    val qReason = when(not(coalesce(col("lang").isin("en", "de", "fr"),
        lit(false))), "lang_filtered")
      .when(not(coalesce(nTok.between(20, 1000), lit(false))),
        "token_count")
      .otherwise("chars_per_token")
    val s1Drops = row("s1_quality", qReason, lit(null))(
      ids.join(st.quality.select("doc_id"), Seq("doc_id"), "left_anti"))
    // S2: dropped exact duplicates point at the kept min-id twin
    val digests = st.quality
      .select(col("doc_id"), sha2(col("text"), 256).as("__d"))
    val keepers = digests.groupBy(col("__d"))
      .agg(min(col("doc_id")).as("__keep"))
    val s2Drops = row("s2_exact_dup", lit("exact_duplicate"),
      col("__keep"))(
      digests.join(st.s2.select("doc_id"), Seq("doc_id"), "left_anti")
        .join(keepers, Seq("__d")))
    // S3: near-duplicates point at their smallest-id culprit
    // the persisted pair artifact can carry id2s already dropped at
    // S1/S2 — the first-dropping-stage discipline keeps only S2
    // survivors here (matching exactly what S3 removed)
    val s3Drops = row("s3_near_dup", lit("jaccard_near_duplicate"),
      col("__c"))(
      st.ndPairs.groupBy(col("id2").as("doc_id"))
        .agg(min(col("id1")).as("__c"))
        .join(st.s2.select("doc_id"), Seq("doc_id"), "left_semi"))
    // S4: bench docs leave by design; contaminated docs cite no single
    // culprit (any shared 5-gram suffices)
    val s4Bench = row("s4_decontam", lit("benchmark_doc"), lit(null))(
      st.s3.filter(col("doc_id") < 5).select("doc_id"))
    val s4Cont = row("s4_decontam", lit("contaminated"), lit(null))(
      st.contaminated)
    // S5: quota cut — present in s4, not sampled
    val s5Drops = row("s5_mix_quota", lit("quota_cut"), lit(null))(
      st.s4.select("doc_id")
        .join(st.s5.select("doc_id"), Seq("doc_id"), "left_anti"))
    s1Drops.unionAll(s2Drops).unionAll(s3Drops).unionAll(s4Bench)
      .unionAll(s4Cont).unionAll(s5Drops)
  }

  val corpusEnd2End: Q = (s, d) =>
    corpusEnd2EndFrom(Tables.documents(s, d),
      pairs = Some(DedupQueries.verifiedPairs(s, d)))

  val corpusDropLedger: Q = (s, d) =>
    corpusDropLedgerFrom(Tables.documents(s, d),
      pairs = Some(DedupQueries.verifiedPairs(s, d)))

  private def canonical(d: String): String =
    new java.io.File(d).getCanonicalPath

  /** A corpus-state [[Artifacts.cached]] directory keyed by `keyParts`
    * and fingerprinted by the corpus doc ids. */
  private def corpusArtifact(docs: DataFrame, keyParts: String*)
      (build: java.nio.file.Path => Unit): java.nio.file.Path =
    Artifacts.cached(Artifacts.cacheDir, Artifacts.key(keyParts: _*),
      Artifacts.idFingerprint(docs, "doc_id"))(build)

  /** Day-1 at-rest artifacts of the incremental corpus chain (r13
    * verdict #4), persisted under [[graft.sources.Artifacts.cacheDir]]
    * with the verifiedPairs build-once/fingerprint discipline:
    *
    *  - `s4meta`    — day-1 S4 survivor metadata (doc_id, lang,
    *                  n_tokens): the corpus state a daily run appends to
    *  - `digests`   — sha256 content digests of day-1 QUALITY docs
    *                  (the exact-dedup membership probe)
    *  - `sigindex`  — [[graft.operators.IncrementalDedup]] MinHash
    *                  signature index over day-1 S2 survivors (ALL
    *                  post-exact-dedup docs, not post-near-dup: the
    *                  greedy rule dooms a doc via pairs with already-
    *                  doomed smaller-id docs too)
    *  - `benchgrams` — distinct 5-gram hashes of the benchmark docs
    *                  (static decontam probe set)
    *
    * Day-1 near-dup runs the SAME estimated tier the day-2 probe uses
    * ([[graft.operators.Dedup.minhashLsh]] at the chain's J >= 0.6).
    * On this corpus the estimated and exact tiers agree exactly —
    * every true pair sits at J >= 0.9 where 8-band/32-hash collision
    * and estimation are both >= 6 sigma from the 0.6 threshold
    * (measured, PERF.md r14 dedup table) — which is what makes the
    * from-scratch DuckDB oracle (exact Jaccard) a valid replay of the
    * estimated path. */
  private def corpusIncrementalArtifacts(s: SparkSession, d: String,
      cut: Long): java.nio.file.Path = {
    import graft.operators.{Dedup, IncrementalDedup}
    val docs = Tables.documents(s, d)
    // v2 (r15): also persists qmeta (per-doc quality metadata +
    // digest) and s3ids — the membership frames a RETRACTION against
    // this at-rest state needs (keeper re-election is digest-local
    // only with the per-doc mapping)
    corpusArtifact(docs, "corpus-incr", canonical(d), s"cut=$cut", "j=0.6",
        "h=32b8", "v2") { dir =>
      val day1 = docs.filter(col("doc_id") < cut)
      val q1 = qualityGate(day1).cache()
      val keep1 = Dedup.exactByContent(q1, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val s2 = q1.join(keep1, Seq("doc_id"), "left_semi")
      val doomed1 = Dedup.minhashLsh(s2, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.6)
        .select(col("b").as("doc_id")).distinct()
      val s3 = s2.join(doomed1, Seq("doc_id"), "left_anti")
      val benchGrams = day1.filter(col("doc_id") < 5)
        .select(explode(graft.functions.GraftFunctions
          .ngramHashes(lower(col("text")), 5)).as("ngh"))
        .distinct()
      val cont1 = s3.filter(col("doc_id") >= 5)
        .select(col("doc_id"), explode(graft.functions.GraftFunctions
          .ngramHashes(lower(col("text")), 5)).as("ngh"))
        .join(benchGrams, Seq("ngh"), "left_semi")
        .select("doc_id").distinct()
      val s4 = s3.filter(col("doc_id") >= 5)
        .join(cont1, Seq("doc_id"), "left_anti")
      s4.select("doc_id", "lang", "n_tokens").write.mode("overwrite")
        .parquet(dir.resolve("s4meta").toString)
      q1.select(sha2(col("text"), 256).as("digest")).distinct()
        .write.mode("overwrite").parquet(dir.resolve("digests").toString)
      q1.select(col("doc_id"), col("lang"), col("n_tokens"),
          sha2(col("text"), 256).as("digest"))
        .write.mode("overwrite").parquet(dir.resolve("qmeta").toString)
      s3.select("doc_id").write.mode("overwrite")
        .parquet(dir.resolve("s3ids").toString)
      IncrementalDedup.writeIndex(
        IncrementalDedup.signatures(s2, "doc_id", "text"),
        dir.resolve("sigindex").toString)
      benchGrams.write.mode("overwrite")
        .parquet(dir.resolve("benchgrams").toString)
      q1.unpersist()
    }
  }

  /** The day-1/day-2 id cut of the incremental gate: the last third of
    * the id range is "today's" delta — ids only ever append in a daily
    * corpus, which is exactly what makes the incremental survivor
    * rules equal the batch ones (a smaller-id day-1 doc always wins
    * every duplicate contest against a delta doc, never the reverse). */
  private def incrementalCut(docs: DataFrame): Long =
    docs.agg(max(col("doc_id")).cast("long")).head().getLong(0) * 2 / 3 + 1

  /** Incremental (daily-ingest) form of [[corpusEnd2End]] (r13 verdict
    * #4): day-1 corpus at rest as persisted artifacts, day-2 delta
    * processed against them — quality scan, digest probe, signature-
    * index near-dup verdicts and bench-gram decontam all touch ONLY
    * delta text (batch-cost ∝ delta; the artifacts contribute membership
    * probes) — then the metadata-only [[corpusFinish]] recomputes
    * mixing/packing/shards globally (quota mixing and capacity packing
    * are not prefix-stable, and they carry no text). The gate output is
    * the SAME manifest schema as q_corpus_end2end, and the DuckDB
    * oracle replays the chain FROM SCRATCH on day-1 + day-2 — manifest
    * equality is the cross-stage IVM contract no per-operator gate can
    * express. */
  val corpusIncremental: Q = (s, d) => {
    val (s4day1, s4delta) = corpusIncrementalParts(s, d)
    // r17 optimization: the finish stages fan the S4 input out into
    // ~10 references and each gets fresh exprIds, so ReuseExchange
    // can never dedup them — the delta's probe DAG (quality → digest
    // anti-join → signature-index probe → decontam) re-executed per
    // reference (344-exchange plan, plans/r17). Materializing the
    // DELTA side once truncates the plan; it is delta-sized by the
    // ingest contract (the at-rest side is already a flat parquet
    // read, duplicating that scan is cheap).
    corpusFinish(s4day1.unionAll(s4delta.cache()))
  }

  /** (at-rest S4, delta S4) of the incremental gate — split out so the
    * bench phase-attribution can time the live PROBE path (quality +
    * digest + signature-index + decontam over delta text) apart from
    * the global metadata finish (r15 verdict "what's wrong" #3). */
  private[graft] def corpusIncrementalParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import graft.operators.IncrementalDedup
    val docs = Tables.documents(s, d)
    val cut = incrementalCut(docs)
    val art = corpusIncrementalArtifacts(s, d, cut)
    // always serve from the artifacts so the plan is identical on
    // build-miss and cache-hit runs (the verifiedPairs discipline)
    val s4day1 = s.read.parquet(art.resolve("s4meta").toString)
    val digests1 = s.read.parquet(art.resolve("digests").toString)
    val sigIndex = IncrementalDedup.readIndex(s,
      art.resolve("sigindex").toString)
    val benchGrams = s.read.parquet(art.resolve("benchgrams").toString)

    // day-2: every text-consuming stage is delta-sized
    val delta = docs.filter(col("doc_id") >= cut)
    val d2 = corpusIngestDelta(delta, digests1,
      s2 => IncrementalDedup.verdicts(sigIndex, s2, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.6),
      benchGrams)
    (s4day1, d2.s4)
  }

  /** ONE daily-ingest step against at-rest membership artifacts — the
    * shared delta recipe of [[corpusIncremental]] (day-2) and
    * [[corpusDay3]] (day-3 against COMPACTED day-1+2 artifacts), so a
    * chain rule can never drift between the daily forms. Every
    * text-consuming stage is delta-sized:
    *
    *  - exact dedup: drop content already at rest (digest probe),
    *    keep min id within the delta (global min-id per digest under
    *    id-append: at-rest ids are always smaller)
    *  - near-dup: `verdictsOf` (signature-index probe at the chain's
    *    threshold) — dup of ANY at-rest S2 doc or of a smaller-id
    *    delta sibling: exactly the batch greedy rule under id-append
    *  - decontam: delta grams vs the persisted bench-gram set
    *
    * @return the delta's S4 metadata plus the membership frames
    *         (quality meta+digest, S2, S3) a compaction step merges
    *         into the at-rest artifacts */
  private[graft] final case class IngestDelta(s4: DataFrame,
      qmeta: DataFrame, s2: DataFrame, s3: DataFrame)

  private def corpusIngestDelta(delta: DataFrame, digestsAtRest: DataFrame,
      verdictsOf: DataFrame => DataFrame, benchGrams: DataFrame)
      : IngestDelta = {
    val q = qualityGate(delta).withColumn("__dig", sha2(col("text"), 256))
    val newContent = q.join(digestsAtRest,
      q("__dig") === digestsAtRest("digest"), "left_anti")
    // NOTE (r17 A/B at sf0.1): rewriting the min-per-digest keeper as
    // a window and caching S2/S3 measured SLOWER than this form (18.0
    // vs 16.1 s over the three daily gates) — in-action stage
    // parallelism beats the extra materialization barriers; only the
    // gate-level delta-S4 cache pays. Kept as-is deliberately.
    val s2 = newContent.join(
      newContent.groupBy("__dig").agg(min("doc_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val v = verdictsOf(s2)
    val s3 = s2.join(v.filter(!col("dup_of_index") && !col("dup_in_batch"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    val cont = s3.select(col("doc_id"),
        explode(graft.functions.GraftFunctions
          .ngramHashes(lower(col("text")), 5)).as("ngh"))
      .join(benchGrams, Seq("ngh"), "left_semi")
      .select("doc_id").distinct()
    val s4delta = s3.join(cont, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens")
    IngestDelta(s4delta,
      q.select(col("doc_id"), col("lang"), col("n_tokens"),
        col("__dig").as("digest")),
      s2, s3.select("doc_id"))
  }

  /** Offline artifact build for the incremental gate (the
    * ensureSetsimPairs pattern): Bench calls it before the timed loop
    * so the gate measures the daily-ingest consumption path, with the
    * day-1 build cost reported once on stderr instead of folded into
    * the first timed run. */
  def ensureCorpusIncrementalArtifacts(s: SparkSession, d: String): Unit = {
    val docs = Tables.documents(s, d)
    corpusIncrementalArtifacts(s, d, incrementalCut(docs)); ()
  }

  /** The day-1 signature index artifact + its id cut, for consumers
    * outside the batch chain (the streaming ingest screen): built on
    * first use with the same build-once discipline. */
  private[graft] def corpusIncrementalIndex(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    val cut = incrementalCut(Tables.documents(s, d))
    val art = corpusIncrementalArtifacts(s, d, cut)
    (graft.operators.IncrementalDedup.readIndex(s,
      art.resolve("sigindex").toString), cut)
  }

  /** Day-1+2 COMPACTED artifacts of the three-day incremental gate
    * (r14 verdict #3 — day-365 needs the signature index and digests
    * to stay probe-efficient as they grow): day-1 artifacts come from
    * the [[corpusIncrementalArtifacts]] builder at cut c1, day-2 runs
    * the shared [[corpusIngestDelta]] against them, and compaction
    * merges the results into the at-rest state a day-3 ingest probes:
    *
    *  - `s4meta12`   — day-1 ∪ day-2 S4 survivor metadata
    *  - `digests12`  — merged quality digests (exact-dedup probe)
    *  - `sigs12`     — merged (id, sig) MinHash index (verify side)
    *  - `banded12`   — the index's band hashes computed ONCE and
    *                   stored band-partitioned
    *    ([[graft.operators.IncrementalDedup.writeBandedIndex]]):
    *    each later ingest equi-joins three narrow columns instead of
    *    re-hashing the whole corpus's signatures — the index-side
    *    cost the 32× incr_probe drill showed growing per-ingest
    *  - `benchgrams` — static decontam probe set (day-1's). */
  private def corpusDay3Artifacts(s: SparkSession, d: String,
      c1: Long, c2: Long): java.nio.file.Path = {
    import graft.operators.IncrementalDedup
    val docs = Tables.documents(s, d)
    corpusArtifact(docs, "corpus-day3", canonical(d), s"c1=$c1", s"c2=$c2",
        "j=0.6", "h=32b8", "v2") { dir =>
      val day1 = corpusIncrementalArtifacts(s, d, c1)
      val digests1 = s.read.parquet(day1.resolve("digests").toString)
      val sigs1 = IncrementalDedup.readIndex(s,
        day1.resolve("sigindex").toString)
      val benchGrams = s.read
        .parquet(day1.resolve("benchgrams").toString)
      val day2 = docs.filter(col("doc_id") >= c1 && col("doc_id") < c2)
      val d2 = corpusIngestDelta(day2, digests1,
        s2 => IncrementalDedup.verdicts(sigs1, s2, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.6),
        benchGrams)
      // compaction: merge the day-2 results into the at-rest state
      // (qmeta/s2ids/s3ids ride along so a RETRACTION against this
      // compacted state has its membership frames — the lifecycle
      // gate's input)
      s.read.parquet(day1.resolve("s4meta").toString).unionAll(d2.s4)
        .write.mode("overwrite").parquet(dir.resolve("s4meta12").toString)
      digests1.unionAll(d2.qmeta.select("digest")).distinct()
        .write.mode("overwrite")
        .parquet(dir.resolve("digests12").toString)
      s.read.parquet(day1.resolve("qmeta").toString).unionAll(d2.qmeta)
        .write.mode("overwrite").parquet(dir.resolve("qmeta12").toString)
      s.read.parquet(day1.resolve("s3ids").toString)
        .unionAll(d2.s3)
        .write.mode("overwrite").parquet(dir.resolve("s3ids12").toString)
      val sigs12 = sigs1.unionAll(
        IncrementalDedup.signatures(d2.s2, "doc_id", "text"))
      IncrementalDedup.writeIndex(sigs12, dir.resolve("sigs12").toString)
      IncrementalDedup.writeBandedIndex(
        s.read.parquet(dir.resolve("sigs12").toString),
        dir.resolve("banded12").toString)
      benchGrams.write.mode("overwrite")
        .parquet(dir.resolve("benchgrams").toString)
    }
  }

  private def day3Cuts(docs: DataFrame): (Long, Long) = {
    val mx = docs.agg(max(col("doc_id")).cast("long")).head().getLong(0)
    (mx / 3 + 1, mx * 2 / 3 + 1)
  }

  def ensureCorpusDay3Artifacts(s: SparkSession, d: String): Unit = {
    val (c1, c2) = day3Cuts(Tables.documents(s, d))
    corpusDay3Artifacts(s, d, c1, c2); ()
  }

  /** Three-day incremental corpus gate (r14 verdict #3): day-3 delta
    * ingested against the COMPACTED day-1+2 artifacts — digest probe,
    * PRE-BANDED signature-index verdicts
    * ([[graft.operators.IncrementalDedup.verdictsBanded]] — no
    * re-hashing of the at-rest index), bench-gram decontam — then the
    * metadata-only global finish. Hash-equal to the SAME from-scratch
    * oracle as q_corpus_end2end: compaction must be semantically
    * invisible, only cheaper. */
  val corpusDay3: Q = (s, d) => {
    val (s4meta12, s4delta) = corpusDay3Parts(s, d)
    // delta-side materialization — same rationale as corpusIncremental
    // (416-exchange plan from finish fan-out, plans/r17)
    corpusFinish(s4meta12.unionAll(s4delta.cache()))
  }

  /** (at-rest S4, delta S4) of the day-3 gate — bench phase split. */
  private[graft] def corpusDay3Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import graft.operators.IncrementalDedup
    val docs = Tables.documents(s, d)
    val (c1, c2) = day3Cuts(docs)
    val art = corpusDay3Artifacts(s, d, c1, c2)
    val s4meta12 = s.read.parquet(art.resolve("s4meta12").toString)
    val digests12 = s.read.parquet(art.resolve("digests12").toString)
    val sigs12 = IncrementalDedup.readIndex(s,
      art.resolve("sigs12").toString)
    val banded12 = IncrementalDedup.readBandedIndex(s,
      art.resolve("banded12").toString)
    val benchGrams = s.read.parquet(art.resolve("benchgrams").toString)
    val delta3 = docs.filter(col("doc_id") >= c2)
    val d3 = corpusIngestDelta(delta3, digests12,
      s2 => IncrementalDedup.verdictsBanded(banded12, sigs12, s2,
        "doc_id", "text", numHashes = 32, bands = 8, threshold = 0.6),
      benchGrams)
    (s4meta12, d3.s4)
  }

  /** At-rest artifacts of the retraction gate (r14 verdict #1) —
    * the corpus state a takedown request mutates, persisted once per
    * corpus with the build-once/fingerprint discipline:
    *
    *  - `qmeta`   — quality survivors WITH their content digest
    *                (doc_id, lang, n_tokens, digest): the digest per
    *                doc (not just the distinct set) is what makes
    *                exact-dedup keeper RE-ELECTION a digest-local
    *                lookup when a keeper is retracted
    *  - `s2ids` / `s3ids` — survivor id sets of the exact-dedup and
    *                near-dup stages: the memberships whose delta the
    *                retraction propagates
    *  - `s4meta`  — the post-decontam survivor metadata the manifest
    *                stages consume
    *  - `benchgrams` — the static decontam probe set (identical
    *                build to the incremental artifacts')
    *
    * The near-dup pair graph is NOT duplicated here — the retraction
    * probes the same [[DedupQueries.verifiedPairs]] artifact the batch
    * chain consumes, which covers ALL corpus pairs (so pairs whose
    * smaller side was dropped years ago still resurrect their victims
    * correctly). Built via [[corpusStages]] on the SAME pairs artifact,
    * so artifact state and batch chain can never drift. */
  private def corpusRetractArtifacts(s: SparkSession, d: String)
      : java.nio.file.Path = {
    val docs = Tables.documents(s, d)
    // v2 (r16): also persists the band-partitioned S2 signature index —
    // the amendment's fresh-pair candidate probe (delta-sized, vs a
    // full corpus text scan)
    corpusArtifact(docs, "corpus-retract", canonical(d), "j=0.6", "h=32b8",
        "v2") { dir =>
      val st = corpusStages(docs, Some(DedupQueries.verifiedPairs(s, d)))
      st.quality
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          sha2(col("text"), 256).as("digest"))
        .write.mode("overwrite").parquet(dir.resolve("qmeta").toString)
      st.s2.select("doc_id").write.mode("overwrite")
        .parquet(dir.resolve("s2ids").toString)
      st.s3.select("doc_id").write.mode("overwrite")
        .parquet(dir.resolve("s3ids").toString)
      st.s4.select("doc_id", "lang", "n_tokens").write.mode("overwrite")
        .parquet(dir.resolve("s4meta").toString)
      docs.filter(col("doc_id") < 5)
        .select(explode(graft.functions.GraftFunctions
          .ngramHashes(lower(col("text")), 5)).as("ngh"))
        .distinct()
        .write.mode("overwrite")
        .parquet(dir.resolve("benchgrams").toString)
      import graft.operators.IncrementalDedup
      IncrementalDedup.writeIndex(
        IncrementalDedup.signatures(st.s2, "doc_id", "text"),
        dir.resolve("sigindex").toString)
      IncrementalDedup.writeBandedIndex(
        s.read.parquet(dir.resolve("sigindex").toString),
        dir.resolve("banded").toString)
    }
  }

  def ensureCorpusRetractArtifacts(s: SparkSession, d: String): Unit = {
    corpusRetractArtifacts(s, d); ()
  }


  /** Deletion/takedown propagation through the corpus chain (r14
    * verdict #1 — at 100 TB you cannot recompute the corpus to forget
    * 100 docs): given a retraction id set, produce the manifest the
    * FROM-SCRATCH chain would build on corpus ∖ retracted, touching
    * only the retraction's blast radius. This is the cross-stage IVM
    * contract under DELETES — strictly harder than the r13/r14 append
    * case because id-append ordering no longer protects the greedy
    * survivor rules: a retracted exact-dup KEEPER must re-elect the
    * next-smallest twin, and a retracted near-dup CULPRIT must
    * resurrect every doc it alone doomed (which then needs a fresh
    * decontam verdict — the one text probe, blast-radius-sized).
    *
    * The delta algebra, stage by stage (all id/hash-keyed):
    *  - S2: digests of retracted S2 keepers re-elect min(remaining
    *    quality twin) — digest-local, no text
    *  - S3: membership changed only at `changedS2` = retracted-S2 ∪
    *    resurrected ids; the docs needing fresh doom verdicts are
    *    exactly the pair-partners of changedS2 (the doom rule "∃ pair
    *    (a, d) with a ∈ S2" depends ONLY on S2 membership, and S3
    *    status never feeds back into dooming — so the cascade stops
    *    after ONE step, there is no transitive re-run)
    *  - S4: per-doc vs the static bench-gram set — only s3 NEWCOMERS
    *    need the text probe; everyone else keeps their verdict
    *  - S5–S8: the metadata-only global [[corpusFinish]] (same as the
    *    incremental gate: mixing/packing are not prefix-stable and
    *    carry no text)
    *
    * Retracting a BENCHMARK doc (doc_id < 5) raises loudly: bench docs
    * define the decontam probe set, so removing one changes every
    * doc's S4 verdict — blast radius = corpus, which is a rebuild, not
    * a retraction. */
  private[graft] def corpusRetractFrom(s: SparkSession, d: String,
      retracted: DataFrame): DataFrame = {
    val (f, benchGrams, pairs) = corpusFramesAtRest(s, d)
    corpusRetractDelta(Tables.documents(s, d), retracted, f.qmeta,
      f.s2ids, f.s3ids, f.s4meta, benchGrams, pairs)
  }

  /** The pure retraction delta over at-rest artifact frames — see
    * [[corpusRetractFrom]] for the stage-by-stage contract; split out
    * so the scale drill can time the propagation against synthetic
    * artifact frames without the parquet round-trip.
    *
    * Execution posture: the blast radius (retraction set, re-elected
    * keepers, fresh-verdict candidates, their pair partners) lives on
    * the DRIVER as bounded id sets — each stage is ONE map-side scan
    * of a corpus-sized artifact probing a broadcast LOCAL relation
    * ([[probe]]; on a graft session the JobFreeLocalBroadcast
    * query-stage rule hands such a broadcast its rows without a job, so
    * the whole delta is ~7 short scans instead of a deep nest of
    * broadcast stages — the nested-DataFrame formulation measured
    * 25–35 s at sf0.1 on pure stage latency, this one ~3 s). Every
    * collect is bounded by `maxBlast` with a loud raise: a takedown
    * whose blast radius approaches the corpus IS a batch rebuild, and
    * pretending otherwise would OOM the driver — the
    * [[graft.operators.Mixing]] bounded-collect contract (see
    * CollectSiteLintSpec). */
  private[graft] def corpusRetractDelta(docs: DataFrame,
      retracted: DataFrame, qmeta: DataFrame, s2ids: DataFrame,
      s3ids: DataFrame, s4meta: DataFrame, benchGrams: DataFrame,
      pairs: DataFrame, maxBlast: Int = 5000000): DataFrame = {
    val st = corpusRetractState(docs, retracted, qmeta, s2ids, s3ids,
      s4meta, benchGrams, pairs, maxBlast)
    // r17 optimization: the finish stages fan their input out ~10×
    // with fresh exprIds (no ReuseExchange) — materialize the
    // DELTA-sized insert side once; s4keep stays a flat parquet
    // anti-join whose duplication is cheap (the corpusIncremental
    // rationale, plans/r17)
    corpusFinish(st.s4keep.unionByName(st.s4new.cache()))
  }

  /** A retraction's [[UpsertState]] — shared by the manifest gate
    * ([[corpusRetractDelta]]) and the change ledger
    * ([[corpusRetractLedgerFrom]]) so the two can never disagree about
    * what a takedown changed. A retraction is the upsert with no
    * payload: no incoming content, so the steal / inserted-keeper
    * machinery is vacuous and the propagation reduces exactly to the
    * r15 retraction rules (CorpusRetractSpec pins every delete class
    * against the from-scratch chain). */
  private[graft] def corpusRetractState(docs: DataFrame,
      retracted: DataFrame, qmeta: DataFrame, s2ids: DataFrame,
      s3ids: DataFrame, s4meta: DataFrame, benchGrams: DataFrame,
      pairs: DataFrame, maxBlast: Int = 5000000): UpsertState =
    corpusUpsertState(docs, retracted, noPayload(docs),
      qmeta, s2ids, s3ids, s4meta, benchGrams, pairs,
      // no incoming content ⇒ the signature index is never consulted
      banded = s2ids.select(col("doc_id").as("id"),
        lit(0).as("band"), xxhash64(col("doc_id")).as("band_hash"))
        .limit(0),
      maxBlast)

  /** The empty upsert payload (doc_id, lang, text) over `docs`' schema:
    * what a retraction carries. */
  private[graft] def noPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("text")).limit(0)

  /** A driver-held set as a one-column broadcast relation named `name`:
    * the map-side probe side of every delta join. On a graft session
    * the [[org.apache.spark.sql.JobFreeLocalBroadcast]] query-stage
    * rule hands the broadcast these rows without a collect job. */
  private[graft] def probe[T: Encoder](s: SparkSession, set: Iterable[T],
      name: String = "doc_id"): DataFrame =
    broadcast(s.createDataset(set.toSeq).toDF(name))

  /** Membership-delta sets of a general corpus UPSERT — old content of
    * `rIds` leaves, new content of `inserted` (⊆ rIds, same doc ids)
    * enters — plus the resulting S4 frames. A retraction leaves the
    * insert-side sets empty. */
  private[graft] final case class UpsertState(rIds: Set[Long],
      inserted: Set[Long], insKeepers: Set[Long], stolen: Set[Long],
      resurrected: Set[Long], doomedNow: Set[Long],
      newcomers: Set[Long], contNew: Set[Long],
      s4keep: DataFrame, s4new: DataFrame,
      freshPairs: Seq[(Long, Long)], reElected: Map[Long, Long])

  /** The generalized corpus state transition (r16, verdict #2): apply
    * `retracted` (ids whose OLD content leaves the corpus) and
    * `amended` (same ids returning with NEW text — re-crawls) to the
    * at-rest membership artifacts in ONE atomic step, so an amendment
    * is ledgered as one event, never a takedown plus a new doc.
    * retract(ids) is the `amended`-empty special case.
    *
    * What the insert side adds over the r15 retraction rules:
    *
    *  - S1: amended text gets a fresh quality verdict (an amendment to
    *    failing text IS a takedown; previously-failing ids can enter)
    *  - S2 keeper contests per touched digest over the UNION universe
    *    (remaining at-rest twins + inserted docs): an inserted doc with
    *    the smaller id STEALS keepership and the displaced at-rest
    *    keeper leaves S2 (its victims re-evaluate); an inserted doc
    *    losing the contest dies at S2
    *  - S3: the amended content's near-dup pairs are computed FRESH —
    *    banded-signature CANDIDATES against the at-rest S2 index (the
    *    delta-sized verdictsBanded posture; candidates for a retracted
    *    keeper remap to its re-elected same-text twin) followed by an
    *    EXACT distinct-trigram-Jaccard verify on the named partners'
    *    text (bounded fetch), so a false candidate costs a text read,
    *    never a wrong verdict, and misses sit ≥ 6σ below threshold on
    *    this corpus (the measured incremental-family contract). OLD
    *    pairs touching an amended id are void on the culprit side
    *    (the content they certified is gone) while still seeding
    *    victim re-evaluation
    *  - S4: amended survivors ALWAYS take a fresh decontam probe on
    *    the new text (prior S3 membership of the id proves nothing)
    *
    * Execution posture unchanged from the retraction: every delta set
    * lives on the driver bounded by `maxBlast` (strings by the tighter
    * 500k cap) with a loud raise, and each stage is a map-side scan of
    * one corpus-sized artifact probing a LOCAL broadcast relation. The
    * one addition is the fresh-pair step: a delta-sized probe of the
    * band-partitioned S2 signature index (`banded`, only consulted
    * when `amended` is non-empty) plus a bounded candidate-text fetch
    * — corpus TEXT is never scanned. */
  private[graft] def corpusUpsertState(docs: DataFrame,
      retracted: DataFrame, amended: DataFrame, qmeta: DataFrame,
      s2ids: DataFrame, s3ids: DataFrame, s4meta: DataFrame,
      benchGrams: DataFrame, pairs: DataFrame, banded: DataFrame,
      maxBlast: Int = 5000000): UpsertState = {
    val s = docs.sparkSession
    import s.implicits._
    def boundedAt[T](df: DataFrame, what: String, cap: Int)(
        row: org.apache.spark.sql.Row => T): Seq[T] = {
      val rows = df.limit(cap + 1).collect()
      require(rows.length <= cap,
        s"corpusUpsert: $what beyond $cap ids — a takedown/amendment " +
          "with corpus-scale blast radius is a batch rebuild, not a " +
          "delta (or raise maxBlast)")
      rows.toSeq.map(row)
    }
    def bounded[T](df: DataFrame, what: String)(
        row: org.apache.spark.sql.Row => T): Seq[T] =
      boundedAt(df, what, maxBlast)(row)
    // the digest-carrying collects hold 64-char strings inside Row
    // boxes (~200 B/row on the driver heap), so the row-count cap that
    // is safe for id-only collects (8 B longs) would let them reach
    // several GB before the require fires — bound them tighter so the
    // contract stays "loud raise", never an OOM racing the raise
    // (500k rows ≈ 100 MB driver heap, far below any sane -Xmx)
    val maxStrBlast = math.min(maxBlast, 500000)
    def boundedStr[T](df: DataFrame, what: String)(
        row: org.apache.spark.sql.Row => T): Seq[T] =
      boundedAt(df, what, maxStrBlast)(row)
    def ids(df: DataFrame, what: String): Set[Long] =
      bounded(df, what)(_.getLong(0)).toSet

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // r18 (guide §2.6): the retraction-set collect and the incoming
    // content's quality probe are independent — overlap them (the
    // requires that relate them run after both complete)
    val rIdsF = Future { ids(retracted, "retraction set") }

    // S1 of the incoming content: amended text that fails quality IS a
    // takedown (the id leaves and nothing re-enters)
    val aq = qualityGate(amended).cache()
    val aqRows = boundedStr(
      aq.select(col("doc_id"), sha2(col("text"), 256)),
      "amended quality rows")(r => (r.getLong(0), r.getString(1)))
    val inserted = aqRows.map(_._1).toSet
    val rIds = Await.result(rIdsF, Duration.Inf)
    require(!rIds.exists(_ < 5),
      "corpusUpsert: touching a benchmark doc (doc_id < 5) " +
        "invalidates the decontam probe set for the WHOLE corpus — " +
        "that is a rebuild, not a delta")
    require(inserted.subsetOf(rIds),
      "corpusUpsert: every amended id must also be named in the " +
        "retraction set (old content leaves before new content enters)")
    // r17 optimization (guide §2.6): the fresh-pair CANDIDATE probe
    // (new signatures vs the band-partitioned at-rest index) depends
    // only on the incoming content — launch it now so it overlaps the
    // S2 keeper-contest probes below; the remap/verify steps that need
    // the contest's outcome await it afterwards. (The future is
    // created before the contest block and joined inside newPairs —
    // same bounded collect, same raise.)
    val candsF: Option[scala.concurrent.Future[Seq[(Long, Long, Boolean)]]] =
      if (inserted.isEmpty) None
      else Some(scala.concurrent.Future {
        bounded(graft.operators.IncrementalDedup.candidatePairs(banded,
          aq, "doc_id", "text", numHashes = 32, bands = 8,
          maxRows = maxBlast),
          "amendment candidate pairs")(
          r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      }(scala.concurrent.ExecutionContext.Implicits.global))
    // if a raise below aborts this call before newPairs awaits the
    // future, its own failure (including a blast-radius raise) must not
    // be silently swallowed on the daemon pool
    candsF.foreach(_.failed.foreach(e => System.err.println(
      s"[corpusUpsert] candidate-pair probe failed: ${e.getMessage}"))(
      scala.concurrent.ExecutionContext.Implicits.global))

    // S2 delta: keeper contests per touched digest group. Touched =
    // groups that lost their keeper (retraction) ∪ groups an inserted
    // digest lands in. Candidates = remaining at-rest members +
    // inserted members; keeper = min id. Flips:
    //  - keeper inserted, at-rest keeper present  → STEAL (m leaves S2)
    //  - keeper inserted, group new/keeper-lost   → plain S2 entrant
    //  - keeper at-rest, not currently in S2      → re-election
    //  - keeper at-rest, already in S2            → no flip (losing
    //    inserted members just die at S2)
    // r17 optimization (guide §2.6), r17-verdict #1 fix: the membership
    // probe depends only on rIds and runs concurrent with candsF above;
    // the qmeta digest fetch is CHAINED off its result so it collects
    // rows for removedS2 only (≤ |rIds ∩ S2|) — probing it by all of
    // rIds put a 5M-id retraction with few S2 members over the tighter
    // maxStrBlast cap, a ~10× silent narrowing of the accepted-delta
    // contract that the sequential pre-r17 form did not have.
    val removedS2F = Future { ids(s2ids.join(probe(s, rIds),
      Seq("doc_id"), "left_semi"), "retracted survivors") }
    val lostKeepersF = removedS2F.map { removedS2 => boundedStr(
      qmeta.join(probe(s, removedS2), Seq("doc_id"), "left_semi")
        .select("digest", "doc_id"), "touched digests")(
      r => (r.getString(0), r.getLong(1))) }
    val removedS2 = Await.result(removedS2F, Duration.Inf)
    val lostKeepers = Await.result(lostKeepersF, Duration.Inf)
    val oldKeeperByDigest = lostKeepers.toMap
    val touchedDigests =
      (lostKeepers.map(_._1) ++ aqRows.map(_._2)).distinct
    val atRestCand = boundedStr(
      qmeta.join(probe(s, touchedDigests, "digest"),
          Seq("digest"), "left_semi")
        .select("digest", "doc_id"), "re-election candidates")(
        r => (r.getString(0), r.getLong(1)))
      .filter { case (_, id) => !rIds(id) }
    val candS2 = ids(s2ids.join(probe(s, atRestCand.map(_._2)),
      Seq("doc_id"), "left_semi"), "candidate S2 membership")
    val byDigest = (atRestCand.map { case (g, id) => (g, (id, false)) }
        ++ aqRows.map { case (id, g) => (g, (id, true)) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var resurrected = Set.empty[Long]
    var insKeepers = Set.empty[Long]
    var stolen = Set.empty[Long]
    // old retracted keeper -> its same-text re-elected AT-REST twin
    // (the identity a banded-index candidate against the dead keeper's
    // signature must remap to)
    var reElected = Map.empty[Long, Long]
    byDigest.foreach { case (g, members) =>
      val keeper = members.map(_._1).min
      val keeperIns = members.exists { case (id, ins) => ins && id == keeper }
      val prev = members.collectFirst { case (id, false) if candS2(id) => id }
      if (keeperIns) {
        insKeepers += keeper
        prev.foreach(m => stolen += m)
      } else if (!candS2(keeper)) {
        resurrected += keeper
        oldKeeperByDigest.get(g).foreach(k => reElected += (k -> keeper))
      }
    }

    // r18 (guide §2.6): the old-pairs partner fetch below depends only
    // on the contest's outcome (changedS2), not on the fresh pairs —
    // launch it now so it overlaps the fresh-pair candidate await and
    // bounded text verify (same collect, same cap, same raise)
    val changedS2 = removedS2 ++ stolen ++ resurrected ++ insKeepers
    val candPartnersF = Future { bounded(
      pairs.join(probe(s, changedS2, "id1"), Seq("id1"), "left_semi")
        .select(col("id2").as("doc_id")), "pair partners")(_.getLong(0)) }

    // fresh pair graph of the NEW content — candidates then verify:
    // the amended docs' NEW signatures probe the band-partitioned
    // at-rest S2 index (delta-sized, the verdictsBanded posture) plus
    // amended-internal band collisions; each candidate pair is then
    // EXACT-verified on distinct-trigram Jaccard over a bounded text
    // fetch of the named partners. Corpus text is never scanned, and
    // the banded tier can only MISS (true pairs sit ≥ 6σ above the
    // collision threshold on this corpus — the measured incremental-
    // family contract); a false candidate costs one text read, never
    // a wrong verdict.
    val newPairs: Seq[(Long, Long)] =
      if (inserted.isEmpty) Seq.empty
      else {
        val cands = Await.result(candsF.get, Duration.Inf)
        // an INDEX-side candidate naming a retracted keeper (its
        // signature is still the at-rest index's) remaps to the
        // same-text re-elected twin that replaces it in S2'; other
        // retracted index partners are void. A BATCH-sibling partner
        // names the batch's NEW content — its id being in rIds is the
        // point, never a reason to drop the pair (the r16 masked-bug
        // class: an amended-amended pair must survive this step).
        val remapped = cands.flatMap { case (a, o, vsIndex) =>
          if (!vsIndex || !rIds(o)) Some((a, o))
          else reElected.get(o).map(t => (a, t))
        }.map { case (a, o) => (math.min(a, o), math.max(a, o)) }.distinct
        if (remapped.isEmpty) Seq.empty
        else {
          val atRestIds = remapped.flatMap { case (x, y) =>
            Seq(x, y).filterNot(inserted) }.distinct
          val sh = DedupQueries.shingled(
              docs.join(probe(s, atRestIds), Seq("doc_id"), "left_semi")
                .select(col("doc_id"), col("text"))
                .unionAll(aq.select(col("doc_id"), col("text"))), "sh")
            .select(col("doc_id"), array_distinct(col("sh")).as("tk"))
          bounded(remapped.toDF("id1", "id2")
            .join(sh.select(col("doc_id").as("id1"),
              col("tk").as("tk1")), "id1")
            .join(sh.select(col("doc_id").as("id2"),
              col("tk").as("tk2")), "id2")
            .withColumn("__ov",
              size(array_intersect(col("tk1"), col("tk2"))))
            // same IEEE boundary form as the from-scratch oracle's
            // neardup CTE: ov * 1.0 / (n1 + n2 - ov) >= 0.6
            .filter(col("__ov") * lit(1.0) /
              (size(col("tk1")) + size(col("tk2")) - col("__ov")) >= 0.6)
            .select(col("id1"), col("id2")), "amended near-dup pairs")(
            r => (r.getLong(0), r.getLong(1)))
        }
      }

    // S3 delta: fresh verdicts for pair-partners of flipped S2 ids.
    // Victim-finding reads old pairs for ALL flips (a voided culprit's
    // old victims are exactly the resurrection candidates) plus the
    // fresh pairs; doom evaluation voids old pairs touching rIds on
    // EITHER side (that content is gone — for a pure retraction the
    // membership test already blocked them, but an amended id that
    // re-entered S2 must not doom through its dead content's pairs).
    val candPairs = Await.result(candPartnersF, Duration.Inf)
      .toSet ++ newPairs.filter(p => changedS2(p._1)).map(_._2)
    val affected = candPairs ++ resurrected ++ insKeepers
    // r18 (guide §2.6; r17-verdict next-round #3): the post-contest
    // probes ran as a strictly sequential chain (culprit fetch → S2
    // membership of toTest → S3 membership of atRestFresh), each paying
    // a full job latency on a delta-sized broadcast probe. The chain is
    // not data-dependent at the PLAN level, so all three launch as one
    // concurrent wave:
    //  - toTest ( = affected ∪ culprit firsts ∪ fresh-pair firsts with
    //    an affected partner) is expressible DataFrame-side from
    //    `pairs` with the SAME rIds filters the driver applied, so the
    //    S2 probe collects exactly the rows the sequential form did —
    //    no cap-boundary shift (the r17 #1 lesson). The derived probe
    //    side is explicitly broadcast, keeping the s2ids scan map-side.
    //  - atRestFresh ⊆ affected ∖ inserted and oldTimers is only ever
    //    a membership filter on it, so the S3 probe runs on that
    //    driver-held superset: atRestFresh ∖ (S3 ∩ (affected ∖
    //    inserted)) ≡ atRestFresh ∖ S3. The collect grows from
    //    |S3 ∩ atRestFresh| to at most |affected|, a set this call
    //    already holds on the driver — no blast-radius change.
    val culpritPairsF = Future { bounded(
      pairs.join(probe(s, affected, "id2"), Seq("id2"), "left_semi")
        .select("id1", "id2"), "culprit pairs")(
      r => (r.getLong(0), r.getLong(1))) }
    val toTestDf = pairs
      .join(probe(s, affected -- rIds, "id2"), Seq("id2"), "left_semi")
      .select(col("id1").as("doc_id"))
      .join(probe(s, rIds), Seq("doc_id"), "left_anti")
      .unionAll(probe(s, affected ++
        newPairs.collect { case (a, b) if affected(b) => a }))
    val inS2OldF = Future { ids(s2ids.join(broadcast(toTestDf),
      Seq("doc_id"), "left_semi"), "S2 membership probe") }
    val oldTimersF = Future { ids(
      s3ids.join(probe(s, affected -- inserted), Seq("doc_id"),
        "left_semi"), "prior S3 members") }
    // a raise in one wave member aborts this call at ITS await — the
    // siblings' own failures (incl. their blast-radius raises) must
    // not be silently swallowed on the daemon pool (the candsF rule)
    Seq(inS2OldF, oldTimersF).foreach(_.failed.foreach(e =>
      System.err.println(
        s"[corpusUpsert] overlapped probe failed: ${e.getMessage}")))
    val culpritPairs = Await.result(culpritPairsF, Duration.Inf)
      .filter { case (a, b) => !rIds(a) && !rIds(b) } ++
      newPairs.filter { case (_, b) => affected(b) }
    val inS2Old = Await.result(inS2OldF, Duration.Inf)
    def inS2New(id: Long): Boolean =
      (inS2Old(id) && !rIds(id) && !stolen(id)) ||
        resurrected(id) || insKeepers(id)
    val affectedS2 = affected.filter(inS2New)
    val doomedNow = culpritPairs
      .filter { case (a, b) => affectedS2(b) && inS2New(a) }
      .map(_._2).toSet
    val freshSurvivors = affectedS2 -- doomedNow

    // S4 delta: s3 newcomers need the text probe; amended survivors
    // are ALWAYS newcomers (prior S3 membership certified dead text)
    val atRestFresh = freshSurvivors -- inserted
    val oldTimers = Await.result(oldTimersF, Duration.Inf)
    val newcomers = ((atRestFresh -- oldTimers) ++
      (freshSurvivors & inserted)).filter(_ >= 5)
    val atRestNew = newcomers -- inserted
    val insNew = newcomers & inserted
    val contNew = ids(
      docs.join(probe(s, atRestNew), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
        .unionAll(aq.join(probe(s, insNew), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(graft.functions.GraftFunctions
        .ngramHashes(lower(col("text")), 5)).as("ngh"))
      .join(benchGrams, Seq("ngh"), "left_semi")
      .select("doc_id").distinct(), "contaminated newcomers")
    val s4new = qmeta.select("doc_id", "lang", "n_tokens")
      .join(probe(s, atRestNew -- contNew), Seq("doc_id"), "left_semi")
      .unionByName(aq.select("doc_id", "lang", "n_tokens")
        .join(probe(s, insNew -- contNew), Seq("doc_id"), "left_semi"))
    val s4keep = s4meta.join(probe(s, rIds ++ doomedNow ++ stolen),
      Seq("doc_id"), "left_anti")
    aq.unpersist()
    UpsertState(rIds, inserted, insKeepers, stolen, resurrected,
      doomedNow, newcomers, contNew, s4keep, s4new, newPairs, reElected)
  }

  /** The at-rest corpus state a SEQUENCE of upserts threads through:
    * the four membership frames plus the S2 signature index (the
    * amendment candidate probe's input). */
  private[graft] final case class CorpusFrames(qmeta: DataFrame,
      s2ids: DataFrame, s3ids: DataFrame, s4meta: DataFrame,
      sigs: DataFrame) {
    /** Each frame with its dir name under an artifact root. */
    def named: Seq[(String, DataFrame)] = Seq("qmeta" -> qmeta,
      "s2ids" -> s2ids, "s3ids" -> s3ids, "s4meta" -> s4meta,
      "sigindex" -> sigs)
    def map(f: DataFrame => DataFrame): CorpusFrames =
      CorpusFrames(f(qmeta), f(s2ids), f(s3ids), f(s4meta), f(sigs))
  }

  private[graft] object CorpusFrames {
    /** The frames [[CorpusFrames.named]] laid out under `root`. With
      * `like` (the frames just written there), each is read with its
      * known schema, which skips the footer-inference job per frame. */
    def read(s: SparkSession, root: String,
        like: Option[CorpusFrames] = None): CorpusFrames = {
      val schemas = like.map(_.named.map { case (n, df) => n -> df.schema }
        .toMap)
      def at(name: String) = schemas.fold(s.read)(m => s.read.schema(m(name)))
        .parquet(s"$root/$name")
      CorpusFrames(at("qmeta"), at("s2ids"), at("s3ids"), at("s4meta"),
        at("sigindex"))
    }
  }

  /** Apply one [[UpsertState]] to the [[CorpusFrames]] — the ONE set of
    * corpus rewrite rules, shared by the stream driver's per-batch
    * commit ([[graft.streaming.StreamOps.streamCrudRun]]) and the
    * lifecycle gate's artifact rewrite. All map-side anti-joins/unions
    * against LOCAL broadcast delta sets. `amended` is the upsert
    * payload (empty for a retraction, see [[noPayload]]); `docs` holds
    * the current text the re-elected twins' signatures are read from.
    *
    *  - qmeta drops rIds and gains the new content's quality rows
    *    (digest / n_tokens), so later keeper contests see it
    *  - S2 swaps rIds and stolen keepers for re-elected twins and
    *    inserted keepers
    *  - S3 drops rIds, stolen, freshly doomed and newcomers, then gains
    *    the newcomers
    *  - S4 is the state's keep ∪ new
    *  - the signature index follows S2 (a later probe must near-dup
    *    against CURRENT content): it drops rIds and stolen ids and
    *    gains the re-elected twins' and inserted keepers' signatures */
  private[graft] def upsertRewrite(st: UpsertState, f: CorpusFrames,
      amended: DataFrame, docs: DataFrame): CorpusFrames = {
    import graft.operators.IncrementalDedup
    val s = docs.sparkSession
    import s.implicits._
    def sigsOf(df: DataFrame, ids: Set[Long]): DataFrame =
      IncrementalDedup.signatures(
        df.join(probe(s, ids), Seq("doc_id"), "left_semi"), "doc_id", "text")
    val aq = qualityGate(amended)
    CorpusFrames(
      f.qmeta.join(probe(s, st.rIds), Seq("doc_id"), "left_anti")
        .unionByName(aq.select(col("doc_id"), col("lang"),
          col("n_tokens"), sha2(col("text"), 256).as("digest"))),
      f.s2ids.join(probe(s, st.rIds ++ st.stolen), Seq("doc_id"), "left_anti")
        .unionAll(probe(s, st.resurrected ++ st.insKeepers)),
      f.s3ids.join(probe(s, st.rIds ++ st.stolen ++ st.doomedNow ++
          st.newcomers), Seq("doc_id"), "left_anti")
        .unionAll(probe(s, st.newcomers)),
      st.s4keep.unionByName(st.s4new),
      f.sigs.join(probe(s, st.rIds ++ st.stolen, "id"), Seq("id"),
          "left_anti")
        .unionAll(sigsOf(docs, st.resurrected))
        .unionAll(sigsOf(aq, st.insKeepers)))
  }

  /** The at-rest [[CorpusFrames]] + static probe sets (bench grams,
    * verified pairs) of the retraction artifacts: the state the
    * one-shot retraction gates and the corpus stream driver start
    * from. */
  private[graft] def corpusFramesAtRest(s: SparkSession, d: String)
      : (CorpusFrames, DataFrame, DataFrame) = {
    val art = corpusRetractArtifacts(s, d)
    (CorpusFrames.read(s, art.toString),
      s.read.parquet(art.resolve("benchgrams").toString),
      DedupQueries.verifiedPairs(s, d).select("id1", "id2"))
  }

  /** The registered retraction set: every id ≥ 5 with id ≡ 7 (mod 17)
    * — chosen (measured across the 3 SFs) so the takedown hits
    * near-dup CULPRITS whose victims must resurrect, exercising the
    * hard delete path, not just set subtraction; the constructed-
    * corpus spec covers keeper re-election deterministically. */
  private def registeredRetraction(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") >= 5 && col("doc_id") % 17 === 7)
      .select("doc_id")

  val corpusRetract: Q = (s, d) =>
    corpusRetractFrom(s, d,
      registeredRetraction(Tables.documents(s, d)))

  /** In-place amendment over the at-rest retraction artifacts (r16
    * verdict #2 — the UPDATE side of the corpus state machine): the
    * same doc ids return with CHANGED text, applied as ONE atomic
    * upsert ([[corpusUpsertState]]) — old content's victims may
    * resurrect AND the new content may doom previously-clean docs,
    * steal exact-dedup keeperships, or fail quality outright (an
    * amendment-as-takedown). Hash-equal to the from-scratch chain on
    * the amended corpus. */
  private[graft] def corpusAmendFrom(s: SparkSession, d: String,
      amendments: DataFrame): DataFrame = {
    val (st, _) = corpusAmendStateFrom(s, d, amendments)
    // delta-side materialization before the finish fan-out — the
    // corpusRetractDelta rationale
    corpusFinish(st.s4keep.unionByName(st.s4new.cache()))
  }

  /** The amendment's [[UpsertState]] over the at-rest retraction
    * artifacts, plus the prior S4 frame — shared by the manifest gate
    * and the amendment change ledger so they cannot disagree. */
  private def corpusAmendStateFrom(s: SparkSession, d: String,
      amendments: DataFrame): (UpsertState, DataFrame) = {
    val art = corpusRetractArtifacts(s, d)
    val f = CorpusFrames.read(s, art.toString)
    // the amendment payload is delta-sized by contract and its
    // generating plan (the driver fixture's corpus self-join) would
    // otherwise re-execute for every bounded collect that touches the
    // incoming content — materialize it once (r17 optimization; the
    // session's catalog cache is cleared between bench reps, and the
    // cached bytes are bounded by the same blast-radius discipline as
    // the collects themselves)
    val am = amendments.cache()
    (corpusUpsertState(Tables.documents(s, d),
      am.select("doc_id"), am, f.qmeta, f.s2ids, f.s3ids, f.s4meta,
      benchGrams = s.read.parquet(art.resolve("benchgrams").toString),
      pairs = DedupQueries.verifiedPairs(s, d).select("id1", "id2"),
      banded = graft.operators.IncrementalDedup.readBandedIndex(s,
        art.resolve("banded").toString)), f.s4meta)
  }

  /** Per-doc CHANGE ledger of an amendment — ONE event per membership
    * or content flip, never a takedown row plus a new-doc row (the
    * atomicity the r15 verdict asked for):
    *
    *  - `amended_in_corpus`   — the re-crawled content now serves
    *                            (whether or not the id served before)
    *  - `removed_amended`     — served before, new content fails
    *                            quality / dedup / decontam
    *  - `removed_displaced`   — collateral: keepership stolen by a
    *                            smaller amended twin, or doomed by the
    *                            new content's near-dup pairs
    *  - `resurrected_*`       — at-rest docs the dead content alone
    *                            had displaced (the retract classes)
    *
    * Derived from the SAME [[UpsertState]] the manifest gate consumes. */
  private[graft] def corpusAmendLedgerFrom(s: SparkSession, d: String,
      amendments: DataFrame): DataFrame = {
    import s.implicits._
    val (st, s4meta) = corpusAmendStateFrom(s, d, amendments)
    val inNew = (st.newcomers & st.inserted) -- st.contNew
    val amendedIn = inNew.toSeq.sorted
      .map(id => (id, "amended_in_corpus")).toDF("doc_id", "reason")
    val removedAmended = s4meta
      .join(probe(s, st.rIds -- inNew), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("removed_amended").as("reason"))
    val removedDisplaced = s4meta
      .join(probe(s, (st.doomedNow ++ st.stolen) -- st.rIds),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("removed_displaced").as("reason"))
    val born = ((st.newcomers -- st.inserted) -- st.contNew).toSeq.sorted
      .map(id => (id, if (st.resurrected(id)) "resurrected_exact_twin"
        else "resurrected_neardup_victim"))
      .toDF("doc_id", "reason")
    amendedIn.unionByName(removedAmended)
      .unionByName(removedDisplaced).unionByName(born)
  }

  val corpusAmendLedger: Q = (s, d) =>
    corpusAmendLedgerFrom(s, d,
      registeredAmendment(Tables.documents(s, d)))

  /** The registered amendment set: ids ≥ 5 with id ≡ 11 (mod 23),
    * re-crawled text by id mod 4 —
    *  0: a sub-quality stub (the amendment IS a takedown);
    *  1: the EXACT text of doc id+8 (keeper steal: the amended doc's
    *     smaller id takes the digest group, the donor dies at S2);
    *  2: doc id+8's text plus a 3-token tail (near-dup: the donor —
    *     previously clean — is doomed at S3 by the amended smaller id);
    *  3: fresh unique md5-derived tokens (the amended id re-enters the
    *     corpus through S2–S4 with its NEW n_tokens).
    * Measured at sf0.01: 8 amended ids leave S4, 3 previously-clean
    * docs are collaterally doomed, 1 at-rest victim resurrects, and 5
    * class-3 ids re-enter S4 with their new n_tokens — all four flip
    * directions live in the driver gate, not just the constructed
    * spec. Donor ids are never
    * themselves amended ((a+8) % 23 = 19 ≠ 11), so the donor text is
    * the original on both engines; a donor past max(doc_id) degrades
    * to the stub. The fixture generation is a corpus self-join —
    * production amendments arrive as data. */
  private[graft] def registeredAmendment(docs: DataFrame): DataFrame = {
    val freshText = concat_ws(" ", transform(sequence(lit(1), lit(24)),
      i => concat(lit("am"), substring(md5(concat(
        col("doc_id").cast("string"), lit("_"), i.cast("string"))), 1, 6))))
    docs.filter(col("doc_id") >= 5 && col("doc_id") % 23 === 11)
      .join(docs.select(col("doc_id").as("__did"),
        col("text").as("__dtext")),
        col("doc_id") + 8 === col("__did"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 4 === 0, lit("amended takedown stub"))
          .when(col("doc_id") % 4 === 3, freshText)
          .otherwise(coalesce(
            when(col("doc_id") % 4 === 1, col("__dtext"))
              .otherwise(concat(col("__dtext"),
                lit(" zq amendment tail"))),
            lit("amended takedown stub"))).as("text"))
  }

  val corpusAmend: Q = (s, d) =>
    corpusAmendFrom(s, d,
      registeredAmendment(Tables.documents(s, d)))

  /** Per-doc CHANGE ledger of a retraction — the governance readout a
    * takedown review asks next to [[corpusDropLedger]]'s "why is doc X
    * out": WHAT did forgetting these ids change. One row per doc whose
    * S4 membership flipped, with the reason:
    *
    *  - `removed_retracted`          — was in the corpus, named in the
    *                                   takedown
    *  - `removed_doomed`             — collateral: newly doomed by a
    *                                   resurrected culprit
    *  - `resurrected_exact_twin`     — re-elected keeper of a retracted
    *                                   doc's digest group
    *  - `resurrected_neardup_victim` — undoomed when its only culprits
    *                                   left
    *
    * Derived from the SAME [[UpsertState]] the manifest gate consumes,
    * so ledger and manifest cannot disagree; docs that resurrect at S3
    * but fail decontam never flip membership and are correctly absent. */
  private[graft] def corpusRetractLedgerFrom(s: SparkSession, d: String,
      retracted: DataFrame): DataFrame = {
    import s.implicits._
    val (f, benchGrams, pairs) = corpusFramesAtRest(s, d)
    val st = corpusRetractState(Tables.documents(s, d), retracted,
      f.qmeta, f.s2ids, f.s3ids, f.s4meta, benchGrams, pairs)
    def removed(ids: Set[Long], reason: String) =
      f.s4meta.join(probe(s, ids), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit(reason).as("reason"))
    val born = (st.newcomers -- st.contNew).toSeq.sorted
      .map(id => (id, if (st.resurrected(id)) "resurrected_exact_twin"
        else "resurrected_neardup_victim"))
      .toDF("doc_id", "reason")
    removed(st.rIds, "removed_retracted")
      .unionByName(removed(st.doomedNow, "removed_doomed"))
      .unionByName(born)
  }

  val corpusRetractLedger: Q = (s, d) =>
    corpusRetractLedgerFrom(s, d,
      registeredRetraction(Tables.documents(s, d)))

  /** At-rest artifacts AFTER a retraction against the compacted
    * day-1+2 state — the full corpus-lifecycle state machine
    * (append → compact → RETRACT → append again): runs
    * [[corpusRetractState]] over the compacted membership frames,
    * then REWRITES the artifacts with the shared [[upsertRewrite]]
    * rules so later ingests see the corrected world:
    *
    *  - qmeta/digests lose the retracted docs (content whose every
    *    carrier was retracted becomes NEW again for future arrivals)
    *  - s2/s3 memberships apply the delta (re-elections in,
    *    retractions and collateral dooms out)
    *  - the signature index drops retracted ids and GAINS the
    *    re-elected twins' signatures (future ingests must see them as
    *    culprits — forgetting this would let tomorrow's copy of a
    *    resurrected doc slip through), then re-bands
    *
    * The rewrite is compaction-time work (index-sized, offline); the
    * retraction DELTA itself stays blast-radius-sized. */
  private def corpusLifecycleArtifacts(s: SparkSession, d: String,
      c1: Long, c2: Long): java.nio.file.Path = {
    import graft.operators.IncrementalDedup
    val docs = Tables.documents(s, d)
    corpusArtifact(docs, "corpus-lifecycle", canonical(d), s"c1=$c1",
        s"c2=$c2", "mod17=7", "v1") { dir =>
      val day12 = corpusDay3Artifacts(s, d, c1, c2)
      val qmeta = s.read.parquet(day12.resolve("qmeta12").toString)
      val s3ids = s.read.parquet(day12.resolve("s3ids12").toString)
      val s4meta = s.read.parquet(day12.resolve("s4meta12").toString)
      val benchGrams = s.read
        .parquet(day12.resolve("benchgrams").toString)
      val sigs = IncrementalDedup.readIndex(s,
        day12.resolve("sigs12").toString)
      val s2ids = sigs.select(col("id").as("doc_id"))
      val atRest = docs.filter(col("doc_id") < c2)
      val retracted = registeredRetraction(atRest)
      val st = corpusRetractState(atRest, retracted, qmeta, s2ids,
        s3ids, s4meta, benchGrams,
        DedupQueries.verifiedPairs(s, d).select("id1", "id2"))
      // the shared rewrite rules; S2 is the index's id set here, so the
      // rewritten s2ids frame is not written
      val next = upsertRewrite(st,
        CorpusFrames(qmeta, s2ids, s3ids, s4meta, sigs),
        noPayload(atRest), docs)
      next.qmeta.write.mode("overwrite")
        .parquet(dir.resolve("qmeta").toString)
      s.read.parquet(dir.resolve("qmeta").toString)
        .select("digest").distinct().write.mode("overwrite")
        .parquet(dir.resolve("digests").toString)
      next.s3ids.write.mode("overwrite")
        .parquet(dir.resolve("s3ids").toString)
      next.s4meta.write.mode("overwrite")
        .parquet(dir.resolve("s4meta").toString)
      IncrementalDedup.writeIndex(next.sigs, dir.resolve("sigs").toString)
      IncrementalDedup.writeBandedIndex(
        s.read.parquet(dir.resolve("sigs").toString),
        dir.resolve("banded").toString)
      benchGrams.write.mode("overwrite")
        .parquet(dir.resolve("benchgrams").toString)
    }
  }

  def ensureCorpusLifecycleArtifacts(s: SparkSession, d: String): Unit = {
    val (c1, c2) = day3Cuts(Tables.documents(s, d))
    corpusLifecycleArtifacts(s, d, c1, c2); ()
  }

  /** Full corpus-lifecycle gate: day-1 build → day-2 ingest + compact
    * → RETRACT (registered takedown over everything at rest) with
    * artifact rewrite → day-3 ingest against the corrected state →
    * global finish. Hash-equal to the from-scratch chain on
    * corpus ∖ retracted — the closure property of the artifact state
    * machine: any interleaving of appends, compactions and
    * retractions must land on the same corpus the batch chain would
    * build from what remains. */
  val corpusLifecycle: Q = (s, d) => {
    val (s4meta, s4delta) = corpusLifecycleParts(s, d)
    // delta-side materialization — same rationale as corpusIncremental
    // (538-exchange plan from finish fan-out, plans/r17)
    corpusFinish(s4meta.unionAll(s4delta.cache()))
  }

  /** (at-rest S4, delta S4) of the lifecycle gate — bench phase split. */
  private[graft] def corpusLifecycleParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import graft.operators.IncrementalDedup
    val docs = Tables.documents(s, d)
    val (c1, c2) = day3Cuts(docs)
    val art = corpusLifecycleArtifacts(s, d, c1, c2)
    val s4meta = s.read.parquet(art.resolve("s4meta").toString)
    val digests = s.read.parquet(art.resolve("digests").toString)
    val sigs = IncrementalDedup.readIndex(s, art.resolve("sigs").toString)
    val banded = IncrementalDedup.readBandedIndex(s,
      art.resolve("banded").toString)
    val benchGrams = s.read.parquet(art.resolve("benchgrams").toString)
    // day-3 arrivals can also carry ids the takedown named (a crawler
    // re-serving retracted content): drop them at the door
    val delta3 = docs.filter(col("doc_id") >= c2)
      .join(registeredRetraction(docs.filter(col("doc_id") >= c2)),
        Seq("doc_id"), "left_anti")
    val d3 = corpusIngestDelta(delta3, digests,
      s2 => IncrementalDedup.verdictsBanded(banded, sigs, s2,
        "doc_id", "text", numHashes = 32, bands = 8, threshold = 0.6),
      benchGrams)
    (s4meta, d3.s4)
  }

  /** End-to-end training-data pipeline, every stage SQL-checkable:
    * quality gate → exact dedup survivors (min id per sha256) →
    * benchmark decontamination (drop docs sharing any 5-gram with
    * doc_id < 5) → deterministic 25% hash sample → per-(lang, source)
    * corpus stats. The composition is the deliverable: each stage is an
    * id-keyed set operation, so text bytes flow through exactly one scan
    * and never ride a shuffle. */
  val pipelineE2e: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // text is consumed AT THE SCAN (content hash + n-gram hashes); every
    // later stage joins on ids/digests with metadata columns only, so no
    // exchange in the whole pipeline carries a text byte (plan-asserted
    // in PlanShapeSpec)
    val qualityMeta = docs
      .filter(col("n_chars") >= 50 && size(split(col("text"), " ")) >= 5)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        sha2(col("text"), 256).as("h"))
    val keep = qualityMeta.groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val survivors = qualityMeta.drop("h").join(keep, "doc_id")
    val contaminated = Decontam.overlapHashed(
        docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5),
        "doc_id", "text", n = 5)
      .select("doc_id")
    val clean = survivors.join(contaminated, Seq("doc_id"), "left_anti")
    clean
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "4")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
  }

  /** Registered PQ/IVF-PQ parameterizations — named ONCE, shared with
    * [[graft.RecallBench]] so the per-round recall artifact measures
    * exactly what the gates run (round-12 verdict #1). */
  val PqM = 8
  val PqKCodes = 64
  val IvfPqLists = 100
  val IvfPqNprobe = 40
  /** ADC shortlist size fed to the exact refine stage (R = 5k for the
    * registered k = 10 — the IVFADC+R posture; see
    * [[graft.operators.AnnSearch.refineTopK]]). */
  val PqRefine = 200

  private[graft] def ivfPqIndex(s: SparkSession, d: String) =
    // plain scan: the fingerprint agg stays a single-column metadata-
    // cheap job; buildOrLoad repartitions internally on a build miss
    graft.operators.IvfPq.buildOrLoad(Tables.embeddings(s, d),
      Artifacts.cacheDir, tag = new java.io.File(d).getCanonicalPath,
      lists = IvfPqLists, // ≈ √n at the bench SF (kmeansCentroids sizing)
      m = PqM, k = PqKCodes)

  /** Offline index build: idempotent, called by Bench before the timed
    * loop so q_ivfpq_topk measures SEARCH — the artifact posture
    * ([[graft.operators.IvfPq.buildOrLoad]]) a 100 TB corpus demands. */
  def ensureIvfPqIndex(s: SparkSession, d: String): Unit = {
    ivfPqIndex(s, d); ()
  }

  /** Gopher-style within-doc repetition signals + keep flag (round 3). */
  val qualityRepetition: Q = (s, d) =>
    graft.operators.Repetition.signals(Tables.documents(s, d),
      "doc_id", "text")

  /** RefinedWeb-style corpus-level duplicated-span fraction per doc
    * (round 3) — runs on the ngram_hashes byte-range kernel. */
  val dupSpans: Q = (s, d) =>
    graft.operators.Repetition.dupSpanFraction(Tables.documents(s, d),
      "doc_id", "text", n = 8)

  /** Corpus-level duplicated-span removal (round 3 cont.): the
    * exact-substring dedup transform behind the q_dup_spans signal —
    * one surviving copy of every cross-doc 8-token span, docs rewritten.
    * md5 spans here so DuckDB reproduces the removal set exactly; the
    * operator's production default is xxhash64. */
  val dupSpanRemoval: Q = (s, d) =>
    graft.operators.Repetition.removeDupSpans(Tables.documents(s, d),
      "doc_id", "text", n = 8, hasher = md5(_))

  /** Deterministic md5-bucket train/valid/test split (round 3 cont.):
    * split membership is a pure function of (salt, doc_id) — stable
    * under corpus growth, re-partitioning, and engine changes. */
  val splitAssign: Q = (s, d) =>
    graft.operators.Splits.assign(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))

  /** Deterministic domain mixing to target source weights (round 3):
    * five head sources at 14% each, the long tail at 2%, budget 250. */
  val domainMix: Q = (s, d) =>
    graft.operators.Mixing.sampleToWeights(Tables.documents(s, d),
      "source", "doc_id",
      weights = (0 to 4).map(i => s"src$i" -> 0.14).toMap ++
        (5 to 19).map(i => s"src$i" -> 0.02).toMap,
      budget = 250)

  /** Sentence-boundary greedy chunking (round 5): [[graft.operators
    * .Chunking.sentences]] over a fixture that plants sentence
    * terminators in the synthetic corpus (every `merge` token ends a
    * sentence — a plain substring replace both engines reproduce
    * byte-identically; the vocabulary contains no other token with
    * `merge` as a substring). Greedy ≤24-token chunks, no sentence
    * straddles. */
  val sentenceChunks: Q = (s, d) =>
    graft.operators.Chunking.sentences(
      Tables.documents(s, d).select(col("doc_id"),
        replace(col("text"), lit("merge"), lit("merge.")).as("text")),
      "doc_id", "text", maxTokens = 24)

  /** Temperature-scaled mixing (round 5): weights w_g ∝ n_g^0.5 derived
    * from the data itself ([[graft.operators.Mixing
    * .sampleToTemperature]]). The fixture gives the four synthetic
    * groups PERFECT-SQUARE sizes (4/9/25/36 docs), so at alpha = 0.5
    * every weight is an exact binary fraction — sqrt(n) ∈ {2,3,5,6},
    * Z = 16, w ∈ {2,3,5,6}/16 — and ⌊w·budget⌋ at budget 10 is exactly
    * {1,1,3,3} in ANY IEEE engine: the hash gate carries zero
    * float-boundary risk (the money-sum lesson, applied to pow). */
  val temperatureMix: Q = (s, d) => {
    val fix = Tables.documents(s, d).filter(col("doc_id") < 74)
      .select(when(col("doc_id") < 4, "g4")
        .when(col("doc_id") < 13, "g9")
        .when(col("doc_id") < 38, "g25")
        .otherwise("g36").as("grp"), col("doc_id"))
    graft.operators.Mixing.sampleToTemperature(fix, "grp", "doc_id",
      alpha = 0.5, budget = 10)
  }

  /** Concat-then-chunk sequence packing into 128-token chunks per lang
    * (round 3). */
  val seqPack: Q = (s, d) =>
    graft.operators.Packing.packBySize(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens")),
      partCols = Seq("lang"), orderCol = "doc_id", sizeCol = "n_tokens",
      capacity = 128)

  /** Tokenizer-faithful packing (round 4): same operator, `sizeCol` now a
    * caller-supplied count from a BPE-ish pre-tokenization (letter runs |
    * digit runs | single punctuation — the segmentation BPE vocabularies
    * refine) instead of the whitespace proxy. The operator contract:
    * packBySize never tokenizes — hand it the count column your real
    * tokenizer produced and the chunk layout is faithful to that
    * tokenizer. */
  val seqPackTokens: Q = (s, d) =>
    graft.operators.Packing.packBySize(
      Tables.documents(s, d)
        // regexp_count, not size(regexp_extract_all(...)): the count
        // never materializes the per-doc match array
        .select(col("doc_id"), col("lang"),
          regexp_count(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("int")
            .as("n_tokens")),
      partCols = Seq("lang"), orderCol = "doc_id", sizeCol = "n_tokens",
      capacity = 128)

  /** CCNet-style statistical quality score (round 4): mean token
    * surprisal under a corpus unigram model — gibberish and boilerplate
    * sit in the tails, typical prose in the middle. */
  val unigramSurprisal: Q = (s, d) =>
    graft.operators.TextScore.unigramSurprisal(
      Tables.documents(s, d), "doc_id", "text")

  /** Last-mile id encoding (round 4): deterministic corpus vocabulary
    * (top-4096 by count, ties lexical) + per-doc token-id sequences —
    * the artifact a trainer consumes. */
  val tokenizeIds: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.operators.Tokenize.encode(docs, "doc_id", "text",
      graft.operators.Tokenize.vocabulary(docs, "text", 4096), 4096)
  }

  /** Deterministic global shuffle into training shards (round 4): shard
    * membership and within-shard order are pure functions of
    * (salt, doc_id). The gate hashes the full layout: per-shard counts
    * plus the first/last docs in shuffle-key order. */
  val shuffleShards: Q = (s, d) =>
    graft.operators.Shards.assign(Tables.documents(s, d), "doc_id",
        numShards = 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("shuffle_key")).as("first_id"),
        max_by(col("doc_id"), col("shuffle_key")).as("last_id"))

  /** CCNet-style duplicated-LINE removal (round 4): boilerplate lines
    * recurring across documents are stripped, one surviving copy
    * corpus-wide. The flat testdata has no newlines, so the gate segments
    * each doc into fixed 10-token lines — the SAME derivation on both
    * engines — and the operator consumes the segmented array (its
    * contract: the caller segments, it never tokenizes). md5 hasher so
    * DuckDB reproduces the removal set exactly; production default is
    * xxhash64. */
  val lineDedup: Q = (s, d) =>
    graft.operators.LineDedup.removeDupLines(
      graft.operators.LineDedup.segmentByTokens(
        Tables.documents(s, d).select("doc_id", "text"),
        "text", "lines", width = 10),
      "doc_id", "lines", hasher = md5(_))
      .select("doc_id", "clean_text", "n_lines", "n_removed")

  /** Split-leakage audit (round 4): exact-content duplicates straddling
    * train/valid/test boundaries — the contamination a hash split does
    * NOT prevent (membership is per doc_id; two copies of the same text
    * carry different ids and can land in different splits). Per split:
    * total docs and docs whose content hash also appears in another
    * split. The audit every dedup-then-split pipeline should run — and
    * the reason dedup must precede splitting. */
  val splitLeakage: Q = (s, d) =>
    graft.operators.Splits.leakageAudit(
      Tables.documents(s, d), "doc_id", "text",
      Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
      hasher = md5(_))

  /** Curriculum buckets (round 4): per-lang surprisal quartiles — the
    * difficulty ordering a curriculum-training schedule consumes.
    * ntile semantics over (score, doc_id) so bucket membership is
    * deterministic across engines.
    *
    * Round 10: `ntile(4) OVER (PARTITION BY lang ...)` replaced by
    * [[graft.operators.Selection.ntileScore]] — a language is the
    * canonical hot key (English is the majority of any real corpus),
    * so the per-lang window still pushed most rows through one task;
    * the two-phase form partitions by (lang, score band) instead. */
  val curriculumBuckets: Q = (s, d) =>
    graft.operators.Selection.ntileScore(
      graft.operators.TextScore.unigramSurprisal(
          Tables.documents(s, d), "doc_id", "text")
        .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id"),
      4, Seq("lang"), floor(col("avg_surprisal") * 100),
      Seq(col("avg_surprisal"), col("doc_id")), "bucket")
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("avg_surprisal"), 6).as("mean_score"),
        min("doc_id").as("first_doc"))

  /** Token-budget mixing (round 4): the production mixture spec —
    * per-source TOKEN budgets (head sources 14%, tail 2% of 30k), each
    * source keeping its hash-ordered greedy prefix. Counts are the
    * whitespace proxy here; the operator is tokenizer-faithful by
    * contract (counts are a caller column). */
  val tokenMix: Q = (s, d) =>
    graft.operators.Mixing.sampleToTokenBudget(
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens")),
      "source", "doc_id", "n_tokens",
      weights = (0 to 4).map(i => s"src$i" -> 0.14).toMap ++
        (5 to 19).map(i => s"src$i" -> 0.02).toMap,
      tokenBudget = 30000)

  /** RAG-style overlapping chunking (round 4): 64-token windows every
    * 48 tokens (16-token overlap) — the embedding-prep fan-out; chunk
    * boundaries, ids, and text all under the hash gate. */
  val docChunks: Q = (s, d) =>
    graft.operators.Chunking.slidingWindows(
      Tables.documents(s, d), "doc_id", "text", width = 64, stride = 48)

  /** Batch sessionization (round 5): 30-minute-gap sessions over the
    * event log — the offline twin of q_stream_session; the whole
    * classification + rollup costs ONE shuffle on user_id. Full hash
    * gate (DuckDB runs the same two windows). */
  val sessionize: Q = (s, d) =>
    graft.operators.Sessionize.sessions(
      Tables.events(s, d), "user_id", "ts", "event_id", gapSec = 1800)

  /** Per-key EMA features (round 5): [[graft.operators.TimeSeries
    * .emaFeatures]] over the event log — lag/delta/EMA per user in ONE
    * shuffle (in-row sort + fold, no window exchange). The EMA chain is
    * the identical IEEE op sequence in both engines (the oracle's
    * recursive CTE walks the same (ts, id) order), so the gate is
    * STRICT-exact on raw doubles. */
  val emaFeatures: Q = (s, d) =>
    graft.operators.TimeSeries.emaFeatures(
      Tables.events(s, d).select("user_id", "event_id", "ts", "value"),
      "user_id", "ts", "event_id", "value", alpha = 0.5)

  /** BPE merge learning (round 5): [[graft.operators.BpeTrain
    * .learnMerges]] on the classic Sennrich fixture — word frequencies
    * 8/6/5/4 for low/lower/newest/widest, derived from doc_id ranges so
    * the gate reads the corpus table yet the merge sequence is closed
    * form at every SF (hand-computed in the oracle; ties break
    * lexicographically). The corpus-scale contract is BpeTrainSpec's
    * distributed-equals-reference oracle. */
  val bpeMerges: Q = (s, d) => {
    val fix = Tables.documents(s, d).filter(col("doc_id") < 23)
      .select(when(col("doc_id") < 8, "low")
        .when(col("doc_id") < 14, "lower")
        .when(col("doc_id") < 19, "newest")
        .otherwise("widest").as("text"))
    graft.operators.BpeTrain.learnMerges(fix, "text", numMerges = 8)
  }

  /** BPE encode with the learned merge table (round 12, gating
    * [[graft.operators.BpeTrain.encode]] — the apply half of the
    * tokenizer): the q_bpe_merges rules replayed over the fixture
    * vocabulary plus two OOV words; every segmentation is closed-form
    * under rank-order application. */
  val bpeEncodePlanted: Q = (s, d) => {
    val s_ = s; import s_.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"),
      ("est", "</w>"), ("low", "</w>"), ("e", "r"), ("er", "</w>"))
    val words = Seq("low", "lower", "newest", "widest", "lowest",
      "wider").toDF("text")
    graft.operators.BpeTrain.encode(words, "text", merges)
      .select(col("text").as("word"),
        array_join(col("syms"), " ").as("syms"))
  }

  /** Multi-step conversion funnel (round 5): per user, the first
    * signup, the first click AT-OR-AFTER that signup, and the first
    * purchase at-or-after that click — the standard product-analytics
    * sequence measure. Three chained min-aggregations, each a
    * partial-aggregating shuffle on user_id that AQE co-locates with
    * the next step's join; no window sorts, no self-join explosion
    * (each step's input is pre-filtered to one event type). */
  val funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") >= col("signup_ts"))
      .groupBy("user_id").agg(min("ts").as("click_ts"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") >= col("click_ts"))
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_ts"), col("click_ts"),
        col("purchase_ts"),
        col("click_ts").isNotNull.as("reached_click"),
        col("purchase_ts").isNotNull.as("converted"))
  }

  /** Corpus snapshot diff (round 5): v2 deterministically drops every
    * 7th doc, rewrites every 5th, and appends 10 new ids; the summary
    * classifies every id with an order-independent per-status id
    * checksum. md5 content hash + raw-id xor so DuckDB reproduces both
    * exactly. */
  val corpusDiff: Q = (s, d) => {
    val v1 = Tables.documents(s, d).select("doc_id", "text")
    val v2 = v1.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(v1.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
    graft.operators.CorpusDiff.summary(v1, v2, "doc_id", "text",
      hasher = md5(_), idHasher = c => c)
  }

  /** Snapshot merge (round 5): apply a sparse delta — every 5th doc
    * rewritten, 10 new ids, every 7th deleted (deletes WIN on the %35
    * overlap) — and emit the next snapshot as (id, content hash). The
    * write side of [[corpusDiff]]'s versioning loop. */
  val corpusMerge: Q = (s, d) => {
    val snap = Tables.documents(s, d).select("doc_id", "text")
    val upserts = snap.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
      .unionAll(snap.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
    val deletes = snap.filter(col("doc_id") % 7 === 0).select("doc_id")
    graft.operators.CorpusDiff.merge(snap, upserts, deletes, "doc_id")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
  }

  /** Skew report (round 5): the pre-shuffle key diagnostic over
    * lineitem's supplier key — group-count quantiles from the LogHist
    * sketch + hot keys, one hash-gated row. */
  val skewReport: Q = (s, d) =>
    graft.operators.Profile.skewReport(
        Tables.lineitem(s, d), "l_suppkey")
      // driver gate: stringify the one array column (canonicalizer is
      // scalar-only); order inside the string is the operator's own
      // deterministic (count desc, key asc) contract, so it hash-gates.
      .withColumn("top_keys", concat_ws(",", col("top_keys")))

  /** Link-graph degree profile (round 5): supplier→customer edges via
    * orders (who supplies whom), distinct-partner degrees + raw edge
    * multiplicities per node — the spam/hub-profile shape over a crawl
    * graph. Fully SQL-expressible → real hash gate. */
  val graphDegrees: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"))
    graft.operators.Graph.degreeStats(edges, "src", "dst")
  }

  /** PageRank planted gate (round 5): a 12-node permutation graph (an
    * 8-cycle plus a disjoint 4-cycle) — every node has out-degree and
    * in-degree exactly 1, so uniform 1/12 is the exact fixed point and
    * three iterations of the real distributed loop must return it for every
    * node; round(…,9) absorbs the recurrence's last-bit float drift
    * (1/12 = 0.08333…3 is interior to the 9dp grid). The general-graph
    * contract (asymmetric structure, dangling mass) lives in GraphSpec's
    * reference-simulation oracle. */
  val pagerankPlanted: Q = (s, d) => {
    val s_ = s; import s_.implicits._
    val cycle8 = (0L to 7L).map(i => (i, (i + 1) % 8))
    val cycle4 = (10L to 13L).map(i => (i, if (i == 13L) 10L else i + 1))
    val edges = (cycle8 ++ cycle4).toDF("src", "dst")
      .repartition(4) // exercise the distributed path, not a 1-partition toy
    // fixture-scale loop parallelism is an explicit per-call knob
    // (round 8): a 12-node fixture at 32 shuffle partitions otherwise
    // pays 3 iterations of empty-task scheduling, and a session-conf
    // clamp-and-restore is a race if two queries ever build concurrently
    graft.operators.Graph.pageRankRounded(edges, "src", "dst",
      iterations = 3, numPartitions = Some(4))
  }

  /** Exact global quantiles ([[graft.operators.Selection]]): discrete
    * p10/p50/p90/p99 of order totals via bucketed distributed
    * selection — no global sort, values verbatim, matches DuckDB
    * quantile_disc exactly. */
  val exactQuantiles: Q = (s, d) =>
    graft.operators.Selection.exactQuantiles(
      Tables.orders(s, d), "o_totalprice",
      Seq(0.1, 0.5, 0.9, 0.99), v => floor(v / 1000.0))

  /** Weighted exact quantiles (round 10,
    * [[graft.operators.Selection.weightedQuantiles]]): price
    * percentiles weighted by QUANTITY — the value at the smallest v
    * whose cumulative weight reaches ceil(q·W). The oracle replays the
    * cumulative-weight definition with the q·W product in exact
    * decimal arithmetic (the discRank discipline). */
  val weightedQuantilesQ: Q = (s, d) =>
    graft.operators.Selection.weightedQuantiles(
      Tables.lineitem(s, d), "l_extendedprice", "l_quantity",
      Seq(0.1, 0.5, 0.9, 0.99), v => floor(v / 1000.0))

  /** Benford first-digit audit (round 10): the classic fabricated-data
    * / ETL-corruption screen — observed first-significant-digit shares
    * of order totals vs the Benford expectation log10(1 + 1/d). The
    * digit is extracted EXACTLY via the cents integer (2-dp money ×100
    * rounded to long, the repo's guardCents discipline) and its string
    * head — no FP log in the digit path. share is the raw IEEE n/total
    * (identical division both engines); benford_p rounds at 6dp
    * (transcendental, boundary-safe). One partial-agg scan + a 1-row
    * broadcast total. */
  val benfordAudit: Q = (s, d) => {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val digits = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum("n").as("__t"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (col("n") / col("__t")).as("share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford_p"))
  }

  /** Weighted PageRank, planted gate (round 9): a doubly-stochastic
    * weighted ring — node i sends weight 3 to i+1 and 1 to i+2, so
    * every node RECEIVES exactly 3/4 + 1/4 = 1 of a rank unit and the
    * uniform 1/12 is the exact fixed point, like the unweighted
    * permutation gate but exercising the per-edge `pr·w/Σw` division
    * path. 9dp rounding absorbs last-bit recurrence drift. */
  val pagerankWeightedPlanted: Q = (s, d) => {
    val s_ = s; import s_.implicits._
    val n = 12L
    val edges = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n, 3.0), (i, (i + 2) % n, 1.0)))
      .toDF("src", "dst", "w")
      .repartition(4)
    graft.operators.Graph.pageRankWeighted(edges, "src", "dst", "w",
        iterations = 3, numPartitions = Some(4))
      .select(col("node"), round(col("pr"), 9).as("pr"))
  }

  /** Linear quality-classifier inference (round 5): σ(w·tf/scale) over
    * the 64-dim hashing-trick features with closed-form fixed-point
    * weights — integer dot (order-independent), one double division +
    * exp at the end. Map-only model inference, the C4/Gopher filter
    * shape. */
  val qualityClassifier: Q = (s, d) =>
    graft.operators.Classifier.linearScore(
      Tables.documents(s, d), "doc_id", "text", dim = 64,
      weights = graft.operators.Classifier.hashWeights(64))

  /** Connected components planted gate (round 5): two chains and an
    * isolated pair — min-label propagation must label every node with
    * its component's minimum id (chain diameter 4 forces real
    * multi-round propagation, not just the seeding fold). Same
    * fixture-scale partition clamp as the PageRank gate. */
  val componentsPlanted: Q = (s, d) => {
    val s_ = s; import s_.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("src", "dst")
      .repartition(4)
    graft.operators.Graph.connectedComponents(edges, "src", "dst",
      numPartitions = Some(4))
  }

  /** LPA communities, planted gate (round 9): two triangles joined by
    * ONE bridge edge (2–10) plus an isolated pair. Unlike
    * [[componentsPlanted]]'s reachability semantics, the bridge's
    * single vote loses to each triangle's majority, so the two
    * triangles KEEP separate labels — the closed-form convergence
    * (hand-derived, 3 synchronous rounds) is the oracle. */
  val lpaPlanted: Q = (s, d) => {
    val s_ = s; import s_.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (2L, 10L), (20L, 21L)).toDF("src", "dst")
      .repartition(4)
    graft.operators.Graph.labelPropagation(edges, "src", "dst",
      numPartitions = Some(4))
  }

  /** Modularity Q of the LPA assignment on the same planted graph
    * (round 12, [[graft.operators.Graph.modularity]]): two triangles
    * bridged by one edge plus an isolated pair — Q = 122/256 exactly
    * (every term dyadic), the oracle replays L_c/d_c and the sorted
    * fold rather than pasting the constant. */
  val modularityPlanted: Q = (s, d) => {
    val s_ = s; import s_.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (2L, 10L), (20L, 21L)).toDF("src", "dst")
      .repartition(4)
    val assign = graft.operators.Graph.labelPropagation(edges, "src",
      "dst", numPartitions = Some(4))
    graft.operators.Graph.modularity(edges, "src", "dst", assign,
      "node", "label")
  }

  /** SCD2 history (round 5): three derived snapshots — v2 rewrites every
    * 5th doc and drops every 7th, v3 (built ON v2) rewrites every 3rd
    * and drops every 11th — folded into validity intervals. Covers
    * changes (runs close and reopen), removals (runs close at the last
    * observed version), and still-current rows, all by md5 digest so the
    * oracle reproduces runs exactly. */
  val scd2History: Q = (s, d) => {
    val v1 = Tables.documents(s, d).select("doc_id", "text")
    val v2 = v1.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val v3 = v2.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v3")))
          .otherwise(col("text")).as("text"))
    val hist = v1.withColumn("version", lit(1))
      .unionAll(v2.withColumn("version", lit(2)))
      .unionAll(v3.withColumn("version", lit(3)))
    graft.operators.CorpusDiff.scd2(hist, "doc_id", "text", "version",
      hasher = md5(_))
  }

  /** Edit-distance near-dup (round 5): the corpus plus ten planted
    * suffix-mutated copies (append " zq x" = edit distance 5), found by
    * prefix-bucket candidates + Levenshtein verify under maxDist 6.
    * Fully SQL-expressible, so the pairs carry a complete hash gate —
    * no tolerance, no planted-only twin. */
  val editDistNearDup: Q = (s, d) => {
    val base = Tables.documents(s, d).select("doc_id", "text")
    val mutated = base.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000000L).as("doc_id"),
        concat(col("text"), lit(" zq x")).as("text"))
    Dedup.editDistanceNearDup(base.unionAll(mutated), "doc_id", "text",
      maxDist = 6)
  }

  /** Interpolated bigram surprisal (round 5): the word-order-sensitive
    * LM filter rung above q_unigram_surprisal; positional bigrams (no
    * window, no self-join), full hash gate. */
  val bigramSurprisal: Q = (s, d) =>
    graft.operators.TextScore.bigramSurprisal(
      Tables.documents(s, d), "doc_id", "text")

  /** Kneser–Ney smoothed bigram surprisal (round 10,
    * [[graft.operators.TextScore.knBigramSurprisal]]): absolute
    * discounting + continuation backoff — the KenLM-default smoothing
    * as a self-perplexity quality scorer; per-bigram P is a fixed IEEE
    * chain over exact counts, per-doc average rounded 6dp. */
  val knSurprisal: Q = (s, d) =>
    graft.operators.TextScore.knBigramSurprisal(
      Tables.documents(s, d), "doc_id", "text")

  /** Count-min token frequency (round 5): per-lang CMS over corpus
    * tokens, probed for four words (one absent). The md5 cell recipe is
    * engine-reproducible, so DuckDB rebuilds the ENTIRE sketch
    * cell-for-cell — the estimates (including any collision inflation)
    * hash-match exactly. */
  val cmsFreq: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d).select(col("lang"),
      explode(filter(split(lower(col("text")), " "),
        t => length(t) > 0)).as("tok"))
    val sk = toks.groupBy("lang")
      .agg(graft.functions.GraftFunctions
        .cmsSketch(col("tok"), 1024, 4).as("sk"))
    val probes = Seq("join", "scan", "filter", "qzxunseen").toDF("word")
    sk.crossJoin(broadcast(probes))
      .select(col("lang"), col("word"),
        graft.functions.GraftFunctions
          .cmsQuery(col("sk"), col("word"), 1024, 4).as("est"))
  }

  /** IVF-PQ composed index: coarse lists bound the scan, residual PQ
    * codes stand in for vectors — the billion-scale ANN shape (rows-only;
    * recall + codes-only-search + build-once oracles in IvfPqSpec).
    * Searches the PERSISTED artifact; builds it on first touch only. */
  val ivfPqTopK: Q = (s, d) => {
    val probes = Tables.embeddings(s, d).filter(col("vec_id") < 5)
    // ADC top-R shortlist from the probed lists' CODES, then exact-L2
    // refine of those R ids (IVFADC+R): on this corpus ADC's
    // quantization error exceeds the true neighbor gaps (RecallBench
    // structure line), so the refine stage is what makes the result
    // usable — recall numbers in PERF.md's round-13 table
    val shortlist = graft.operators.IvfPq.search(ivfPqIndex(s, d),
      probes, k = PqRefine, nprobe = IvfPqNprobe, m = PqM,
      kCodes = PqKCodes)
    graft.operators.AnnSearch.refineTopK(shortlist,
      Tables.embeddings(s, d), probes, k = 10, metric = "l2")
  }

  /** Daily-append ANN maintenance gate (r14 verdict #4 — the
    * incremental story for similarity search): the LAST THIRD of the
    * embedding corpus is "today's" arrivals, appended to the
    * PERSISTED day-1 index with NO retraining (frozen centroids +
    * codebooks, [[graft.operators.IvfPq.append]]) — then the standard
    * probe set searches the grown index through the same ADC-top-R +
    * exact-refine path as q_ivfpq_topk. Where
    * [[ivfPqAppendPlanted]] pins the append ALGEBRA on byte-twins
    * closed-form, this gate runs the real day-2 distribution:
    * RecallBench re-measures its recall@10 against brute force every
    * round next to the full-build index's recall (the recall-DECAY
    * readout), and [[graft.operators.IvfPq.centroidDrift]] is the
    * documented retrain trigger (PERF.md §ANN append). Rows-only gate
    * (k-means/PQ are not DuckDB-expressible) with the measured
    * artifact — the q_ivfpq_topk convention. */
  val annAppend: Q = (s, d) => {
    import graft.operators.IvfPq
    val emb = Tables.embeddings(s, d)
    val cut = emb.agg(max(col("vec_id")).cast("long")).head()
      .getLong(0) * 2 / 3 + 1
    val day2 = emb.filter(col("vec_id") >= cut)
    val grown = IvfPq.append(day1IvfPqIndex(s, d, cut), day2,
      m = PqM, k = PqKCodes)
    val probes = emb.filter(col("vec_id") < 5)
    val shortlist = IvfPq.search(grown, probes, k = PqRefine,
      nprobe = IvfPqNprobe, m = PqM, kCodes = PqKCodes)
    graft.operators.AnnSearch.refineTopK(shortlist, emb, probes,
      k = 10, metric = "l2")
  }

  /** Deterministic alien batch for the retrain-trigger gate: a tight
    * axis-aligned cluster far outside the corpus distribution (the
    * IvfPqSpec plant, scaled to ~corpus/3 so the n-assigned-weighted
    * drift mean moves decisively at every SF), ids past max(vec_id).
    * Pure id arithmetic — deterministic, no RNG. */
  private[graft] def alienBatch(s: SparkSession, d: String): DataFrame = {
    val mx = Tables.embeddings(s, d)
      .agg(max(col("vec_id")).cast("long")).head().getLong(0)
    s.range((mx + 1) / 3 + 1)
      .select((col("id") + mx + 1).as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          when(j === 0, lit(100.0))
            .when(j === 1, pmod(col("id"), lit(7)).cast("double") * 0.01)
            .otherwise(lit(0.0)).cast("float")).as("embedding"))
  }

  /** Fire the ANN retrain trigger END-TO-END (r16 verdict #4 — the
    * registered policy executes its consequence, not just its
    * readout): append the planted alien batch to the persisted index
    * with frozen centroids/codebooks ([[graft.operators.IvfPq
    * .append]]), measure the n-weighted centroid drift — the
    * registered trigger (weighted mean drift_cos < 0.90,
    * IvfPq.centroidDrift) MUST fire — then rebuild centroids and
    * codebooks on the union ([[graft.operators.IvfPq.build]]) and
    * the trigger must clear. The gate output is the two closed-form
    * trigger verdicts, hash-gated against a literal oracle; the
    * recall restoration and append-vs-retrain cost ratio are
    * RecallBench's per-round artifact (PERF.md §ANN retrain). */
  val annRetrain: Q = (s, d) => {
    import s.implicits._
    import graft.operators.IvfPq
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val alien = alienBatch(s, d)
    val union = emb.unionByName(alien)
    def wmeanDrift(ix: IvfPq.Index): Double =
      IvfPq.centroidDrift(ix, union)
        .agg(sum(col("drift_cos") * col("n_assigned")) /
          sum(col("n_assigned"))).head().getDouble(0)
    val grown = IvfPq.append(ivfPqIndex(s, d), alien,
      m = PqM, k = PqKCodes)
    val drifted = wmeanDrift(grown)
    // the consequence: a full rebuild on the union — fresh coarse
    // centroids AND fresh residual codebooks (the alien mass gets its
    // own lists, residuals re-center, quantization error resets)
    val retrained = IvfPq.build(union.repartition(col("vec_id")),
      lists = IvfPqLists, m = PqM, k = PqKCodes)
    val restored = wmeanDrift(retrained)
    Seq(("after_alien_append", drifted < 0.90),
      ("after_retrain", restored < 0.90))
      .toDF("phase", "retrain_needed")
  }

  /** Append-then-retract closure gate (r15, the delete side of
    * [[annAppend]]): twins of the probe vectors are appended to the
    * persisted index, then retracted — the searched top-k (probe,
    * candidate, ADC) sets must be BYTE-IDENTICAL to the never-appended
    * index's, per probe. A leftover code row (retraction missed) or a
    * lost original (over-deletion) flips a row to false and the hash
    * gate reds. Differential-to-closed-form: the gate output is the
    * per-probe verdict, so the oracle is a literal. */
  val ivfPqRetractPlanted: Q = (s, d) => {
    import graft.operators.IvfPq
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 5)
    val off = emb.agg((max("vec_id") + 1).as("__off"))
    val copies = probes.crossJoin(broadcast(off))
      .select((col("vec_id") + col("__off")).as("vec_id"),
        col("embedding"))
    val base = ivfPqIndex(s, d)
    val roundTrip = IvfPq.retract(IvfPq.append(base, copies,
      m = PqM, k = PqKCodes), copies.select("vec_id"))
    def top(ix: graft.operators.IvfPq.Index) =
      IvfPq.search(ix, probes, k = 10, nprobe = IvfPqNprobe,
        m = PqM, kCodes = PqKCodes)
        .select("probe_id", "cand_id", "adc")
    val sym = top(base).exceptAll(top(roundTrip))
      .unionAll(top(roundTrip).exceptAll(top(base)))
      .select(col("probe_id"), lit(false).as("__bad")).distinct()
    probes.select(col("vec_id").as("probe_id"))
      .join(sym, Seq("probe_id"), "left")
      .select(col("probe_id"), col("__bad").isNull.as("identical"))
  }

  /** Frozen-index UPDATE gate (r16 — the re-crawl twin of
    * q_corpus_amend for similarity search: a changed document's NEW
    * embedding replaces the old under the SAME id): corpus ids [5,10)
    * are updated IN PLACE to byte-copies of the probe vectors via
    * [[graft.operators.IvfPq.update]] (retract∘append, frozen
    * centroids/codebooks). Two closed-form claims per probe:
    *
    *  - the updated twin scores the MINIMAL ADC in its probe's top-k
    *    (its codes are the per-subspace argmin of the probe's own
    *    residual table — the ivfPqAppendPlanted argument, through the
    *    update path: proves the NEW content is findable);
    *  - updating the victims BACK to their original vectors restores
    *    the base index's per-probe (candidate, ADC) sets BYTE-exactly
    *    (update∘update closure: proves the OLD content fully left —
    *    one stale code row would red the restore). */
  val ivfPqUpdatePlanted: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.IvfPq
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 5)
    val newContent = probes
      .select((col("vec_id") + 5).as("vec_id"), col("embedding"))
    val base = ivfPqIndex(s, d)
    val updated = IvfPq.update(base, newContent, m = PqM, k = PqKCodes)
    val isMin = IvfPq.search(updated, probes, k = 10,
        nprobe = IvfPqNprobe, m = PqM, kCodes = PqKCodes)
      .withColumn("__min",
        min(col("adc")).over(Window.partitionBy("probe_id")))
      .filter(col("cand_id") === col("probe_id") + 5)
      .select(col("probe_id"),
        (col("adc") === col("__min")).as("twin_is_min_adc"))
    val restored = IvfPq.update(updated,
      emb.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      m = PqM, k = PqKCodes)
    def top(ix: graft.operators.IvfPq.Index) =
      IvfPq.search(ix, probes, k = 10, nprobe = IvfPqNprobe,
        m = PqM, kCodes = PqKCodes)
        .select("probe_id", "cand_id", "adc")
    val bad = top(base).exceptAll(top(restored))
      .unionAll(top(restored).exceptAll(top(base)))
      .select(col("probe_id"), lit(false).as("__bad")).distinct()
    isMin.join(bad, Seq("probe_id"), "left")
      .select(col("probe_id"), col("twin_is_min_adc"),
        col("__bad").isNull.as("restore_identical"))
  }

  /** The at-rest day-1 index of [[annAppend]]: built over vec_id <
    * cut only, persisted with the buildOrLoad artifact discipline
    * (its fingerprint covers exactly the day-1 id set). */
  private[graft] def day1IvfPqIndex(s: SparkSession, d: String,
      cut: Long) =
    graft.operators.IvfPq.buildOrLoad(
      Tables.embeddings(s, d).filter(col("vec_id") < cut),
      Artifacts.cacheDir,
      tag = new java.io.File(d).getCanonicalPath + s"|day1<$cut",
      lists = IvfPqLists, m = PqM, k = PqKCodes)

  def ensureAnnAppendIndex(s: SparkSession, d: String): Unit = {
    val cut = Tables.embeddings(s, d).agg(max(col("vec_id"))
      .cast("long")).head().getLong(0) * 2 / 3 + 1
    day1IvfPqIndex(s, d, cut); ()
  }

  /** Frozen-index append gate (round 5): byte-identical copies of the
    * first five corpus vectors, ids offset past max(vec_id), appended to
    * the PERSISTED index with NO retraining ([[graft.operators.IvfPq
    * .append]]) — each copy must score the MINIMAL ADC in its twin
    * probe's top-k, because its codes are the per-subspace argmin
    * encoding of the probe's own residual: adc = Σ_j min_c dtable[j][c].
    * Rounding is monotone, so the rounded twin ADC is still the rounded
    * minimum — closed-form, hash-gated. */
  val ivfPqAppendPlanted: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 5)
    val off = emb.agg((max("vec_id") + 1).as("__off"))
    val batch = probes.crossJoin(broadcast(off))
      .select((col("vec_id") + col("__off")).as("vec_id"),
        col("embedding"))
    val grown = graft.operators.IvfPq.append(ivfPqIndex(s, d), batch,
      m = PqM, k = PqKCodes)
    graft.operators.IvfPq.search(grown, probes, k = 10,
      nprobe = IvfPqNprobe, m = PqM, kCodes = PqKCodes)
      .withColumn("__min",
        min(col("adc")).over(Window.partitionBy("probe_id")))
      .crossJoin(broadcast(off))
      .filter(col("cand_id") === col("probe_id") + col("__off"))
      .select(col("probe_id"), col("cand_id"),
        (col("adc") === col("__min")).as("is_min_adc"))
  }

  /** Resample + forward fill (round 5): 6-hour grid per user over the
    * 30-day event log — slot grain first (the scale reduction), then
    * grid + running last(ignoreNulls). Values ride through untouched
    * (no arithmetic), so the gate hashes raw doubles exactly. */
  val resampleFfill: Q = (s, d) =>
    graft.operators.TimeSeries.resample(Tables.events(s, d),
      "user_id", "ts", "event_id", "value", intervalSec = 21600L)

  /** Linear-interpolation resample (round 9): the [[resampleFfill]]
    * grid with gaps bridged by the bracketing known slots — raw doubles
    * hash because the interpolation is one fixed IEEE sequence over
    * exact slot integers. */
  val resampleInterp: Q = (s, d) =>
    graft.operators.TimeSeries.resampleInterp(Tables.events(s, d),
      "user_id", "ts", "event_id", "value", intervalSec = 21600L)

  /** Cohort retention matrix (round 5): the third member of the
    * product-analytics family (sessionize = within-visit, funnel =
    * conversion order, retention = repeat engagement over calendar
    * time). Cohort = ISO week of a user's FIRST event; each cell is
    * how many of that cohort were active `week_offset` weeks later.
    *
    * Scale shape: one user-grain min-aggregate, one distinct over
    * (user, week) — both shuffle on user_id and at 100 TB carry ids +
    * 8-byte weeks only — then a cells aggregate whose key space is
    * weeks², tiny by construction. The cohort_size join is
    * broadcast-scale (one row per week). Offsets stay exact: Monday
    * truncation on both engines, day-diffs are multiples of 7. */
  val cohortRetention: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cohorts = ev.groupBy("user_id")
      .agg(date_trunc("week", min("ts")).cast("date").as("cohort_week"))
    val active = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("activity_week"))
      .distinct()
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    active.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("activity_week"), col("cohort_week")) / 7)
          .cast("int").as("week_offset"))
      .agg(countDistinct("user_id").as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
  }

  /** PMI collocations (round 5): corpus-level glued-pair extraction —
    * the vocabulary-building dual of the surprisal filters. minCount=3
    * at sf0.01 keeps the gate's output vocabulary-sized; per-row log
    * over exact counts, no summation order anywhere. */
  val pmiCollocations: Q = (s, d) =>
    graft.operators.TextScore.pmiCollocations(
      Tables.documents(s, d), "text", minCount = 3)

  /** PQ-compressed ANN: train → encode (32× smaller than raw vectors) →
    * ADC top-k from codes only (rows-only; recall + reconstruction
    * oracles in PqSpec). */
  val pqTopK: Q = (s, d) => {
    // the sf parquet is a single file ⇒ one input partition; spread the
    // per-row encode/train folds across cores (a 100 TB corpus arrives
    // multi-partition on its own — this is local-file posture only)
    val emb = Tables.embeddings(s, d).repartition(col("vec_id"))
    val books = graft.operators.Pq.trainCodebooks(emb, "vec_id",
      "embedding", m = PqM, k = PqKCodes)
    val codes = graft.operators.Pq.encode(emb, "embedding", books,
      m = PqM, k = PqKCodes)
      .select("vec_id", "pq_codes")
    val probes = emb.filter(col("vec_id") < 5)
    // codes-only ADC top-R, then exact-L2 refine of those R ids — the
    // ADC+R recipe; ADC alone caps near recall 0.45 on this corpus at
    // ANY codebook size (quantization noise > neighbor gaps)
    val shortlist = graft.operators.Pq.adcTopK(codes, books, probes,
      k = PqRefine, m = PqM, kCodes = PqKCodes)
    graft.operators.AnnSearch.refineTopK(shortlist, emb, probes,
      k = 10, metric = "l2")
  }

  /** CDC MERGE/apply (round 6): customer snapshot + the events feed as a
    * change stream (latest event wins per user; `error` = delete,
    * anything else = acctbal upsert). One max_by compaction + one
    * full-outer key join — see [[graft.operators.Cdc]] for the 100 TB
    * shape. */
  val cdcApply: Q = (s, d) => {
    val base = Tables.customer(s, d)
    val changes = Tables.events(s, d).select(
      col("user_id").as("c_custkey"), col("ts"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
        .as("op"),
      col("value").as("c_acctbal"))
    graft.operators.Cdc.applyChanges(base, changes,
        keyCols = Seq("c_custkey"), orderCols = Seq("ts", "event_id"),
        opCol = "op", deleteOp = "D")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"),
        col("ts").as("last_change_ts"),
        col("event_id").as("last_change_id"))
  }

  /** k-anonymity audit (round 6): (lang, source, length-centile bucket)
    * as the quasi-identifier over documents; combos shared by < 10 docs
    * flag `at_risk`. See [[graft.operators.Profile.kAnonymity]]. */
  val kanonAudit: Q = (s, d) =>
    graft.operators.Profile.kAnonymity(
      Tables.documents(s, d),
      quasiCols = Seq(col("lang"), col("source"),
        (col("n_chars") / 100).cast("long").as("len_bucket")),
      k = 10)

  /** l-diversity audit (round 12, [[graft.operators.Profile.lDiversity]]):
    * the same quasi-identifier combination as q_kanon_audit, with the
    * document source as the sensitive attribute — a (lang, len_bucket)
    * group whose members all share one source leaks it even when the
    * group is k-anonymous. */
  val ldivAudit: Q = (s, d) =>
    graft.operators.Profile.lDiversity(
      Tables.documents(s, d),
      quasiCols = Seq(col("lang"),
        (col("n_chars") / 100).cast("long").as("len_bucket")),
      sensitiveCol = "source", l = 3)

  /** t-closeness audit (round 13,
    * [[graft.operators.Profile.tCloseness]]): the same quasi-identifier
    * combination as q_ldiv_audit with source as the sensitive
    * attribute — a (lang, len_bucket) group whose source MIX deviates
    * from the corpus-wide mix by variational distance > 0.2 leaks
    * through the skew even when l-diverse. Exact-integer numerators,
    * t one fixed IEEE chain, hash-gate exact. */
  val tcloseAudit: Q = (s, d) =>
    graft.operators.Profile.tCloseness(
      Tables.documents(s, d),
      quasiCols = Seq(col("lang"),
        (col("n_chars") / 100).cast("long").as("len_bucket")),
      sensitiveCol = "source", t = 0.2)

  /** Per-language source-mix entropy (round 12,
    * [[graft.operators.Profile.categoryEntropy]]): the concentration
    * monitor — a language whose source distribution collapses shows a
    * falling norm_entropy round over round. */
  val sourceEntropy: Q = (s, d) =>
    graft.operators.Profile.categoryEntropy(
      Tables.documents(s, d), Seq("lang"), "source")

  /** Robust per-language length scaling (round 12,
    * [[graft.operators.Outliers.robustScale]]): (n_chars − median)/IQR
    * with exact discrete quartiles — integer inputs make every scaled
    * value one IEEE division of exact integers, gated RAW. */
  val robustScaleLen: Q = (s, d) =>
    graft.operators.Outliers.robustScale(
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars")),
      Seq("lang"), "n_chars", v => floor(v / 100.0))

  /** Deterministic weighted Bernoulli sample (round 6): keep probability
    * proportional to doc length, decided by EXACT integer arithmetic —
    * u32(md5(doc_id)) · max(n_chars) < n_chars · 2³². No doubles, no RNG
    * state: re-runs, engines, and partitionings all pick the identical
    * sample (the [[sampleHash]] discipline, weighted). The corpus max is
    * one 1-row broadcast; the pass itself is map-only. */
  val sampleWeighted: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val wmax = docs.agg(max("n_chars").as("__wmax"))
    docs.crossJoin(broadcast(wmax))
      .filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") * col("__wmax")
          < col("n_chars") * lit(4294967296L))
      .select("doc_id", "lang", "n_chars")
  }

  /** Per-node triangle counts (round 6) over the part co-purchase graph
    * (parts sharing an order). Degree-oriented wedge closure — see
    * [[graft.operators.Graph.triangleCounts]]; the oracle reproduces the
    * orientation-independent output with a naive i<j<k 3-way join. */
  val triangleCounts: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
    val edges = li.alias("x")
      .join(li.alias("y"), Seq("l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    graft.operators.Graph.triangleCounts(edges, "src", "dst")
  }

  /** Within-group decile assignment (round 10): documents ranked into
    * deciles by length PER SOURCE — the feature-normalization /
    * stratified-binning primitive, and the public query surface of
    * [[graft.operators.Selection.ntileScore]] (a source is a
    * potentially hot group key, exactly the case the two-phase form
    * exists for; the oracle replays the plain ntile window). */
  val decileNorm: Q = (s, d) =>
    graft.operators.Selection.ntileScore(
      Tables.documents(s, d).select("doc_id", "source", "n_chars"),
      10, Seq("source"), floor(col("n_chars") / 32),
      Seq(col("n_chars").asc, col("doc_id").asc), "decile")
      .select("doc_id", "source", "n_chars", "decile")

  /** Local clustering coefficient (round 10) over the same part
    * co-purchase graph as [[triangleCounts]]:
    * `2·T(v) / (deg(v)·(deg(v)−1))`, raw IEEE division over exact
    * counts (see [[graft.operators.Graph.clusteringCoefficient]]). */
  val clusteringCoeff: Q = (s, d) => {
    // the % 4 == 0 part slice keeps this gate from paying the full
    // wedge closure a SECOND time per bench run (q_triangle_counts
    // already drills the full graph); the operator semantics are
    // identical on the subgraph and the oracle applies the same slice
    val li = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select("l_orderkey", "l_partkey")
    val edges = li.alias("x")
      .join(li.alias("y"), Seq("l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    graft.operators.Graph.clusteringCoefficient(edges, "src", "dst")
  }

  /** Long-chain connected components, planted (round 10,
    * [[graft.operators.Graph.connectedComponentsStar]]): doc ids link
    * into 100-node PATHS (i → i+1 within each block of 100) — diameter
    * 99, the transitive near-dup-chain shape that starves hash-min
    * propagation (one round per hop; the default round budget raises)
    * while large/small-star converges in ≤ ~7 alternations. The oracle
    * predicts every label as the block minimum. */
  val componentsChainPlanted: Q = (s, d) => {
    val edges = Tables.documents(s, d)
      .filter(col("doc_id") % 100 =!= 99)
      .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
    graft.operators.Graph.connectedComponentsStar(edges, "src", "dst")
  }

  /** Adamic–Adar link prediction (round 10,
    * [[graft.operators.Graph.adamicAdar]]) over the same co-purchase
    * slice as [[clusteringCoeff]]: top-50 non-adjacent part pairs by
    * Σ 1/ln(deg) common-neighbor evidence. The hub cap is pinned far
    * above the fixture's max degree, so the candidate generation is
    * exhaustive here and the oracle replays it directly. */
  val adamicAdarTopk: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select("l_orderkey", "l_partkey")
    val edges = li.alias("x")
      .join(li.alias("y"), Seq("l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    graft.operators.Graph.adamicAdar(edges, "src", "dst",
      topK = 50, maxHubDegree = 100000)
  }

  /** Grid-bucketed spatial radius join (round 9,
    * [[graft.operators.Spatial]]): deterministic integer coordinates
    * derived from customer keys (pure modular arithmetic, so both
    * engines compute identical points), all pairs within radius 100 by
    * exact squared distance. The oracle pays the brute-force O(n²)
    * the grid exists to avoid. */
  val spatialRadius: Q = (s, d) => {
    // uniform scatter via the repo's cross-engine md5 recipe (a linear
    // c_custkey*p % m lattice has NO close pairs — probed empirically)
    def coord(salt: String) = conv(substring(md5(concat(lit(salt),
      lit("_"), col("c_custkey").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 10000
    val pts = Tables.customer(s, d).select(
      col("c_custkey").as("id"), coord("px").as("x"), coord("py").as("y"))
    graft.operators.Spatial.radiusJoin(pts, "id", "x", "y", 100L)
  }

  /** BFS hop distances (round 9): frontier-expanding level-synchronous
    * BFS from customer 1 over the undirected customer–supplier bipartite
    * graph (supplier ids offset into a disjoint range). The oracle
    * replays the same hop-capped walk as a recursive CTE (UNION dedups
    * the (node, dist) frontier) and takes min(dist) — exact BFS levels
    * as long as the true eccentricity fits the shared cap, which the
    * dense bipartite fixture satisfies with wide margin. */
  val bfsHops: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(10000000L)).as("dst"))
    graft.operators.Graph.bfsHops(edges, "src", "dst", Seq(1L),
      maxHops = 8)
  }

  /** Weighted shortest paths (round 9): Bellman–Ford from customer 1
    * over the same bipartite graph with small integer edge weights
    * (1 + suppkey parity — kept tiny on purpose so the oracle CTE's
    * path enumeration stays bounded). The Spark loop early-stops at the
    * true fixpoint; the oracle enumerates every walk with cumulative
    * distance < 20 (a strict superset of all optimal paths here, since
    * true distances are single digits on this dense fixture) and takes
    * the min. Exact Long arithmetic end to end. */
  val ssspWeighted: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(10000000L)).as("dst"),
        (lit(1L) + col("l_suppkey") % 2).as("w"))
    graft.operators.Graph.shortestPathsWeighted(edges, "src", "dst", "w",
      Seq(1L), maxHops = 20)
  }

  /** Distributed global sequence assignment (round 7) — contiguous
    * 0..N-1 event ids in (ts, event_id) order via day-bucket offsets,
    * with no single-partition window anywhere
    * ([[graft.operators.Sequence]]). Gate aggregates per day: min/max/sum
    * of an offset range are closed-form, so any off-by-bucket error
    * breaks the hash. */
  val globalSeq: Q = (s, d) =>
    graft.operators.Sequence.assignGlobalSeq(
        Tables.events(s, d).select("event_id", "ts"),
        bucket = to_date(col("ts")),
        orderCols = Seq(col("ts"), col("event_id")))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        min("seq").as("min_seq"), max("seq").as("max_seq"),
        sum("seq").as("sum_seq"),
        min_by(col("event_id"), col("seq")).as("first_event"))

  /** Bucketed interval-overlap join (round 7,
    * [[graft.operators.IntervalJoin]]): 10-minute error windows ×
    * 10-minute purchase windows with positive time overlap — candidates
    * from an hour-bucket equi-join instead of the quadratic nested loop
    * a raw theta join plans to. Overlap in exact integer microseconds. */
  val intervalOverlap: Q = (s, d) => {
    val ev = Tables.events(s, d)
    def win(t: String) = ev.filter(col("event_type") === t)
      .select(col("event_id"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    graft.operators.IntervalJoin.overlapJoin(
        win("error"), "event_id", "s", "e",
        win("purchase"), "event_id", "s", "e", bucketWidthSec = 3600)
      .select(col("l_id").as("err_id"), col("r_id").as("pur_id"),
        col("overlap_us"))
  }

  /** Incremental aggregate maintenance (round 7,
    * [[graft.operators.IncrementalAgg]]): the per-priority revenue
    * rollup refreshed by a CDC delta batch (delete every 13th order,
    * insert a modified copy of every 17th) — merged state must equal a
    * from-scratch recomputation EXACTLY (decimal folds), which is what
    * lets refreshes chain indefinitely without drift. The oracle
    * recomputes from the post-CDC state. */
  val incrementalAgg: Q = (s, d) => {
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val base = graft.operators.IncrementalAgg.rollup(
      orders, Seq("o_orderpriority"), Seq("o_totalprice"))
    val dels = orders.filter(col("o_orderkey") % 13 === 0)
      .withColumn("op", lit(-1))
    val ins = orders.filter(col("o_orderkey") % 17 === 0)
      .select((col("o_orderkey") + 900000000L).as("o_orderkey"),
        col("o_orderpriority"),
        (col("o_totalprice") + 10.0).as("o_totalprice"))
      .withColumn("op", lit(1))
    graft.operators.IncrementalAgg.applyDelta(base,
        dels.unionByName(ins), Seq("o_orderpriority"),
        Seq("o_totalprice"))
      .select(col("o_orderpriority"), col("n"),
        col("o_totalprice_sum").cast("double").as("total"))
  }

  /** Min/max IVM (round 8, [[graft.operators.IncrementalAgg
    * .applyDeltaWithMinMax]]): the delta DELETES every group's top-5
    * totalprice rows — exactly the case plain IVM cannot self-maintain —
    * plus inserts, and the two-tier refresh (merge unaffected groups,
    * re-derive affected ones from the pruned base) must equal the
    * from-scratch oracle on count, exact-decimal sum, AND both bounds. */
  val incrementalMinmax: Q = (s, d) => {
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val dels = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn").withColumn("op", lit(-1))
    val ins = orders.filter(col("o_orderkey") % 17 === 0)
      .select((col("o_orderkey") + 900000000L).as("o_orderkey"),
        col("o_orderpriority"),
        (col("o_totalprice") + 10.0).as("o_totalprice"))
      .withColumn("op", lit(1))
    val base = graft.operators.IncrementalAgg.rollup(orders,
      Seq("o_orderpriority"), Seq("o_totalprice"), withMinMax = true)
    graft.operators.IncrementalAgg.applyDeltaWithMinMax(orders, base,
        dels.unionByName(ins), Seq("o_orderpriority"), Seq("o_totalprice"))
      .select(col("o_orderpriority"), col("n"),
        col("o_totalprice_sum").cast("double").as("total"),
        col("o_totalprice_min").as("mn"), col("o_totalprice_max").as("mx"))
  }

  /** Dataset manifest digest (round 7,
    * [[graft.operators.ManifestDigest]]): 64-bucket order-independent
    * content digests of the corpus — the run-over-run reproducibility
    * check. XOR makes the digest partition-order-free on BOTH engines,
    * so the gate hashes exactly. */
  val manifestDigest: Q = (s, d) =>
    graft.operators.ManifestDigest.manifest(
      Tables.documents(s, d), "doc_id", Seq("text", "lang"), buckets = 64)

  /** Manifest diff (round 7): digests of the corpus vs a derived next
    * snapshot (every 7th doc dropped, every 5th edited) — only buckets
    * actually touched surface; the dataset-level rsync step. */
  val manifestDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.operators.ManifestDigest.diffBuckets(
      graft.operators.ManifestDigest.manifest(docs, "doc_id",
        Seq("text", "lang"), 64),
      graft.operators.ManifestDigest.manifest(v2, "doc_id",
        Seq("text", "lang"), 64))
  }

  /** OHLC bars (round 7, [[graft.operators.TimeSeries.ohlc]]): 6-hour
    * open/high/low/close candles per user — one partial-agg groupBy,
    * open/close via min_by/max_by over the (ts, id) struct, no window
    * sort anywhere. Values ride untouched, so raw doubles hash. */
  val ohlcBars: Q = (s, d) =>
    graft.operators.TimeSeries.ohlc(
      Tables.events(s, d).select("user_id", "ts", "event_id", "value"),
      "user_id", "ts", "event_id", "value", intervalSec = 21600)

  /** Two-tier interval join on a heavy-tailed mix (round 7): every 20th
    * purchase opens a 24-HOUR window (the long tail — thousands of
    * bucket touches under plain decomposition), the rest 10 minutes;
    * the long tier broadcasts through the raw predicate while the bulk
    * stays bucketed. Same exactness contract as q_interval_overlap. */
  val intervalMixed: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts").as("s"),
        when(col("event_id") % 20 === 0,
          col("ts") + expr("INTERVAL 24 HOURS"))
          .otherwise(col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    graft.operators.IntervalJoin.overlapJoinTwoTier(
        errs, "event_id", "s", "e", purch, "event_id", "s", "e",
        bucketWidthSec = 3600, longThresholdSec = 3600)
      .select(col("l_id").as("err_id"), col("r_id").as("pur_id"),
        col("overlap_us"))
  }

  /** Corpus drift PSI (round 7, [[graft.operators.Drift]]): length
    * distribution of a derived next-snapshot (every 7th doc dropped,
    * every 5th lengthened) vs the baseline, bucketed at 5 tokens, per
    * language — the drift monitor a recurring ingest runs before
    * promoting a snapshot. Counts exact; each bucket term is
    * division+ln (bit-identical); psi rounds 6dp (transcendental —
    * boundary-free per the NOTES taxonomy). */
  val corpusDrift: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
    def bucketed(df: DataFrame) = df.select(col("lang"),
      floor(size(filter(split(lower(col("text")), " "),
        t => length(t) > 0)) / 5).cast("int").as("bk"))
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" drift extra tokens appended here")))
          .otherwise(col("text")))
    graft.operators.Drift.psi(bucketed(docs), bucketed(v2),
      groupCols = Seq("lang"), bucketCol = "bk")
  }

  /** Group-atomic split assignment (round 7): the GroupKFold discipline —
    * membership hashes the SOURCE, so a domain's pages can never
    * straddle train/test (near-dups within a site leak through id-hash
    * splits even after doc-level dedup; group-level assignment is the
    * structural fix). [[graft.operators.Splits.assign]] already hashes
    * whatever column it is given — the discipline is choosing the
    * group key. One row per source proves atomicity. */
  val groupSplit: Q = (s, d) =>
    graft.operators.Splits.assign(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        idCol = "source",
        Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      .groupBy("source")
      .agg(first("split").as("split"), count(lit(1)).as("n_docs"),
        countDistinct("split").as("n_splits"))

  /** Per-group winsorization at exact discrete quantiles (round 7,
    * [[graft.operators.Outliers.winsorize]]): token counts clip to
    * [p5, p95] per language — percentile_disc picks actual elements, so
    * clipped integers stay integers and the sums hash exactly. */
  val winsorizeLengths: Q = (s, d) =>
    graft.operators.Outliers.winsorize(
        Tables.documents(s, d)
          .select(col("lang"),
            size(filter(split(lower(col("text")), " "),
              t => length(t) > 0)).as("n_tokens")),
        groupCols = Seq("lang"), valueCol = "n_tokens",
        lo = 0.05, hi = 0.95)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("winsorized").cast("long")).as("sum_winsorized"),
        min("__lo").as("lo"), max("__hi").as("hi"))

  /** Per-language token-length outliers by median/MAD (round 7,
    * [[graft.operators.Outliers]]) — the robust length filter of corpus
    * curation. Integer token counts make every median, MAD, and
    * comparison dyadic-exact, so the flag hash-matches DuckDB. */
  val lengthOutliers: Q = (s, d) =>
    graft.operators.Outliers.madSummary(
      Tables.documents(s, d)
        .select(col("lang"),
          size(filter(split(lower(col("text")), " "),
            t => length(t) > 0)).as("n_tokens")),
      groupCols = Seq("lang"), valueCol = "n_tokens", k = 3.0)

  /** Data-quality audit (round 8, [[graft.operators.Validate]]): the
    * expectation suite an ingest runs before promoting a snapshot, over
    * orders with two planted corruption classes (null-custkey/bad-domain
    * duplicates, dangling foreign keys). Row rules fold into one scan;
    * uniqueness is one key groupBy; the FK check is one anti join.
    * Pure integer counts → exact gate. */
  val validateAudit: Q = (s, d) => {
    import graft.operators.Validate
    val orders = Tables.orders(s, d)
    val bad1 = orders.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), lit(null).cast("bigint").as("o_custkey"),
        lit("X").as("o_orderstatus"), lit(-5.0).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val bad2 = orders.filter(col("o_orderkey") % 173 === 0)
      .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
        (col("o_custkey") + 900000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val audited = orders.unionByName(bad1).unionByName(bad2)
    Validate.report(audited, Seq(
      Validate.NotNull("custkey_not_null", "o_custkey"),
      Validate.InRange("price_range", "o_totalprice", 0.0, 1e6),
      Validate.InSet("status_domain", "o_orderstatus",
        Seq("O", "F", "P")),
      Validate.Matches("priority_format", "o_orderpriority", "^[1-5]-"),
      Validate.Unique("orderkey_unique", Seq("o_orderkey")),
      Validate.Referential("custkey_fk", "o_custkey",
        Tables.customer(s, d).select("c_custkey"))))
  }

  /** Sequential pattern matching (round 8,
    * [[graft.operators.Patterns]]): greedy non-overlapping
    * signup→click→purchase completions per user with a 7-day max gap
    * between consecutive steps — MATCH_RECOGNIZE-lite as a single-
    * exchange in-row fold; the DuckDB oracle replays the identical
    * (ts, id)-ordered recurrence with a recursive CTE (the
    * q_ema_features argument), integer-µs arithmetic only. */
  val eventPattern: Q = (s, d) =>
    graft.operators.Patterns.matchSequence(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      pattern = Seq("signup", "click", "purchase"),
      maxGapUs = Some(7L * 86400 * 1000000))

  /** Equi-depth discretization (round 8,
    * [[graft.operators.Features.equiDepthBins]]): per-language 4-bin
    * quantile buckets over doc lengths — pure integer rank math, total
    * order (n_chars, doc_id), no percentile interpolation. */
  val featureBins: Q = (s, d) =>
    graft.operators.Features.equiDepthBins(
      Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
      groupCols = Seq("lang"), valueCol = "n_chars", nbins = 4,
      tieBreak = Seq("doc_id"))

  /** Leave-one-out target encoding (round 8,
    * [[graft.operators.Features.targetEncodeLoo]]): each order's
    * priority encoded as the mean totalprice of the OTHER orders of
    * that priority — decimal-exact sums, one broadcast stats join. */
  val targetEncode: Q = (s, d) =>
    graft.operators.Features.targetEncodeLoo(
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice"),
      catCol = "o_orderpriority", targetCol = "o_totalprice")
      .select("o_orderkey", "o_orderpriority", "target_enc")

  /** Exact Pearson correlation matrix (round 8,
    * [[graft.operators.Features.corrMatrix]]): all pairwise corrs of
    * four lineitem measures from ONE decimal-moment aggregation; the
    * closed-form over exact doubles (incl. IEEE-correct sqrt) is
    * bit-identical cross-engine, so raw doubles hash. */
  val corrMatrix: Q = (s, d) =>
    graft.operators.Features.corrMatrix(
      Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Fightin' Words corpus comparison (round 8,
    * [[graft.operators.TextScore.logOddsDirichlet]]): which terms
    * distinguish the en slice from the de slice, as log-odds deltas
    * under an informative Dirichlet prior with z-scores — the
    * statistically-shrunk term-drift screen. Exact counts; δ and z
    * round 6dp (ln/sqrt). */
  val fightinWords: Q = (s, d) =>
    graft.operators.TextScore.logOddsDirichlet(
      Tables.documents(s, d), "text", "lang", "en", "de")

  /** Lag-1 autocorrelation per user (round 8,
    * [[graft.operators.Features.groupedCorr]]): each user's event
    * values against their immediate predecessor — the periodicity/
    * stickiness screen; raw per-group Pearson over exact cent
    * moments. */
  val autocorr: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val lagged = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_value", lag("value", 1).over(w))
      .filter(col("prev_value").isNotNull)
    graft.operators.Features.groupedCorr(lagged, Seq("user_id"),
      "value", "prev_value")
  }

  /** Rolling z-score anomalies (round 8,
    * [[graft.operators.TimeSeries.rollingZscore]]): each event's value
    * scored against its user's trailing-20 baseline (current row
    * excluded); decimal-exact frame moments, raw IEEE z-scores. */
  val rollingZscore: Q = (s, d) =>
    graft.operators.TimeSeries.rollingZscore(
        Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", "value")
      .select("event_id", "user_id", "n_frame", "z", "is_anomaly")

  /** Hampel outlier screen ([[graft.operators.TimeSeries.hampel]],
    * r14): every event's value against its ±3-row window median/MAD —
    * the robust companion to q_rolling_zscore (mean/stddev are
    * dragged by the very spikes being hunted). Per-user summary:
    * counts exact, med/mad picks or one-add-one-divide chains. */
  val hampelEvents: Q = (s, d) =>
    graft.operators.TimeSeries.hampel(
        Tables.events(s, d).select("user_id", "ts", "event_id", "value"),
        "user_id", Seq("ts", "event_id"), "value", halfWin = 3, k = 3.0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("is_outlier").cast("long")).as("n_outliers"),
        min("med").as("min_med"), max("med").as("max_med"),
        max("mad").as("max_mad"))

  /** Durbin–Watson per user ([[graft.operators.TimeSeries
    * .durbinWatson]], r14): serial correlation left by each user's
    * value-vs-rank OLS line — what q_autocorr asks of the raw series,
    * asked of the detrended residuals. Cent-scaled values make the
    * scaled residuals exact integers; dw is one raw division. */
  val durbinWatsonUsers: Q = (s, d) =>
    graft.operators.TimeSeries.durbinWatson(
      Tables.events(s, d).withColumn("cents",
        floor(col("value") * 100 + 0.5).cast("long")),
      "user_id", Seq("ts", "event_id"), "cents")

  /** Embargoed time split (round 8,
    * [[graft.operators.Splits.timeSplit]]): purged walk-forward
    * train/test assignment over the event log — test from Jan 22, a
    * 2-day embargo gap excluded from both sides (the temporal leakage
    * an id-hash split can't prevent). Map-only integer-µs labels. */
  val timeSplit: Q = (s, d) =>
    graft.operators.Splits.timeSplit(Tables.events(s, d), "ts",
        testStartUs = 1705881600000000L,
        embargoUs = 2L * 86400 * 1000000)
      .groupBy("split")
      .agg(count(lit(1)).as("n"), min("ts").as("min_ts"),
        max("ts").as("max_ts"))

  /** Categorical dependence screening (round 8,
    * [[graft.operators.Features.catDependence]]): the event_type ×
    * day-of-week contingency table with per-cell chi² and MI
    * contributions — exact counts, raw per-cell IEEE terms, only the
    * transcendental MI term rounded. */
  val catDependence: Q = (s, d) =>
    graft.operators.Features.catDependence(
      Tables.events(s, d).select(col("event_type"),
        dayofweek(col("ts")).as("dow")),
      "event_type", "dow")

  /** Incremental JOIN-view maintenance (round 8,
    * [[graft.operators.IncrementalJoin]]): the orders⋈customer view
    * refreshed under same-batch deltas on BOTH sides (order deletes +
    * modified re-inserts, customer deletes that cascade order rows out,
    * no-op customer inserts) — the signed delta algebra incl. the cross
    * term; O(delta) work, bases never re-joined in full. Oracle
    * recomputes the post-CDC join from scratch. */
  val incrementalJoin: Q = (s, d) => {
    val a = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("k"),
        col("o_totalprice"))
    val b = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_mktsegment"),
        col("c_nationkey"))
    val view = a.join(b, Seq("k"))
    val dA = a.filter(col("o_orderkey") % 13 === 0)
      .withColumn("op", lit(-1))
      .unionByName(a.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
          col("k"), (col("o_totalprice") + 10.0).as("o_totalprice"))
        .withColumn("op", lit(1)))
    val dB = b.filter(col("c_nationkey") === 3)
      .withColumn("op", lit(-1))
      .unionByName(b.filter(col("c_nationkey") === 7)
        .select((col("k") + 900000000L).as("k"), col("c_mktsegment"),
          col("c_nationkey"))
        .withColumn("op", lit(1)))
    graft.operators.IncrementalJoin.refresh(view, a, b, dA, dB, Seq("k"))
  }

  /** k-core planted gate (round 8, [[graft.operators.Graph.kCore]]):
    * 6-clique + 10-path + 4-cycle + pendant at k=2 — the path must
    * cascade away over multiple peel rounds (endpoints erode inward),
    * the cycle survives exactly at the bound, the pendant edge drops
    * without taking its clique anchor. Closed-form core → VALUES
    * oracle. */
  val kcorePlanted: Q = (s, d) => {
    val s_ = s; import s_.implicits._
    val clique = for (i <- 0L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val path = (10L until 19L).map(i => (i, i + 1))
    val cycle = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L))
    val edges = (clique ++ path ++ cycle :+ ((30L, 0L)))
      .toDF("src", "dst").repartition(4)
    graft.operators.Graph.kCore(edges, "src", "dst", k = 2,
      numPartitions = Some(4))
  }

  /** Retrieval-metrics evaluation (round 8,
    * [[graft.operators.Retrieval]]): per-language precision/recall/MRR/
    * nDCG@10 of a deterministic run (docs ranked by length) against
    * planted graded judgments (every 4th doc, grade 1+id%3). Counts and
    * single-ratio metrics ship raw-exact; nDCG (log2 terms, fixed-order
    * fold) rounds at 6dp. */
  val irMetrics: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
    val run = docs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("lang"), col("doc_id"), col("rank"))
    val qrels = docs.filter(col("doc_id") % 4 === 0)
      .select(col("lang"), col("doc_id"),
        (lit(1) + col("doc_id") % 3).as("grade"))
    graft.operators.Retrieval.evaluate(run, qrels, "lang", "doc_id",
      "rank", "grade", k = 10)
  }

  /** Point-in-time (temporal) join (round 8,
    * [[graft.operators.TemporalJoin]]): every document probed at
    * version-time `doc_id % 4` against the SCD2 validity history the
    * q_scd2_history gate derives — the feature-store "dimension as of
    * event time" lookup. Runs on the sort-merge as-of plan node (no
    * interval explosion); t=0 probes pre-history, deleted/expired runs
    * surface as nulls, content changes pick the version live at t.
    * All-integer keys/times + md5 hashes → exact gate. */
  val temporalJoin: Q = (s, d) => {
    val v1 = Tables.documents(s, d).select("doc_id", "text")
    val v2 = v1.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val v3 = v2.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v3")))
          .otherwise(col("text")).as("text"))
    val hist = v1.withColumn("version", lit(1))
      .unionAll(v2.withColumn("version", lit(2)))
      .unionAll(v3.withColumn("version", lit(3)))
    val dim = graft.operators.CorpusDiff.scd2(hist, "doc_id", "text",
      "version", hasher = md5(_))
    val facts = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 4).cast("bigint").as("t"))
    graft.operators.TemporalJoin.pointInTime(facts, dim, "doc_id", "t",
      "valid_from", "valid_to", Seq("content_hash"), inclusiveEnd = true)
  }

  /** Deterministic PII-bearing corpus for the round-9 scrubbing gates:
    * every 5th doc gets an email, an IP, and a phone planted from its
    * id, every 3rd of those an SSN shape, every 4th a card shape — the
    * planted-twin recipe (both engines build the identical text, so
    * detection counts and the redacted strings hash exactly). */
  private def piiDocs(s: SparkSession, d: String) =
    Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" mail u"), col("doc_id").cast("string"),
        lit("@ex.com ip 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 call 555-123-4567"),
        when(col("doc_id") % 3 === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" card 4000-1111-2222-3333"))
          .otherwise(lit(""))).as("text"))

  /** PII detection counts ([[graft.operators.Pii.detect]]): map-only
    * regexp_count per class over the planted corpus. */
  val piiDetect: Q = (s, d) =>
    graft.operators.Pii.detect(piiDocs(s, d), "doc_id", "text")

  /** PII redaction ([[graft.operators.Pii.redact]]): class tokens
    * replace every match in the fixed class order; the redacted string
    * itself is the gate payload. */
  val piiRedact: Q = (s, d) =>
    graft.operators.Pii.redact(piiDocs(s, d), "doc_id", "text")

  /** Luhn validation of card-shaped matches (round 12,
    * [[graft.operators.Pii.luhnValidCards]]): the planted corpus
    * carries an ALWAYS-INVALID card shape on every 4th doc (checksum
    * 44) and a valid 4111-1111-1111-1111 on every 2nd — the gate pins
    * that shape counts and Luhn counts genuinely diverge. */
  val piiLuhn: Q = (s, d) =>
    graft.operators.Pii.luhnValidCards(
      piiDocs(s, d).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 2 === 0,
          lit(" pay 4111-1111-1111-1111")).otherwise(lit("")))
        .as("text")),
      "doc_id", "text")

  /** DSIR importance weights ([[graft.operators.Dsir]]): score every
    * document against the English-subset target distribution over
    * distinct bigrams — exact-vocabulary form, ln-rounded 6dp. */
  val dsirWeights: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // the target is a predicate over the scored pool itself — the
    // single-explode window form is value-identical (integer count
    // inputs) and scans/shuffles the text once (r18, guide §2.3)
    graft.operators.Dsir.importanceWeightsWithin(
      docs, col("lang") === "en", "doc_id", "text")
  }

  /** COUNT(DISTINCT) IVM (round 9,
    * [[graft.operators.IncrementalAgg.applyDistinctDelta]]): the
    * (priority, custkey) multiplicity state absorbs a mixed
    * delete+insert delta under the touched-rows discipline, then
    * per-priority exact distinct counts read off the state. Deleting
    * one of a customer's several orders must NOT drop the customer;
    * deleting the last one must. All-integer gate. */
  val incrementalDistinct: Q = (s, d) => {
    import graft.operators.IncrementalAgg
    val o = Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_custkey")
    val state = IncrementalAgg.distinctState(
      o, Seq("o_orderpriority"), "o_custkey")
    val dDel = o.filter(col("o_orderkey") % 13 === 0)
      .withColumn("op", lit(-1))
    val dIns = o.filter(col("o_orderkey") % 17 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_custkey") + 900000000L).as("o_custkey"))
      .withColumn("op", lit(1))
    val st2 = IncrementalAgg.applyDistinctDelta(state,
      dDel.unionByName(dIns), Seq("o_orderpriority"), "o_custkey")
    IncrementalAgg.distinctCounts(st2, Seq("o_orderpriority"))
  }

  /** Build-once artifacts for the summary-rewrite gate: a dedicated
    * COPY of lineitem (so the registration's scope is this gate's base
    * relation only — other suite queries on the real lineitem path
    * keep their plans byte-for-byte) plus its (returnflag, linestatus)
    * rollup: cnt / sum_qty / min_ship / max_ship. All derivable
    * quantities are exact (counts, integer-valued quantity sums, date
    * extremes), so serving from the rollup is value-identical.
    * Returns (basePath, summaryPath). */
  private def ensureMvArtifacts(s: SparkSession, d: String)
      : (String, String) = {
    // constant fingerprint: an existing artifact is fresh (a lineitem
    // scan per call would cost more than the rollup saves)
    val dir = Artifacts.cached(Artifacts.cacheDir,
        "mv_rewrite_" + Artifacts.key(canonical(d)), "ok") { dir =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
        .write.mode("overwrite").parquet(dir.resolve("base").toString)
      s.read.parquet(dir.resolve("base").toString)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"),
          min("l_shipdate").as("min_ship"), max("l_shipdate").as("max_ship"))
        .write.mode("overwrite").parquet(dir.resolve("summary").toString)
    }
    (dir.resolve("base").toString, dir.resolve("summary").toString)
  }

  /** Offline artifact build for the summary-rewrite gate (Bench
    * prebuild hook — the one-time copy+rollup write stays out of the
    * timed loop). Idempotent. */
  def ensureMvRewriteArtifacts(s: SparkSession, d: String): Unit = {
    ensureMvArtifacts(s, d); ()
  }

  /** Materialized-summary rewrite gate
    * ([[graft.plans.SummaryRewrite]]): the query is written against
    * the BASE relation; the registered rollup serves it via the
    * optimizer rule (plan-asserted in SummaryRewriteSpec — the gate
    * here pins values against the raw-lineitem oracle). */
  val mvRewrite: Q = (s, d) => {
    val (basePath, summaryPath) = ensureMvArtifacts(s, d)
    val base = s.read.parquet(basePath)
    graft.plans.SummaryRewrite.register(s, base,
      s.read.parquet(summaryPath),
      groupCols = Seq("l_returnflag", "l_linestatus"), cnt = "cnt",
      sums = Map("l_quantity" -> "sum_qty"),
      mins = Map("l_shipdate" -> "min_ship"),
      maxs = Map("l_shipdate" -> "max_ship"))
    s.read.parquet(basePath)
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
        min("l_shipdate").as("first_ship"),
        max("l_shipdate").as("last_ship"))
  }

  /** Welch's unequal-variance t-test (round 10,
    * [[graft.operators.Drift.welchT]]): did returned-line prices move
    * vs non-returned — the A/B-measurement primitive. Moments are
    * exact integer cents (hi/lo split squares); t and df are fixed
    * IEEE chains rounded 9dp, means/vars raw (exact-int divisions). */
  val welchTtest: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    graft.operators.Drift.welchT(
      li.filter(col("l_returnflag") === "R").select("l_extendedprice"),
      li.filter(col("l_returnflag") === "N").select("l_extendedprice"),
      "l_extendedprice")
  }

  /** Multiclass confusion statistics for the lang-id heuristic (round
    * 10, [[graft.operators.Eval.confusionStats]]): per-class TP/FP/FN
    * + precision/recall/F1 of the marker-word predictor against the
    * true `lang` column — the hard-decision audit next to q_lang_id's
    * per-doc dump. Counts exact longs; P/R/F1 fixed IEEE chains with
    * the sklearn zero-division convention. */
  val confusionF1: Q = (s, d) =>
    graft.operators.Eval.confusionStats(
      TextQueries.langIdOf(Tables.documents(s, d)), "lang", "predicted")

  /** Gini coefficient of customer revenue concentration (round 10,
    * [[graft.operators.Concentration.gini]]): distinct-cents collapse +
    * closed-form per-block rank sums — no per-row ranks, no global
    * sort; gini is one IEEE division of exact decimal integers. */
  val giniRevenue: Q = (s, d) =>
    graft.operators.Concentration.gini(
      customerRevenue(s, d), "revenue", v => floor(v / 10000000.0))

  /** Lorenz top-share cuts over the same revenue distribution (round
    * 10, [[graft.operators.Concentration.topShare]]): the share of
    * total revenue held by the top 1% / 10% / 50% of customers —
    * exact integer rank cuts (decimal discRank), boundary block split
    * exactly, share = one IEEE division. */
  val revenueTopShare: Q = (s, d) =>
    graft.operators.Concentration.topShare(
      customerRevenue(s, d), "revenue", Seq(0.01, 0.1, 0.5),
      v => floor(v / 10000000.0))

  private def customerRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(Exact.sumMoney(col("o_totalprice")).as("revenue"))

  /** Own-implementation HyperLogLog registers (round 10,
    * [[graft.operators.Hll.registers]]): every register is an integer
    * function of the md5 hash, so the DuckDB oracle rebuilds the
    * sketch CELL-FOR-CELL — the hash-gated counterpart to the
    * rows-only built-in q_agg_approx_distinct. */
  val hllRegisters: Q = (s, d) =>
    graft.operators.Hll.registers(Tables.orders(s, d), "o_custkey")

  /** HLL estimate with the small-range correction (round 10,
    * [[graft.operators.Hll.estimate]]): exact scaled-integer harmonic
    * sum; sf0.001 (150 distinct) lands the linear-counting branch,
    * sf0.01 (1500) the raw α·m²/S branch — both gated. */
  val hllEstimate: Q = (s, d) =>
    graft.operators.Hll.estimate(Tables.orders(s, d), "o_custkey")

  /** Per-language doc-length quartiles (round 10,
    * [[graft.operators.Selection.groupedQuantiles]]): percentile_disc
    * for every group in one pass — no per-group sort of raw rows, no
    * broadcast (equi join on the group key), hot groups bounded per
    * task by bucket granularity. */
  val groupedQuantilesQ: Q = (s, d) =>
    graft.operators.Selection.groupedQuantiles(
      Tables.documents(s, d), Seq("lang"), "n_chars",
      Seq(0.25, 0.5, 0.75), v => floor(v / 64.0))

  /** Holt linear-trend forecast over daily event counts per type
    * (round 10, [[graft.operators.TimeSeries.holtForecast]]): the
    * coupled (level, trend) recurrence as an in-row fold; α=0.5 /
    * β=0.25 are exact binary fractions so the DuckDB recursive-CTE
    * replay is literal-exact, and the whole chain ships raw (the
    * EMA/CUSUM gate class). */
  val holtDaily: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.TimeSeries.holtForecast(
      daily, "event_type", "day", "n",
      alpha = 0.5, beta = 0.25, horizon = 7)
  }

  /** Holt–Winters additive-seasonal forecast (round 12,
    * [[graft.operators.TimeSeries.holtWintersForecast]]): the same
    * daily series as q_holt_forecast with the weekly cycle modeled —
    * m = 7, exact binary α/β/γ, the recursive-CTE oracle replays the
    * identical sequential chain incl. the rolling seasonal buffer. */
  val holtWintersDaily: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.TimeSeries.holtWintersForecast(
      daily, "event_type", "day", "n",
      alpha = 0.5, beta = 0.25, gamma = 0.5, period = 7, horizon = 7)
  }

  /** Time-weighted average event value per user (round 12,
    * [[graft.operators.TimeSeries.timeWeightedAvg]]): each observation
    * holds until the user's next event, so chatty bursts don't
    * over-weight the mean — the step-series average a gauge needs. */
  val twapUser: Q = (s, d) =>
    graft.operators.TimeSeries.timeWeightedAvg(
      Tables.events(s, d).filter(col("user_id") < 200),
      "user_id", "ts", "value")

  /** Inter-arrival burstiness per user (round 12,
    * [[graft.operators.TimeSeries.burstiness]]): Goh–Barabási B over
    * each user's event gaps — the bot-vs-human traffic-shape screen. */
  val burstinessUser: Q = (s, d) =>
    graft.operators.TimeSeries.burstiness(
      Tables.events(s, d).filter(col("user_id") < 200),
      "user_id", "ts")

  /** ROUGE-2 over consecutive-doc pairs (round 10,
    * [[graft.operators.Eval.rougeN]]): doc i as candidate vs doc i+1
    * as reference within each 10-block — clipped bigram overlap
    * precision/recall/F1, the generation-eval member of the Eval
    * family. Counts exact; P/R/F1 raw IEEE chains. */
  val rouge2Pairs: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = docs.alias("c")
      .join(docs.alias("r"),
        col("c.doc_id") + 1 === col("r.doc_id") &&
          col("c.doc_id") % 10 =!= 9)
      .select(col("c.doc_id").as("pair_id"),
        col("c.text").as("cand"), col("r.text").as("ref"))
    graft.operators.Eval.rougeN(pairs, "pair_id", "cand", "ref", n = 2)
  }

  /** HITS hubs/authorities, planted (round 10,
    * [[graft.operators.Graph.hits]]): doc ids form complete bipartite
    * blocks per 20-id window — even blocks K(4,8), odd blocks K(2,8).
    * The L∞ maxima always come from a complete even block (4 and 8 —
    * POWERS OF TWO), so every normalized score is a dyadic rational,
    * per-node sums of equal values are order-invariant, and the
    * 4-iteration chain hashes RAW against a full SQL replay. Odd-block
    * scores decay 2× per round (eigenvalue √16 vs √32) — the ranking
    * HITS exists to produce. */
  val hitsPlanted: Q = (s, d) => {
    val m = Tables.documents(s, d)
      .select(col("doc_id"), expr("doc_id div 20").as("blk"),
        pmod(col("doc_id"), lit(20)).as("r"))
    val hubs = m.filter(
        (pmod(col("blk"), lit(2)) === 0 && col("r") < 4) ||
          (pmod(col("blk"), lit(2)) === 1 && col("r") < 2))
      .select(col("blk"), col("doc_id").as("src"))
    val auths = m.filter(
        (pmod(col("blk"), lit(2)) === 0 &&
          col("r") >= 4 && col("r") < 12) ||
          (pmod(col("blk"), lit(2)) === 1 &&
            col("r") >= 2 && col("r") < 10))
      .select(col("blk").as("blk2"), col("doc_id").as("dst"))
    val edges = hubs.join(auths, col("blk") === col("blk2"))
      .select("src", "dst")
    graft.operators.Graph.hits(edges, "src", "dst", iterations = 4)
  }

  /** Sentence-level BLEU over the same consecutive-doc pairs as
    * [[rouge2Pairs]] (round 10, [[graft.operators.Eval.bleu]]):
    * clipped modified precisions p₁..p₄ (raw exact-int divisions),
    * brevity penalty, geometric mean rounded 6dp (exp/ln cross libm). */
  val bleuPairs: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = docs.alias("c")
      .join(docs.alias("r"),
        col("c.doc_id") + 1 === col("r.doc_id") &&
          col("c.doc_id") % 10 =!= 9)
      .select(col("c.doc_id").as("pair_id"),
        col("c.text").as("cand"), col("r.text").as("ref"))
    graft.operators.Eval.bleu(pairs, "pair_id", "cand", "ref", maxN = 4)
  }

  /** Cohen's kappa between the lang-id prediction and the true lang
    * (round 10, [[graft.operators.Eval.cohenKappa]]): chance-corrected
    * agreement off the same pair table as q_confusion_f1; counts and
    * the Σ row·col term exact, kappa one IEEE chain, raw. */
  val cohenKappaQ: Q = (s, d) =>
    graft.operators.Eval.cohenKappa(
      TextQueries.langIdOf(Tables.documents(s, d)), "lang", "predicted")

  /** Degree assortativity of the co-purchase graph (round 10,
    * [[graft.operators.Graph.assortativity]]): same %4 part slice as
    * q_clustering_coeff; moments exact DECIMAL, r raw. */
  val assortativityQ: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select("l_orderkey", "l_partkey")
    val edges = li.alias("x")
      .join(li.alias("y"), Seq("l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    graft.operators.Graph.assortativity(edges, "src", "dst")
  }

  /** 10% symmetric trimmed mean of customer revenue (round 10,
    * [[graft.operators.Outliers.trimmedMean]]): winsorize's DROP
    * counterpart — boundary rank blocks split exactly, kept sum in
    * DECIMAL cents, mean one raw IEEE division. */
  val trimmedMeanQ: Q = (s, d) =>
    graft.operators.Outliers.trimmedMean(
      customerRevenue(s, d), "revenue", trim = 0.1,
      v => floor(v / 10000000.0))

  /** Per-event-type distinct users via the `hll_distinct`
    * TypedImperativeAggregate (round 10,
    * [[graft.functions.HllDistinct]]): the own-HLL sketch as ONE
    * groupable aggregate — same integer recipe as q_hll_estimate, so
    * the DuckDB oracle predicts the AGGREGATE's output per group. */
  val hllByGroup: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(graft.functions.GraftFunctions
        .hllDistinct(col("user_id").cast("string")).as("est_users"))
  }

  /** Welch t-test per ship YEAR in ONE pass (round 10,
    * [[graft.operators.Drift.welchTByGroup]]): returned vs non-returned
    * line prices across every shipment-year segment — the
    * experiment-sweep shape (conditional moment aggregation, no join,
    * no second scan). */
  val welchSweep: Q = (s, d) =>
    graft.operators.Drift.welchTByGroup(
      Tables.lineitem(s, d)
        .withColumn("ship_year", year(col("l_shipdate"))),
      Seq("ship_year"), "l_returnflag", "R", "N", "l_extendedprice")
}
