package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-to-event analytics with CENSORING — what a plain retention
  * curve ([[graft.queries]] q_cohort_retention) gets wrong: a user
  * still active at the observation cut is not "churned at last-seen",
  * they are censored, and dropping or mis-binning them biases every
  * retention number downward. The standard answers:
  *
  *  - [[kaplanMeier]]: the product-limit survival curve S(t) =
  *    Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over distinct event times, censored
  *    subjects leaving the risk set without an event.
  *  - [[logRank]]: the two-group comparison test on those curves
  *    ("does cohort B churn faster"), the hypergeometric O−E form.
  *
  * Distributed shape (both): ONE groupBy(duration) shuffle to the
  * distinct-TIME grid (durations are day-grained — the grid is
  * observation-window-sized, data-size-independent, the mann_kendall
  * slot-grid class, guarded by `maxTimes`); risk sets are suffix sums
  * over that grid (bounded windows on the constPart marker); the
  * χ² reduction is a sorted sequential fold over the grid. No
  * per-subject sort, no row-level window, nothing data-sized past the
  * first aggregate.
  *
  * Exactness: dᵢ, cᵢ, nᵢ are exact longs; S(t) rides
  * exp(Σ ln(1−dᵢ/nᵢ)) with the cumulative sum ordered by time in BOTH
  * engines (transcendental tier — 6dp); the log-rank E/V terms are
  * fixed rational chains folded in time order, χ² shipped raw.
  */
object Survival {

  private def grid(df: DataFrame, durationCol: String, eventCol: String,
      op: String, maxTimes: Int): DataFrame = {
    val dur0 = col(durationCol).cast("long")
    val dur = when(dur0.isNull && col(durationCol).isNotNull,
        raise_error(lit(s"Survival.$op: $durationCol is not " +
          "integer-castable")))
      .when(dur0 < 0, raise_error(lit(
        s"Survival.$op: negative duration")))
      .otherwise(dur0)
    val ev = col(eventCol).cast("boolean")
    val evChecked = when(ev.isNull, raise_error(lit(
        s"Survival.$op: NULL event flag — censored must be explicit " +
          "(false), not missing")))
      .otherwise(ev)
    df.filter(col(durationCol).isNotNull)
      .groupBy(dur.as("__t"))
      .agg(sum(when(evChecked, 1L).otherwise(0L)).as("__d"),
        sum(when(evChecked, 0L).otherwise(1L)).as("__c"))
      .withColumn("__nt",
        when(count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(Bounded.constPart(col("__t")))) > maxTimes,
          raise_error(lit(
            s"Survival.$op: more than $maxTimes distinct times — " +
              "coarsen the duration grain (the grid must stay " +
              "bounded)")))
          .otherwise(col("__d") + col("__c")))
  }

  /** Kaplan–Meier product-limit estimator.
    *
    * @param durationCol integer-ish time-to-event-or-censoring (days)
    * @param eventCol    boolean — true: the event happened at
    *                    `duration`; false: censored (still alive at
    *                    the cut)
    * @return one row per distinct EVENT time, ascending:
    *         (t, n_risk, d, c, s) — n_risk the at-risk count just
    *         before t, d events, c censored AT t, s = S(t) (6dp;
    *         exactly 0.0 when the last risk set is exhausted) */
  def kaplanMeier(df: DataFrame, durationCol: String, eventCol: String,
      maxTimes: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = grid(df, durationCol, eventCol, "kaplanMeier", maxTimes)
    // risk set just before t = everything with duration >= t: a suffix
    // sum over the bounded grid (descending-order cumulative)
    val wSuf = Window.partitionBy(Bounded.constPart(col("__t")))
      .orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = g.withColumn("__n", sum(col("__nt")).over(wSuf))
    // ln-survival cumulates STRICTLY BEFORE t, the current factor
    // multiplies raw — so an exhausted last risk set (d = n) lands an
    // exact 0.0 without ever taking ln(0) (Spark ln(0) is NULL,
    // DuckDB's raises — neither survives a cumsum)
    val wCum = Window.partitionBy(Bounded.constPart(col("__t")))
      .orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // an exhausted risk set (d = n, only possible at the max time)
    // would be ln(0): Spark's log returns NULL and DuckDB's raises —
    // pin the term to 0.0; the row's own s multiplies the exact-0
    // factor instead, and no later row exists to read the cum
    val events = withRisk.filter(col("__d") > 0)
      .withColumn("__lnterm",
        when(col("__d") === col("__n"), lit(0.0))
          .otherwise(log(lit(1.0) - col("__d").cast("double") /
            col("__n").cast("double"))))
    events
      .withColumn("__cum",
        coalesce(sum(col("__lnterm")).over(wCum), lit(0.0)))
      .select(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("d"), col("__c").as("c"),
        round(exp(col("__cum")) *
          (lit(1.0) - col("__d").cast("double") /
            col("__n").cast("double")), 6).as("s"))
  }

  /** Nelson–Aalen cumulative hazard — the estimator a reliability /
    * failure-rate monitor reads alongside [[kaplanMeier]]'s survival
    * probability: `H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ` (the instantaneous-risk
    * integral; S ≈ e^−H, and the two diverge exactly where risk sets
    * thin — the signal itself). Same bounded-grid shape as
    * [[kaplanMeier]]: one duration shuffle, suffix-sum risk sets, a
    * time-ordered cumulative of rational d/n terms — each term one
    * exact-integer IEEE division, the cumsum order-pinned in both
    * engines, shipped RAW.
    *
    * @return one row per distinct EVENT time, ascending:
    *         (t, n_risk, d, h) */
  def nelsonAalen(df: DataFrame, durationCol: String, eventCol: String,
      maxTimes: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = grid(df, durationCol, eventCol, "nelsonAalen", maxTimes)
    val wSuf = Window.partitionBy(Bounded.constPart(col("__t")))
      .orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = g.withColumn("__n", sum(col("__nt")).over(wSuf))
    val wCum = Window.partitionBy(Bounded.constPart(col("__t")))
      .orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withRisk.filter(col("__d") > 0)
      .withColumn("__term",
        col("__d").cast("double") / col("__n").cast("double"))
      .select(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("d"),
        sum(col("__term")).over(wCum).as("h"))
  }

  /** Log-rank test (Mantel–Cox) — "do these two cohorts' survival
    * curves differ": at every event time the observed group-A events
    * are compared to the hypergeometric expectation given the pooled
    * risk sets; `χ² = (O_A − E_A)² / ΣV ~ χ²(1)`.
    *
    * @param groupCol two-valued cohort column (more raises loudly)
    * @return one row: (n_a, n_b, o_a, e_a, chi2) — o_a exact, e_a the
    *         time-ordered fold of d·n_A/n, chi2 raw */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
      groupCol: String, maxTimes: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val glabels = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g")).distinct()
      .orderBy(col("__g")).limit(3)
      .agg(count(lit(1)).as("__k"), min(col("__g")).as("__ga"),
        max(col("__g")).as("__gb"))
      .select(
        when(col("__k") =!= 2, raise_error(concat(lit(
          "Survival.logRank: need exactly 2 groups, got "),
          col("__k").cast("string"))))
          .otherwise(col("__ga")).as("__ga"), col("__gb"))
    val dur0 = col(durationCol).cast("long")
    val dur = when(dur0.isNull && col(durationCol).isNotNull,
        raise_error(lit(
          "Survival.logRank: duration is not integer-castable")))
      .when(dur0 < 0, raise_error(lit(
        "Survival.logRank: negative duration")))
      .otherwise(dur0)
    val ev = when(col(eventCol).cast("boolean").isNull, raise_error(lit(
        "Survival.logRank: NULL event flag — censored must be " +
          "explicit (false), not missing")))
      .otherwise(col(eventCol).cast("boolean"))
    val cells = df.filter(col(durationCol).isNotNull &&
        col(groupCol).isNotNull)
      .crossJoin(broadcast(glabels))
      .groupBy(dur.as("__t"))
      .agg(
        sum(when(ev && col(groupCol).cast("string") === col("__ga"), 1L)
          .otherwise(0L)).as("__da"),
        sum(when(ev && col(groupCol).cast("string") =!= col("__ga"), 1L)
          .otherwise(0L)).as("__db"),
        sum(when(col(groupCol).cast("string") === col("__ga"), 1L)
          .otherwise(0L)).as("__ta"),
        sum(when(col(groupCol).cast("string") =!= col("__ga"), 1L)
          .otherwise(0L)).as("__tb"))
      .withColumn("__cnt",
        when(count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(Bounded.constPart(col("__t")))) > maxTimes,
          raise_error(lit(
            s"Survival.logRank: more than $maxTimes distinct times — " +
              "coarsen the duration grain")))
          .otherwise(lit(1L)))
    val wSuf = Window.partitionBy(Bounded.constPart(col("__t")))
      .orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = cells
      .withColumn("__na", sum(col("__ta") * col("__cnt")).over(wSuf))
      .withColumn("__nb", sum(col("__tb") * col("__cnt")).over(wSuf))
      .filter(col("__da") + col("__db") > 0)
    val d = (col("__da") + col("__db")).cast("double")
    val n = (col("__na") + col("__nb")).cast("double")
    val eTerm = d * col("__na").cast("double") / n
    val vTerm = when(col("__na") + col("__nb") === 1L, lit(0.0))
      .otherwise(d * (col("__na").cast("double") / n) *
        (lit(1.0) - col("__na").cast("double") / n) *
        (n - d) / (n - lit(1.0)))
    val folded = risk.agg(
      coalesce(sum(col("__da").cast(dec)), lit(0L).cast(dec)).as("__oa"),
      sort_array(collect_list(struct(col("__t"), eTerm.as("e"),
        vTerm.as("v")))).as("__terms"))
    val subjects = df.filter(col(durationCol).isNotNull &&
        col(groupCol).isNotNull)
      .crossJoin(broadcast(glabels.select(col("__ga").as("__gx"))))
      .agg(
        coalesce(sum(when(col(groupCol).cast("string") === col("__gx"),
          1L).otherwise(0L)), lit(0L)).as("n_a"),
        coalesce(sum(when(col(groupCol).cast("string") =!= col("__gx"),
          1L).otherwise(0L)), lit(0L)).as("n_b"))
    val eA = aggregate(transform(col("__terms"), x => x.getField("e")),
      lit(0.0), (acc, x) => acc + x)
    val vSum = aggregate(transform(col("__terms"), x => x.getField("v")),
      lit(0.0), (acc, x) => acc + x)
    subjects.crossJoin(folded).select(
      col("n_a"), col("n_b"),
      col("__oa").cast("double").as("o_a"),
      eA.as("e_a"),
      when(vSum <= 0.0, raise_error(lit(
        "Survival.logRank: zero variance — no time has both groups " +
          "at risk with an event")))
        .otherwise((col("__oa").cast("double") - eA) *
          (col("__oa").cast("double") - eA) / vSum).as("chi2"))
  }
}
