package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinNode

/** As-of join (SURVEY §2B E12): for each left row, attach the latest right
  * row with `right.ts <= left.ts` within the same key.
  *
  * [[apply]] plans the first-class [[graft.plans.AsOfJoinNode]] operator:
  * both sides cluster by key and sort by (key, ts), then a streaming
  * per-partition merge with O(1) state — ONE narrow shuffle per side at
  * 100 TB, no window buffering, and filters above the join keep reaching
  * the parquet scans via [[graft.plans.PushFilterThroughAsOfJoin]].
  *
  * [[windowed]] keeps the union-merge formulation (union both sides
  * tagged, `last(_, ignoreNulls)` over an unbounded-preceding frame — the
  * standard composed-operator shape, same technique DuckDB applies
  * per-thread after partitioning). It is retained as the
  * differential-testing reference for the custom node.
  *
  * Ties (`right.ts == left.ts`): equality matches — same inclusive
  * semantics as DuckDB's `ON l.ts >= r.ts`. Among several right rows at
  * the same (key, ts) the max carry tuple wins, deterministically, in
  * both formulations.
  */
object AsOfJoin {

  /** @param left      probe side
    * @param right     build side (events to look up "most recent prior")
    * @param key       equi-key column name present on both sides
    * @param leftTs    event-time column on `left`
    * @param rightTs   event-time column on `right`
    * @param carry     columns of `right` to carry onto matching left rows
    *                  (all carried values come from the one matched row)
    * @param tolerance optional max lookback (e.g. "1 hour"): matches older
    *                  than `leftTs - tolerance` become null, like DuckDB's
    *                  `ASOF ... WITHIN` / pandas `merge_asof(tolerance=)`;
    *                  requires timestamp-typed ts columns
    * @return `left` columns + carried columns (null when no prior right row)
    */
  def apply(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, carry: Seq[String],
      tolerance: Option[String] = None): DataFrame =
    onKeys(left, right, Seq(key), leftTs, rightTs, carry, tolerance)

  /** FORWARD as-of: the EARLIEST right row AT OR AFTER the left ts —
    * "the next quote after the order", "the first error after the
    * deploy". Rides the SAME sort-merge plan node by negating both ts
    * axes (epoch-micros negation keeps TimestampType, so tolerance
    * arithmetic still applies — a `tolerance` then bounds how far
    * FORWARD a match may sit, DuckDB's `ASOF ... ON l.ts <= r.ts`
    * with WITHIN). Carried columns keep their ORIGINAL values; the
    * negated axes never leave this method. */
  def forward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, carry: Seq[String],
      tolerance: Option[String] = None): DataFrame = {
    require(!carry.contains("__negts_r") && rightTs != "__negts_r" &&
      leftTs != "__negts", "forward: reserved column name in use")
    val l2 = left.withColumn("__negts",
      timestamp_micros(-unix_micros(col(leftTs))))
    val r2 = right.withColumn("__negts_r",
      timestamp_micros(-unix_micros(col(rightTs))))
    onKeys(l2, r2, Seq(key), "__negts", "__negts_r", carry, tolerance)
      .drop("__negts")
  }

  /** Composite-equality-key form (DuckDB `ASOF JOIN ... ON a AND b AND
    * ts >=`): the match must agree on EVERY key column. Same plan shape —
    * both sides cluster on the full key tuple. */
  def onKeys(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, carry: Seq[String],
      tolerance: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one key column")
    val spark = left.sparkSession
    val lPlan = GraftPlanBridge.logicalPlan(left)
    // prune the right side to what the operator consumes (the
    // column-pruning boundary for the build-side scan) and re-alias every
    // column: aliases mint fresh expr-ids, so a self-join (left and right
    // sharing plan lineage) can't produce an ambiguous node
    val rPlan = GraftPlanBridge.logicalPlan(
      right.select((keys ++ (rightTs +: carry)).distinct
        .map(c => col(c).as(c)): _*))
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String, side: String) =
      plan.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"no column $n on $side side (${plan.output.map(_.name).mkString(",")})"))
    val carryAttrs = carry.map(c => attr(rPlan, c, "right"))
    val carryOutput = carryAttrs.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    val lKeys = keys.map(attr(lPlan, _, "left"))
    val rKeys = keys.map(attr(rPlan, _, "right"))
    val lTs = attr(lPlan, leftTs, "left")
    val rTs = attr(rPlan, rightTs, "right")
    // the exec compares keys/timestamps with orderings built from the
    // LEFT side's types and hash-partitions each side on its own keys — a
    // type mismatch would silently mis-partition or garbage-compare, so
    // reject it here, loudly
    lKeys.zip(rKeys).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"as-of key type mismatch on ${lk.name}: " +
          s"${lk.dataType.catalogString} vs ${rk.dataType.catalogString}")
    }
    require(lTs.dataType == rTs.dataType,
      s"as-of ts type mismatch: ${lTs.dataType.catalogString} vs " +
        rTs.dataType.catalogString)
    val tolMicros = tolerance.map { t =>
      // tolerance arithmetic reads the ts as epoch-micros — only valid
      // for timestamp types (the doc's stated requirement, now enforced)
      require(lTs.dataType.isInstanceOf[
          org.apache.spark.sql.types.TimestampType] ||
        lTs.dataType.isInstanceOf[
          org.apache.spark.sql.types.TimestampNTZType],
        s"tolerance requires timestamp ts columns, got " +
          lTs.dataType.catalogString)
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String
          .fromString(t))
      require(iv.months == 0, s"month-based tolerance is ambiguous: $t")
      iv.days * 86400000000L + iv.microseconds
    }
    GraftPlanBridge.ofRows(spark, AsOfJoinNode(
      lKeys, rKeys, lTs, rTs,
      carryAttrs, carryOutput, tolMicros, lPlan, rPlan))
  }

  /** Union-merge formulation of the same semantics (differential-testing
    * reference for [[apply]]): union both sides tagged, sort per key by
    * (ts, side, carry...) and take the latest prior right row's struct
    * with one `last(_, ignoreNulls)` over an unbounded-preceding frame —
    * the matched timestamp and every carried value come from the same
    * right row by construction. */
  def windowed(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, carry: Seq[String],
      tolerance: Option[String] = None): DataFrame =
    windowedOnKeys(left, right, Seq(key), leftTs, rightTs, carry, tolerance)

  def windowedOnKeys(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, carry: Seq[String],
      tolerance: Option[String] = None): DataFrame = {
    val leftCols = left.columns
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1)) // probes sort after build rows at equal ts
    val rTagged0 = right
      .select((keys ++ (rightTs +: carry)).distinct.map(col): _*)
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(0))
    // align schemas for the union
    val allCols = (lTagged.columns ++ rTagged0.columns).distinct
    def conform(df: DataFrame): DataFrame =
      df.select(allCols.toIndexedSeq.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)

    val unioned = conform(lTagged).unionByName(conform(rTagged0))
    // tie-break on the carried columns: several right rows at the same
    // (key, ts) would otherwise make last() shuffle-order-dependent
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col("__ts") +: col("__side") +: carry.map(col)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rightRow = when(col("__side") === 0,
      struct((col("__ts").as("__matched_ts") +:
        carry.map(c => col(c).as(c))): _*))
    val carried = unioned.withColumn("__asof",
      last(rightRow, ignoreNulls = true).over(w))
    val withinTolerance: org.apache.spark.sql.Column = tolerance match {
      case Some(t) =>
        col("__asof.__matched_ts") >= col(leftTs) - expr(s"INTERVAL $t")
      case None => col("__asof").isNotNull
    }
    // SQL equality semantics: a null in ANY key column never matches —
    // without this, Window.partitionBy groups null keys together and a
    // null-keyed right row would be carried onto null-keyed left rows,
    // diverging from the plan-node exec and from DuckDB ASOF
    val keysNonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    carried
      .filter(col("__side") === 1)
      .select(leftCols.toIndexedSeq.map(col) ++
        carry.map(c => when(withinTolerance && keysNonNull,
          col("__asof").getField(c))
          .otherwise(lit(null)).as(s"asof_$c")): _*)
  }
}
