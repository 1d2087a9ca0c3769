package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming incremental view maintenance: a `foreachBatch` sink that
  * folds each microbatch of SIGNED deltas into the persisted
  * COUNT(DISTINCT) multiplicity state
  * ([[graft.operators.IncrementalAgg.applyDistinctDelta]]) — the
  * streaming leg of the IVM matrix (batch legs: rollups, min/max under
  * deletes, join views, distinct). The maintained view serves exact
  * per-group distinct counts at any commit point without ever
  * rescanning the base stream.
  *
  * Commit protocol: [[StreamUpsert]]'s versioned form of [[EosSink]]'s
  * — batch N reads the latest committed `state_V`, folds the batch,
  * writes `state_N` in one job ([[EosSink.writeParquet]]), then creates
  * `_committed_N` as the only commit point ([[EosSink.commitOnce]]); a
  * checkpoint-replayed batch finds its marker and skips, so
  * effects are exactly-once. Per-batch cost is the touched-rows
  * contract: the state scan + an O(|Δ|) fold (broadcast delta keys;
  * the untouched majority passes map-only), never a state-wide
  * shuffle.
  *
  * @param groupCols grouping of the maintained distinct counts
  * @param valueCol  the counted-distinct column
  * @param opCol     +1 insert / −1 delete
  */
final class StreamIvm(baseDir: String, groupCols: Seq[String],
    valueCol: String, opCol: String) extends Serializable {

  /** The latest committed multiplicity state (None before batch 0). */
  def current(spark: SparkSession): Option[DataFrame] =
    EosSink.committedBatchIds(baseDir).lastOption.map(v =>
      spark.read.parquet(s"$baseDir/state_$v"))

  /** Exact per-group distinct counts off the latest committed state. */
  def counts(spark: SparkSession): Option[DataFrame] =
    current(spark).map(
      graft.operators.IncrementalAgg.distinctCounts(_, groupCols))

  /** foreachBatch body: `writer.foreachBatch(sink.write _)`. */
  def write(batch: DataFrame, batchId: Long): Unit =
    EosSink.commitOnce(baseDir, batchId) {
      val next = current(batch.sparkSession) match {
        case Some(st) => graft.operators.IncrementalAgg
          .applyDistinctDelta(st, batch, groupCols, valueCol, opCol)
        case None => graft.operators.IncrementalAgg
          .distinctState(batch, groupCols, valueCol, Some(opCol))
      }
      EosSink.writeParquet(next, s"$baseDir/state_$batchId")
    }
}
