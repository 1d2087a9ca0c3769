package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming snapshot maintenance: a `foreachBatch` sink that MERGES
  * each microbatch of CDC deltas (upserts + deletes) into a persisted
  * snapshot table — the continuously-maintained corpus the batch
  * [[graft.operators.CorpusDiff.merge]] computes one step of, kept
  * current by a stream.
  *
  * Commit protocol ([[EosSink]]'s, versioned): batch N reads the
  * LATEST committed snapshot version, merges the batch's deltas, writes
  * `snapshot_N` in one job ([[EosSink.writeParquet]]), then creates the
  * `_committed_N` marker as the only commit point
  * ([[EosSink.commitOnce]]). A checkpoint-replayed batch finds its
  * marker and skips — exactly-once effects without a transactional
  * store. Delta batches apply in batchId order because microbatches are
  * strictly sequential (the reference's one-txn-per-batch ordering,
  * StreamsApplication.java:147-150).
  *
  * Scale: each merge is one anti join of the snapshot against the
  * batch's delta ids (AQE-broadcast — the big side never shuffles) plus
  * a union; cost per batch is O(delta) work + one snapshot rewrite.
  * Rewriting only touched partitions is a table format's job below this
  * operator (the same caveat as the batch merge).
  *
  * @param deleteCol boolean column marking delete rows; remaining
  *                  columns are the snapshot schema
  */
final class StreamUpsert(baseDir: String, idCol: String,
    deleteCol: String) extends Serializable {

  /** The latest committed snapshot (empty when none committed yet). */
  def current(spark: SparkSession): Option[DataFrame] =
    versions().lastOption.map(v =>
      spark.read.parquet(s"$baseDir/snapshot_$v"))

  /** All committed versions, ascending — the time-travel axis. */
  def versions(): Seq[Long] = EosSink.committedBatchIds(baseDir)

  /** Snapshot AS OF a committed version (time travel): every committed
    * `snapshot_V` is immutable once its marker exists, so historical
    * reads are plain parquet scans — the lakehouse time-travel
    * contract falls out of the marker protocol for free. Loud on an
    * uncommitted version rather than serving a half-written write. */
  def at(spark: SparkSession, version: Long): DataFrame = {
    require(versions().contains(version),
      s"version $version is not committed " +
        s"(committed: ${versions().mkString(",")})")
    spark.read.parquet(s"$baseDir/snapshot_$version")
  }

  /** foreachBatch body: `writer.foreachBatch(sink.write _)`. */
  def write(batch: DataFrame, batchId: Long): Unit =
    EosSink.commitOnce(baseDir, batchId) {
      val spark = batch.sparkSession
      val upserts = batch.filter(!col(deleteCol)).drop(deleteCol)
      val deletes = batch.filter(col(deleteCol)).drop(deleteCol)
      val merged = current(spark) match {
        case Some(snap) =>
          graft.operators.CorpusDiff.merge(snap, upserts, deletes, idCol)
        case None =>
          graft.operators.CorpusDiff.merge(
            upserts.limit(0), upserts, deletes, idCol)
      }
      EosSink.writeParquet(merged, s"$baseDir/snapshot_$batchId")
    }
}
