package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, Paths,
  StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat,
  ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetWriteSupport}
import org.apache.spark.util.SerializableConfiguration

/** Exactly-once sink parity (SURVEY §2A R7, §7.4 hard-part 1).
  *
  * The reference commits output records and consumer offsets in one Kafka
  * transaction per batch (`StreamsApplication.java:146-150`), aborting once
  * on failure and rebuilding the pipeline (:151-163). Structured
  * Streaming's Kafka sink is at-least-once; the Spark-native equivalent is
  * a `foreachBatch` sink made idempotent on `batchId` — the checkpoint
  * replays a failed batch with the SAME id, and the sink discards
  * re-deliveries, yielding end-to-end exactly-once. Semantics delta vs the
  * reference (documented, by design): replay-and-discard instead of
  * abort-and-reread; both produce each record's effect exactly once.
  *
  * Commit protocol: one Spark job writes the batch directory
  * `batch_<id>`, one parquet file per partition named by the partition
  * (`part-00003.parquet`), then [[EosSink.commitOnce]] creates the
  * `_committed_<id>` marker — the ONLY commit point. There is no `_temporary` directory,
  * no job-level rename and no `_SUCCESS` file: a batch directory WITHOUT
  * its marker is garbage from a crashed attempt, deleted wholesale when
  * the batch is retried, and readers must filter on markers (use
  * [[EosSink.readCommitted]], which does). A concurrent zombie attempt
  * that commits between the `isCommitted` check and marker creation
  * makes `createFile` throw `FileAlreadyExistsException`; both attempts
  * wrote identical data for the same batchId (Spark replays
  * deterministically from the checkpoint), so the race is benign and
  * treated as commit success.
  */
final class EosSink(outDir: String) extends Serializable {

  def isCommitted(batchId: Long): Boolean = EosSink.isCommitted(outDir, batchId)

  /** foreachBatch body: `writer.foreachBatch(sink.write _)`. */
  def write(batch: DataFrame, batchId: Long): Unit =
    EosSink.commitOnce(outDir, batchId)(
      EosSink.writeParquet(batch, s"$outDir/batch_$batchId"))
}

object EosSink {

  private def marker(dir: String, batchId: Long) =
    Paths.get(s"$dir/_committed_$batchId")

  private def isCommitted(dir: String, batchId: Long): Boolean =
    Files.exists(marker(dir, batchId))

  /** The marker protocol every sink of this package commits through:
    * a batch whose marker exists is a replay and is dropped; otherwise
    * `write` runs and the marker is created as the atomic commit point
    * (a marker that appeared meanwhile is the benign race above). */
  def commitOnce(dir: String, batchId: Long)(write: => Unit): Unit =
    if (!isCommitted(dir, batchId)) {
      Files.createDirectories(Paths.get(dir))
      write
      try Files.createFile(marker(dir, batchId))
      catch { case _: FileAlreadyExistsException => () } // lost a benign race
    }

  /** Ids of committed batches, from the `_committed_` markers. */
  def committedBatchIds(outDir: String): Seq[Long] = {
    val dir = Paths.get(outDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    val stream = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("_committed_"))
        .map(_.stripPrefix("_committed_").toLong)
        .toSeq.sorted
    } finally stream.close()
  }

  /** Read ONLY committed batches — the reader counterpart of the marker
    * protocol. Listing `batch_*` dirs directly can observe data from a
    * crashed, uncommitted attempt; this filters on the commit markers. */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val dirs = committedBatchIds(outDir).map(id => s"$outDir/batch_$id")
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*)
  }

  /** Writes `df` to the local directory `dir` in one job: whatever
    * `dir` held is deleted first, then each task writes its partition's
    * rows to `part-<partition>.parquet` through Spark's own
    * `ParquetWriteSupport`, with the session's codec, schema and
    * timestamp settings. Partition 0 always writes a file, so an empty
    * result still carries its schema; any other empty partition writes
    * none. Tasks share the Hadoop conf through one broadcast instead of
    * each deserializing its own copy, and files and directories go
    * through `java.nio` as the markers do: Hadoop's local file system
    * forks a `chmod` for every file and directory it creates. The
    * caller's marker is the only commit point. */
  def writeParquet(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val out = Paths.get(dir)
    StreamOps.deleteTree(out) // a leftover of an uncommitted attempt
    Files.createDirectories(out)
    // sets the session's parquet write settings on the job's conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, df.schema)
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(job.getConfiguration))
    try {
      val part = new PartWriter(dir, conf)
      val rows = df.queryExecution.toRdd
      if (rows.getNumPartitions == 0) part(0, 0L, Iterator.empty)
      else spark.sparkContext.runJob(rows,
        (ctx: TaskContext, it: Iterator[InternalRow]) =>
          part(ctx.partitionId(), ctx.taskAttemptId(), it))
    } finally conf.destroy()
  }

  /** The task body of [[writeParquet]]: one partition's rows to one
    * file, written under a hidden attempt-private name (readers skip
    * `.`-prefixed files) and renamed into place only once closed, so a
    * task that dies mid-file leaves nothing a reader sees. */
  private final class PartWriter(dir: String,
      conf: Broadcast[SerializableConfiguration]) extends Serializable {

    def apply(partition: Int, attempt: Long, rows: Iterator[InternalRow]): Unit =
      if (partition == 0 || rows.hasNext) {
        val name = f"part-$partition%05d.parquet"
        val tmp = Paths.get(dir, s".$name.attempt-$attempt")
        // a private copy: the broadcast value is shared by the tasks
        val taskConf = new Configuration(conf.value.value)
        val writer = new RowWriterBuilder(new LocalOutputFile(tmp))
          .withConf(taskConf)
          .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
          .withCompressionCodec(CompressionCodecName.fromConf(
            taskConf.get(ParquetOutputFormat.COMPRESSION)))
          .build()
        try {
          rows.foreach(writer.write)
          writer.close()
        } catch { case e: Throwable =>
          try writer.close() catch { case c: Throwable => e.addSuppressed(c) }
          Files.deleteIfExists(tmp)
          throw e
        }
        // rename(2) replaces a file a speculative twin put there first:
        // the same rows, the same bytes
        Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
      }
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport
  }
}
