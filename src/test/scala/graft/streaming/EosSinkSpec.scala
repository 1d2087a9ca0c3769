package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** EosSink's commit protocol: one job writes `part-<partition>.parquet`
  * files into the batch directory and the `_committed_<id>` marker is
  * the only commit point. */
class EosSinkSpec extends SparkSpec {
  import spark.implicits._
  import EosSinkSpec.names

  private def visible(dir: Path): Seq[String] =
    names(dir.toString).filterNot(n => n.startsWith(".") || n.startsWith("_"))

  test("files without a marker are invisible; a retry replaces the " +
      "batch directory wholesale") {
    val out = Files.createTempDirectory("eos_retry")
    val sink = new EosSink(out.toString)
    sink.write(Seq((1L, "a")).toDF("id", "v"), 0L)
    // a crashed attempt of batch 1: four partitions' files, no marker
    EosSink.writeParquet((100L until 140L).map(i => (i, s"x$i"))
      .toDF("id", "v").repartition(4), s"$out/batch_1")
    assert(visible(out.resolve("batch_1")).size === 4)
    assert(!sink.isCommitted(1L))
    assert(EosSink.readCommitted(spark, out.toString).as[(Long, String)]
      .collect().toSeq === Seq((1L, "a")))
    // the retry writes one partition: no file of the wider attempt stays
    sink.write(Seq((2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), 1L)
    assert(sink.isCommitted(1L))
    assert(visible(out.resolve("batch_1")) === Seq("part-00000.parquet"))
    val ids = EosSink.readCommitted(spark, out.toString)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L), "each row exactly once")
    // the marker is the only commit point: no Hadoop commit protocol
    val all = Files.walk(out)
    try assert(!all.iterator().asScala.exists { p =>
      val n = p.getFileName.toString
      n == "_temporary" || n == "_SUCCESS"
    }) finally all.close()
  }

  test("a task that dies mid-file leaves no visible file, and its " +
      "in-progress file was hidden") {
    val out = Files.createTempDirectory("eos_die")
    val dir = s"$out/batch_0"
    EosSinkSpec.seen.clear()
    val dieAt7 = udf { (i: Long) =>
      if (i == 7L) {
        EosSinkSpec.seen.addAll(EosSinkSpec.names(dir).asJava)
        throw new IllegalStateException("task dies mid-file")
      }
      i
    }
    val sink = new EosSink(out.toString)
    val e = intercept[Exception] {
      sink.write(spark.range(0, 20, 1, 1).select(dieAt7(col("id")).as("id")), 0L)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("task dies mid-file")))
    // while the task wrote, its file existed under a hidden name only
    val during = EosSinkSpec.seen.asScala.toSeq
    assert(during.exists(_.startsWith(".part-00000.parquet.attempt-")), during)
    assert(during.forall(_.startsWith(".")), during)
    // after it died: no part file, no attempt file, no marker
    assert(names(dir).isEmpty, names(dir))
    assert(!sink.isCommitted(0L))
    sink.write(spark.range(0, 5, 1, 1).toDF("id"), 0L)
    assert(EosSink.readCommitted(spark, out.toString).count() === 5L)
  }

  test("an all-empty batch commits one readable file with its schema") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val out = Files.createTempDirectory("eos_empty")
    val sink = new EosSink(out.toString)
    // four empty partitions, and a plan with no partition at all
    sink.write(spark.range(0, 40, 1, 4)
      .select(col("id"), col("id").cast("string").as("v"))
      .filter(col("id") < 0), 0L)
    sink.write(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema), 1L)
    for (b <- Seq("batch_0", "batch_1"))
      assert(visible(out.resolve(b)) === Seq("part-00000.parquet"), b)
    val got = EosSink.readCommitted(spark, out.toString)
    assert(got.schema.map(f => f.name -> f.dataType) ===
      schema.map(f => f.name -> f.dataType))
    assert(got.count() === 0L)
  }
}

object EosSinkSpec {
  def names(dir: String): Seq[String] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** Directory names a failing task saw (tasks run in this JVM). */
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
