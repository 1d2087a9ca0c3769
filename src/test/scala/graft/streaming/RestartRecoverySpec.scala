package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.SparkSpec

/** R7 parity drill (SURVEY §5.2 item 5): stop a checkpointed streaming
  * query, add data, restart from the same checkpoint — no loss, no
  * duplicates, and previously-committed batches are not rewritten. */
class RestartRecoverySpec extends SparkSpec {

  test("checkpoint restart: no dup, no loss, committed batches untouched") {
    import spark.implicits._
    val in = Files.createTempDirectory("rr_in").toString
    val ckpt = Files.createTempDirectory("rr_ckpt").toString
    val out = Files.createTempDirectory("rr_out").toString
    val sink = new EosSink(out)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    def start() = spark.readStream.schema(schema).parquet(in)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink.write _)
      .start()

    // wave 1
    (0L until 500L).map(i => (i, s"a$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    val batch0 = Paths.get(s"$out/batch_0")
    assert(Files.exists(batch0) && sink.isCommitted(0))
    val batch0Mtime = Files.getLastModifiedTime(
      Files.list(batch0).filter(_.toString.endsWith(".parquet"))
        .findFirst().get())

    // wave 2 lands while the query is DOWN
    (500L until 800L).map(i => (i, s"b$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    // every id exactly once across committed batch dirs
    val all = spark.read.parquet(
      Files.list(Paths.get(out)).toArray.map(_.toString)
        .filter(_.contains("/batch_")): _*)
    val ids = all.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length === 800, s"no loss/dup: got ${ids.length}")
    assert(ids.toSeq === (0L until 800L))
    // batch 0 was not rewritten on restart
    val mtimeAfter = Files.getLastModifiedTime(
      Files.list(batch0).filter(_.toString.endsWith(".parquet"))
        .findFirst().get())
    assert(mtimeAfter === batch0Mtime, "committed batch must not be rewritten")
  }
}
