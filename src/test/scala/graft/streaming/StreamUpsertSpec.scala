package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming snapshot maintenance: sequential delta batches through the
  * foreachBatch merge sink must land exactly the batch-merge result,
  * replays must be no-ops, and uncommitted attempts invisible. */
class StreamUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def runBatches(
      batches: Seq[Seq[(Long, String, Boolean)]]): (String, StreamUpsert) = {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("supsert").toString
    val ckpt = Files.createTempDirectory("supsert_ckpt").toString
    val sink = new StreamUpsert(base, "id", "is_delete")
    val input = MemoryStream[(Long, String, Boolean)]
    val q = input.toDF().toDF("id", "text", "is_delete")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(sink.write _).start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    (base, sink)
  }

  test("sequential deltas: inserts, updates, deletes, delete-wins, " +
      "resurrection") {
    val (_, sink) = runBatches(Seq(
      // b0: insert 1..4
      Seq((1L, "a", false), (2L, "b", false), (3L, "c", false),
        (4L, "d", false)),
      // b1: update 2, delete 3
      Seq((2L, "b2", false), (3L, "", true)),
      // b2: resurrect 3, delete 4, same-batch upsert+delete on 1 (delete
      // wins), insert 5
      Seq((3L, "c3", false), (4L, "", true), (1L, "a2", false),
        (1L, "", true), (5L, "e", false))))
    val got = sink.current(spark).get.as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "b2", 3L -> "c3", 5L -> "e"))
  }

  test("replayed batch is a no-op; uncommitted snapshot dirs invisible") {
    val (base, sink) = runBatches(Seq(
      Seq((1L, "a", false), (2L, "b", false)),
      Seq((2L, "b2", false))))
    val before = sink.current(spark).get.as[(Long, String)].collect().toSet
    // replay batch 0 (its marker exists) — must not regress the snapshot
    sink.write(Seq((1L, "zz", false)).toDF("id", "text", "is_delete"), 0L)
    assert(sink.current(spark).get.as[(Long, String)]
      .collect().toSet === before)
    // a crashed attempt writes a snapshot dir but no marker — invisible
    Seq((9L, "x", false)).toDF("id", "text", "is_delete")
      .drop("is_delete").write.parquet(s"$base/snapshot_99")
    assert(sink.current(spark).get.as[(Long, String)]
      .collect().toSet === before)
  }

  test("delta-only stream from empty state bootstraps the snapshot") {
    val (_, sink) = runBatches(Seq(Seq((7L, "x", false), (8L, "", true))))
    assert(sink.current(spark).get.as[(Long, String)]
      .collect().toSet === Set((7L, "x")))
  }

  test("time travel: committed versions are immutable and readable; " +
      "uncommitted versions are loud") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("supsert_tt").toString
    val sink = new StreamUpsert(dir, "id", "del")
    sink.write(Seq((1L, "a", false), (2L, "b", false))
      .toDF("id", "text", "del"), 0L)
    sink.write(Seq((2L, "b2", false), (1L, "", true))
      .toDF("id", "text", "del"), 1L)
    assert(sink.versions() == Seq(0L, 1L))
    val v0 = sink.at(spark, 0L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v0 === Map(1L -> "a", 2L -> "b"), "v0 must be unchanged by v1")
    val v1 = sink.at(spark, 1L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 === Map(2L -> "b2"))
    val ex = intercept[IllegalArgumentException] { sink.at(spark, 7L) }
    assert(ex.getMessage.contains("not committed"))
  }
}
