package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming amendments (q_stream_amend, r16 capstone): re-crawl
  * micro-batches threaded through the full at-rest state rewrite must
  * land on ONE atomic batch amendment of the union — in EITHER batch
  * order for disjoint ids. The planted corpus reuses CorpusAmendSpec's
  * update classes ACROSS batch boundaries, so the stream path proves
  * the rewrites, not just the per-batch delta:
  *
  *  - batch 2's near-dup amendment dooms a doc whose keeper batch 1
  *    STOLE — only works if batch 2's candidate probe reads batch 1's
  *    rewritten signature index (the thief's signature, not the
  *    dead original's)
  *  - batch 2 amends the doc batch 1's amendment doomed — the doom
  *    must not resurrect spuriously (its culprit still serves)
  *  - a batch REDELIVERED with the same payload is a no-op (the
  *    at-least-once tolerance a streaming consumer needs; true
  *    re-amendment with NEW content arrives as a fresh event whose
  *    payload the re-crawl store serves — the machinery treats prior
  *    amendments as ordinary at-rest content either way)
  *
  * The same driver ([[StreamOps.streamCrudRun]]) takes deletes as
  * upserts with no payload, so the last two cases pin its event
  * contract and a mixed amend/delete stream. */
class StreamAmendSpec extends SparkSpec {
  import spark.implicits._

  private def text(seed: String, n: Int = 24): String =
    (0 until n).map(i => s"${seed}tok$i").mkString(" ")

  private def corpus() = Seq(
    (0L, "en", text("bench")),
    // steal chain: batch 1 amends 60 -> text of 80 (steals keepership,
    // 80 dies); batch 2 amends 110 -> 80's text + tail — 110 > 60, so
    // 110 is doomed BY THE THIEF 60 via batch 2's fresh pairs probing
    // batch 1's rewritten index
    (60L, "en", text("sixty", 30)),
    (80L, "en", text("steal", 30)),
    (110L, "en", text("onet", 24)),
    // doom-then-amend: batch 1 amends 150 -> near-dup of 160 (dooms
    // 160); batch 2 amends 205 (unrelated) — 160 must STAY doomed
    (150L, "fr", text("mold", 30)),
    (160L, "fr", text("qdon", 30)),
    (205L, "fr", text("c205", 28)),
    // re-amendment: 300 amended in batch 1 (fresh text A), re-amended
    // in batch 3 (sub-quality stub) — last writer wins: 300 leaves
    (300L, "en", text("c300")),
    (400L, "de", text("c400"))
  ).toDF("doc_id", "lang", "text")

  private def amendments() = Seq(
    (60L, "en", text("steal", 30)),
    (150L, "fr", text("qdon", 30) + " zqtail1"),
    (110L, "en", text("steal", 30) + " thieftail1"),
    (205L, "fr", text("n205", 26)),
    (300L, "en", "amended takedown stub")
  ).toDF("doc_id", "lang", "text")

  test("streamed amendment batches land on the single-shot atomic " +
      "amendment, in both orders, incl. cross-batch steal chains and " +
      "re-amendment via the rewritten index/overlay") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_samend_spec").toString
    corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        .toSet
    val batches = Seq(Seq(60L, 150L), Seq(110L, 205L), Seq(300L))
    val streamed = manifest(StreamOps.streamAmendFrom(spark, dir,
      batches, amendments()))
    val reversed = manifest(StreamOps.streamAmendFrom(spark, dir,
      batches.reverse, amendments()))
    val singleShot = manifest(
      graft.queries.PipelineQueries.corpusAmendFrom(spark, dir,
        amendments()))
    val amendedCorpus = corpus().as("d")
      .join(amendments().select(col("doc_id"), col("text").as("__new")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("__new"), col("text")).as("text"))
    val fromScratch = manifest(
      graft.queries.PipelineQueries.corpusEnd2EndFrom(amendedCorpus))
    assert(streamed == fromScratch,
      s"streamed $streamed\nfrom-scratch $fromScratch")
    assert(reversed == fromScratch,
      s"reversed $reversed\nfrom-scratch $fromScratch")
    assert(singleShot == fromScratch)
    // pin: survivors are 60 (the thief), 150 (migrated), 205
    // (re-crawled), 400 — NOT 80 (stolen), NOT 110 (doomed by the
    // thief across batches), NOT 160 (doomed by 150's new content),
    // NOT 300 (takedown-by-re-crawl)
    assert(streamed.map(_._1) == Set(60L, 150L, 205L, 400L).map(_ % 16),
      streamed.toString)
  }

  test("redelivered amendment events are no-ops (at-least-once " +
      "tolerance): re-applying a batch's ids with the same payload " +
      "leaves the manifest unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_samend_redeliver").toString
    corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        .toSet
    // the steal batch delivered twice, then the rest once — the second
    // delivery re-runs the full upsert against the already-amended
    // state (its own content is the at-rest content now) and must
    // change nothing
    val redelivered = manifest(StreamOps.streamAmendFrom(spark, dir,
      Seq(Seq(60L, 150L), Seq(60L, 150L), Seq(110L, 205L), Seq(300L)),
      amendments()))
    val once = manifest(
      graft.queries.PipelineQueries.corpusAmendFrom(spark, dir,
        amendments()))
    assert(redelivered == once, s"redelivered $redelivered\nonce $once")
  }

  private def fromScratch(world: org.apache.spark.sql.DataFrame) =
    graft.queries.PipelineQueries.corpusEnd2EndFrom(world).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet

  test("event contract: an upsert with no payload raises naming the " +
      "id, a delete needs no payload, and an id named by both ops in " +
      "one batch raises instead of picking one") {
    import StreamOps.CrudEvent.{delete, upsert}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_scrud_contract").toString
    corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def raised(events: Seq[Seq[StreamOps.CrudEvent]]): Seq[String] = {
      val e = intercept[Exception] {
        StreamOps.streamCrudRun(spark, dir, events, amendments())
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      causes(e).flatMap(c => Option(c.getMessage))
    }
    // 400 has no row in the payload store
    val missing = raised(Seq(Seq(upsert(60L), upsert(400L))))
    assert(missing.exists(_.contains(
      "doc_id 400 is an upsert with no row in the payload store")),
      missing.toString)
    val deleted = StreamOps.streamCrudRun(spark, dir,
      Seq(Seq(delete(400L))), amendments()).manifest.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(deleted == fromScratch(corpus().filter(col("doc_id") =!= 400L)),
      deleted.toString)
    val both = raised(Seq(Seq(upsert(60L), delete(60L))))
    assert(both.exists(_.contains(
      "doc_id 60 is named by both an upsert and a delete")), both.toString)
  }

  test("a mixed CRUD stream (amend a keeper, delete it and an untouched " +
      "keeper, amend a third id) lands on the from-scratch chain of the " +
      "final world, in both commuting batch orders") {
    import StreamOps.CrudEvent.{delete, upsert}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_scrud_mixed").toString
    corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // batch 1: 60 steals 80's keepership; batch 2 deletes the thief
    // (80 must re-elect) and the untouched keeper 400; batch 3 amends
    // 205, independent of both
    val b1 = Seq(upsert(60L))
    val b2 = Seq(delete(60L), delete(400L))
    val b3 = Seq(upsert(205L))
    def streamed(batches: Seq[StreamOps.CrudEvent]*) =
      StreamOps.streamCrudRun(spark, dir, batches, amendments())
        .manifest.collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val world = corpus().filter(!col("doc_id").isin(60L, 400L))
      .join(amendments().filter(col("doc_id") === 205L)
        .select(col("doc_id"), col("text").as("__new")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("__new"), col("text")).as("text"))
    val want = fromScratch(world)
    val inOrder = streamed(b1, b2, b3)
    assert(inOrder == want, s"streamed $inOrder\nfrom-scratch $want")
    val amendFirst = streamed(b3, b1, b2)
    assert(amendFirst == want, s"streamed $amendFirst\nfrom-scratch $want")
  }
}
