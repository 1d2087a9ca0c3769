package graft.streaming

import graft.SparkSpec

/** Overlay compaction on the amendment stream (r16 verdict #3 — the
  * one 100×-scale liability in the r16 code): `everAmended` /
  * `pairsNew` / `amendedRows` grow with stream LIFETIME, so the fold
  * must (a) empty them, (b) leave the manifest byte-identical —
  * compaction is a physical re-layout, never a semantic step — and
  * (c) let LATER batches run correctly against the folded store (the
  * hard case: batch 3's candidate fetches and pair voiding read
  * folded state, not the overlay that certified batches 1–2).
  * The fixture is StreamAmendSpec's planted corpus, whose steal chain
  * and doom-then-amend classes cross the fold boundary by
  * construction. */
class StreamAmendCompactSpec extends SparkSpec {
  import spark.implicits._

  private def text(seed: String, n: Int = 24): String =
    (0 until n).map(i => s"${seed}tok$i").mkString(" ")

  private def corpus() = Seq(
    (0L, "en", text("bench")),
    (60L, "en", text("sixty", 30)),
    (80L, "en", text("steal", 30)),
    (110L, "en", text("onet", 24)),
    (150L, "fr", text("mold", 30)),
    (160L, "fr", text("qdon", 30)),
    (205L, "fr", text("c205", 28)),
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

  private def manifest(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .toSet

  private val batches = Seq(Seq(60L, 150L), Seq(110L, 205L), Seq(300L))

  test("mid-stream fold (compactEvery=2): batch 3 runs against the " +
      "folded doc store + pair graph, the manifest equals the " +
      "unfolded stream, and the fold emptied the overlays") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_samend_cpt").toString
    corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val folded = StreamOps.streamAmendRun(spark, dir, batches,
      amendments(), compactEvery = 2)
    val plain = manifest(StreamOps.streamAmendFrom(spark, dir, batches,
      amendments()))
    assert(manifest(folded.manifest) == plain,
      s"folded ${manifest(folded.manifest)}\nplain $plain")
    assert(folded.folds == 1L, folded.toString)
    // post-fold the overlay restarted from empty; only batch 3's
    // single amendment (300, a takedown-by-re-crawl with no fresh
    // pairs) has accumulated since
    assert(folded.overlayAmended == 1L && folded.overlayPairs == 0L,
      folded.toString)
  }

  test("fold-every-batch (compactEvery=1): three folds fire and the " +
      "stream ends with literally empty overlays, manifest unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_samend_cpt1").toString
    corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val every = StreamOps.streamAmendRun(spark, dir, batches,
      amendments(), compactEvery = 1)
    val plain = manifest(StreamOps.streamAmendFrom(spark, dir, batches,
      amendments()))
    assert(manifest(every.manifest) == plain)
    assert(every.folds == 3L, every.toString)
    assert(every.overlayAmended == 0L && every.overlayPairs == 0L,
      every.toString)
  }

  test("an uncompacted stream RAISES loudly when the accumulated " +
      "overlay passes maxOverlay (r16 advice: bounded driver state, " +
      "never slow exhaustion)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_samend_cap").toString
    corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      StreamOps.streamAmendRun(spark, dir, batches, amendments(),
        compactEvery = 0, maxOverlay = 1L).manifest.collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("maxOverlay"))),
      e.toString)
    // the same stream with compaction enabled stays under the cap
    // (the require sees the PRE-fold per-batch peak of 4 = 2 ids + 2
    // fresh pairs; the fold then empties it): the fold IS the remedy
    // the raise names
    val ok = StreamOps.streamAmendRun(spark, dir, batches, amendments(),
      compactEvery = 1, maxOverlay = 4L)
    assert(manifest(ok.manifest) == manifest(
      graft.queries.PipelineQueries.corpusAmendFrom(spark, dir,
        amendments())))
  }
}
