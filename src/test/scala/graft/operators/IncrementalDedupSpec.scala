package graft.operators

import graft.SparkSpec

/** Multi-day ingest oracles for the incremental signature index. */
class IncrementalDedupSpec extends SparkSpec {

  import spark.implicits._

  private def doc(seed: Int, extra: String = ""): String =
    (0 until 30).map(j => s"w${seed}_$j").mkString(" ") +
      (if (extra.isEmpty) "" else " " + extra)

  private def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("verdicts: index twin, batch twin, fresh doc") {
    val index = IncrementalDedup.signatures(
      df(10L -> doc(1), 20L -> doc(2)), "doc_id", "text")
    val batch = df(
      11L -> doc(1, "tail"),   // near-twin of index doc 10
      30L -> doc(3),           // fresh
      31L -> doc(3, "tail"))   // near-twin of batch doc 30
    val v = IncrementalDedup.verdicts(index, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(v(11L) == ((true, false)))
    assert(v(30L) == ((false, false)), "min-id batch copy must survive")
    assert(v(31L) == ((false, true)))
  }

  test("updated index keeps survivors only; day-2 twin of day-1 doc flags") {
    val day0 = IncrementalDedup.signatures(df(10L -> doc(1)),
      "doc_id", "text")
    val day1 = df(20L -> doc(2), 21L -> doc(2, "tail"), 11L -> doc(1, "x"))
    val idx1 = IncrementalDedup.updated(day0, day1, "doc_id", "text")
    assert(idx1.select("id").collect().map(_.getLong(0)).toSet ==
      Set(10L, 20L), "index must grow by exactly the survivors")
    // day 2: a twin of day-1 survivor 20 must now hit the index
    val v2 = IncrementalDedup.verdicts(idx1,
        df(40L -> doc(2, "y")), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(v2(40L) == ((true, false)),
      "yesterday's survivor must reject today's twin")
  }

  test("index round-trips through parquet; signatures stay compatible") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr").toString
    val sigs = IncrementalDedup.signatures(
      df(10L -> doc(1), 20L -> doc(2)), "doc_id", "text")
    IncrementalDedup.writeIndex(sigs, dir)
    val loaded = IncrementalDedup.readIndex(spark, dir)
    val v = IncrementalDedup.verdicts(loaded,
        df(11L -> doc(1, "t")), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v(11L), "persisted signatures must still match probes")
  }

  test("pre-banded (compacted) index yields verdicts identical to the " +
      "re-band-per-ingest path, including through the band-partitioned " +
      "parquet round-trip") {
    val sigs = IncrementalDedup.signatures(
      df(10L -> doc(1), 20L -> doc(2), 30L -> doc(3)), "doc_id", "text")
    val batch = df(11L -> doc(1, "tail"), 40L -> doc(4),
      41L -> doc(4, "tail"))
    def verdictMap(v: org.apache.spark.sql.DataFrame) =
      v.collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2)))).toMap
    val live = verdictMap(IncrementalDedup.verdicts(sigs, batch,
      "doc_id", "text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_banded").toString
    IncrementalDedup.writeBandedIndex(sigs, dir)
    val compacted = verdictMap(IncrementalDedup.verdictsBanded(
      IncrementalDedup.readBandedIndex(spark, dir), sigs, batch,
      "doc_id", "text"))
    assert(live == compacted, s"live $live compacted $compacted")
    assert(live(11L) == ((true, false)) && live(41L) == ((false, true)))
    // the stored layout IS band-partitioned (one directory per band)
    val bandDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("band=")).length
    assert(bandDirs == 8, s"expected 8 band partitions, got $bandDirs")
  }

  test("hot-template bucket cap bounds cross-side candidates") {
    // 500 identical index docs + 1 batch echo: with maxBucket below the
    // bucket population nothing pairs (skipped loudly-by-contract), with
    // a generous cap the echo flags — the guard is the contract
    val hot = (0L until 500L).map(i => i -> doc(7)).toSeq
    val index = IncrementalDedup.signatures(df(hot: _*), "doc_id", "text")
    val batch = df(1000L -> doc(7))
    def flag(cap: Int) = IncrementalDedup.verdicts(index, batch,
        "doc_id", "text", maxBucket = cap)
      .collect()(0).getBoolean(1)
    assert(!flag(300), "over-cap bucket must be skipped, not exploded")
    assert(flag(600), "generous cap must admit the candidates")
  }
}
