package graft.operators

import graft.SparkSpec

/** Hand-computed oracles for the repetition/duplication quality
  * signals. */
class RepetitionSpec extends SparkSpec {

  import spark.implicits._

  test("within-doc signals match hand computation") {
    val docs = Seq(
      // bigrams: "a b","b a","a b","b a","a b" → 5 total, 2 distinct
      (1L, "a b a b a b"),
      // 11 unique tokens → 10 distinct bigrams, top share 1/10
      (2L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (3L, "solo")).toDF("doc_id", "text")
    val got = Repetition.signals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) == ((0.6, 0.5, 0.6, false)))       // 1-2/5, 1-2/4, 3/5
    assert(got(2L) == ((0.0, 0.0, 0.1, true)))
    assert(got(3L) == ((0.0, 0.0, 0.0, true)))        // no bigrams at all
  }

  test("dup-span fraction: shared spans counted, unique spans not") {
    val shared = (0 until 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " a1 a2"),      // 3 spans, 1 shared
      (2L, shared + " b1 b2 b3"),   // 4 spans, 1 shared
      (3L, (0 until 10).map(i => s"u$i").mkString(" ")), // 3 spans, unique
      (4L, "too short")).toDF("doc_id", "text")
    val got = Repetition.dupSpanFraction(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 1L, 0.333333)))
    assert(got(2L) == ((4L, 1L, 0.25)))
    assert(got(3L) == ((3L, 0L, 0.0)))
    assert(!got.contains(4L), "sub-n docs emit no row")
  }

  test("dup-span removal: keeper untouched, losers purged, coverage unions") {
    val shared = (0 until 8).map(i => s"s$i").mkString(" ")
    val run9 = (0 until 9).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " a b"),          // min-id holder of the s-span: keeper
      (2L, "x y " + shared),          // loses positions 2..9
      (3L, (0 until 10).map(i => s"u$i").mkString(" ")), // all spans unique
      (4L, "too short"),              // sub-n: passes through
      (5L, shared),                   // loses its entire text
      (6L, run9 + " c"),              // keeper of both t-spans
      (7L, "d " + run9)               // two overlapping spans → union 1..9
    ).toDF("doc_id", "text")
    val got = Repetition.removeDupSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == ((shared + " a b", 10, 0)))
    assert(got(2L) == (("x y", 10, 8)))
    assert(got(3L)._3 == 0)
    assert(got(4L) == (("too short", 2, 0)))
    assert(got(5L) == (("", 8, 8)))
    assert(got(6L) == ((run9 + " c", 10, 0)))
    assert(got(7L) == (("d", 10, 9)), "overlapping spans union coverage")
  }

  test("purge_positions kernel: linear merge, garbage-tolerant") {
    def purge(toks: Seq[String], pos: Seq[Int]): Seq[String] =
      Seq((toks, pos)).toDF("t", "p")
        .select(graft.functions.GraftFunctions.purgePositions(
          org.apache.spark.sql.functions.col("t"),
          org.apache.spark.sql.functions.col("p")))
        .collect()(0).getSeq[String](0)
    assert(purge(Seq("a", "b", "c", "d"), Seq(1, 3)) == Seq("a", "c"))
    assert(purge(Seq("a", "b"), Seq.empty) == Seq("a", "b"))
    assert(purge(Seq("a", "b"), Seq(0, 1)) == Seq.empty)
    // out-of-range and duplicate positions are skipped, not errors
    assert(purge(Seq("a", "b"), Seq(1, 1, 7)) == Seq("a"))
  }
}
