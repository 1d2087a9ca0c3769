package graft.operators

import graft.SparkSpec

/** Closed-form oracles for the hashing-trick featurizer. */
class TextFeaturesSpec extends SparkSpec {

  import spark.implicits._

  private def tf(rows: Seq[(Long, String)], dim: Int) =
    TextFeatures.hashingTf(rows.toDF("doc_id", "text"),
        "doc_id", "text", dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("vectors are dense, fixed-dim, and count-preserving") {
    val out = tf(Seq(1L -> "a b c a", 2L -> "x", 3L -> "  a   b  "), 16)
    assert(out.keySet == Set(1L, 2L, 3L))
    out.values.foreach(v => assert(v.length == 16, "dim must be exact"))
    assert(out(1L).sum == 4, "counts must equal token count")
    assert(out(2L).sum == 1)
    assert(out(3L).sum == 2, "whitespace runs must not mint empty tokens")
  }

  test("same token always lands in the same cell; counts add up") {
    val out = tf(Seq(1L -> "a", 2L -> "a a a"), 8)
    val cell = out(1L).indexWhere(_ == 1L)
    assert(cell >= 0)
    assert(out(2L)(cell) == 3L, "repeated token must accumulate in place")
  }

  test("case-folds and is deterministic across runs") {
    val a = tf(Seq(1L -> "Foo BAR foo"), 32)
    val b = tf(Seq(1L -> "foo bar FOO"), 32)
    assert(a == b, "featurization must be case-insensitive + deterministic")
    assert(a(1L).max == 2L, "folded 'foo' must count twice")
  }

  test("zero-token docs drop out; dim must be positive") {
    val out = tf(Seq(1L -> "   ", 2L -> "word"), 8)
    assert(out.keySet == Set(2L), "whitespace-only docs must drop out")
    intercept[IllegalArgumentException] {
      TextFeatures.hashingTf(Seq((1L, "x")).toDF("doc_id", "text"),
        "doc_id", "text", 0)
    }
  }
}
