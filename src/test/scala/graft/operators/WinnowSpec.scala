package graft.operators

import graft.SparkSpec

/** [[Winnow.fingerprints]] — the MOSS guarantee (any shared substring
  * of length ≥ k + w − 1 shares a selected fingerprint), the brute
  * per-doc reference selection, boundary lengths, and the packed-pos
  * loud guard. The round-11 array kernel must select EXACTLY the same
  * (hash, pos) set as the definition (the hash-gate contract). */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val M = 1000000007L

  private def gramHash(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % M)

  /** Reference selection, literal SIGMOD'03 definition with the repo's
    * leftmost-(hash, pos) tie rule via the packed min. */
  private def reference(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    if (text.length < k + w - 1) return Set.empty
    val packed = (1 to text.length - k + 1).map(p =>
      gramHash(text.substring(p - 1, p - 1 + k)) * 1000000L + p)
    (0 to packed.length - w).map(i =>
      packed.slice(i, i + w).min).toSet.map((s: Long) =>
      (s / 1000000L, s % 1000000L))
  }

  private def run(docs: Seq[(Long, String)], k: Int = 5, w: Int = 4) =
    Winnow.fingerprints(docs.toDF("doc_id", "text"), "doc_id", "text",
        k, w)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet)
      .toMap

  test("matches the brute-force reference selection per doc") {
    val rng = new scala.util.Random(19)
    val docs = (1L to 40L).map(i =>
      i -> (1 to (rng.nextInt(60) + 8)).map(_ =>
        ('a' + rng.nextInt(4)).toChar).mkString)
    val got = run(docs)
    docs.foreach { case (id, t) =>
      val want = reference(t, 5, 4)
      assert(got.getOrElse(id, Set.empty) === want, s"doc $id: '$t'")
    }
  }

  test("the winnowing guarantee: docs sharing a k+w-1 substring " +
      "share a fingerprint hash") {
    val common = "zqxjvzqw" // k + w - 1 = 8 chars
    val docs = Seq(1L -> s"aaaa${common}bbbb", 2L -> s"cccc${common}dd")
    val got = run(docs)
    assert(got(1L).map(_._1).intersect(got(2L).map(_._1)).nonEmpty,
      s"no shared fingerprint: $got")
  }

  test("docs shorter than k + w - 1 emit nothing; boundary length " +
      "emits exactly one fingerprint") {
    val got = run(Seq(1L -> "abcdefg", 2L -> "abcdefgh"))
    assert(!got.contains(1L))
    assert(got(2L).size === 1) // ng = 4 = w: one complete window
    assert(got(2L) === reference("abcdefgh", 5, 4))
  }

  test("a >= 10^6-char doc raises instead of corrupting the packing") {
    val big = Seq(1L -> ("a" * 1000005)).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Winnow.fingerprints(big, "doc_id", "text", 2, 2).collect()
    }
    assert(ex.getMessage.contains("exceeds"), ex.getMessage)
  }
}
