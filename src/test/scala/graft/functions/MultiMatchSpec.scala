package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Aho–Corasick matcher is differentially pinned to the
  * DEFINITIONAL form — `terms.filter(text.contains)` — over inputs
  * chosen to stress the automaton: overlapping terms, terms that are
  * suffixes of other terms (output via fail links), matches that
  * start mid-failure, and repeated/periodic text. */
class MultiMatchSpec extends SparkSpec {
  import spark.implicits._

  private val terms =
    Seq("aba", "ba", "ab", "baba", "b", "abcabd", "cab", "xyz")

  private def naive(text: String): Seq[String] =
    terms.filter(text.contains(_))

  test("automaton agrees with the definitional contains filter on " +
      "overlap/suffix/periodic corners") {
    val auto = new AcAutomaton(terms.toArray)
    val texts = Seq("", "a", "b", "ab", "ba", "aba", "abab", "ababa",
      "babab", "abcabd", "abcabcabd", "cabcab", "xxyzz", "xyxyz",
      "aaaa", "bbbb", "abba", "baab", "abcabcabcabd",
      "the quick brown fox", "ababababababababab")
    texts.foreach { t =>
      val got = auto
        .hitsOf(org.apache.spark.unsafe.types.UTF8String.fromString(t))
      val gotSeq = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      assert(gotSeq == naive(t), s"text '$t': $gotSeq vs ${naive(t)}")
    }
  }

  test("blockTermHits column: codegen path, dictionary order, null in " +
      "-> null out") {
    val df = Seq((1L, Some("ababa")), (2L, Some("no hits here at all")),
      (3L, None), (4L, Some("abcabd plus xyz"))).toDF("id", "text")
    val got = df.select(col("id"),
        GraftFunctions.blockTermHits(col("text"), terms).as("hits"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[String](1)).map(_.toList)).toMap
    assert(got(1L) == Some(List("aba", "ba", "ab", "baba", "b")), got)
    assert(got(2L) == Some(Nil), got)
    assert(got(3L).isEmpty, got)
    assert(got(4L) == Some(List("ab", "b", "abcabd", "cab", "xyz")), got)
  }

  test("term-list contract raises: empty, duplicate, separator") {
    val e1 = intercept[IllegalArgumentException] {
      GraftFunctions.blockTermHits(lit("x"), Seq.empty)
    }
    assert(e1.getMessage.contains("empty term list"))
    val e2 = intercept[IllegalArgumentException] {
      GraftFunctions.blockTermHits(lit("x"), Seq("a", "a"))
    }
    assert(e2.getMessage.contains("duplicate"))
    val e3 = intercept[IllegalArgumentException] {
      GraftFunctions.blockTermHits(lit("x"), Seq("a\u0001b"))
    }
    assert(e3.getMessage.contains("separator"))
  }
}
