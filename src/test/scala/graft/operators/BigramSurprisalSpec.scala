package graft.operators

import graft.SparkSpec

class BigramSurprisalSpec extends SparkSpec {
  import spark.implicits._

  test("word order moves the bigram score but not the unigram one") {
    // many copies establish "a b" as the overwhelming bigram; the
    // shuffled doc has the same unigram profile but alien bigrams
    val docs = ((1L to 40L).map(i => (i, "a b a b a b a b")) :+
      (99L, "b a b a b a b a")).toDF("doc_id", "text")
    val uni = TextScore.unigramSurprisal(docs, "doc_id", "text")
      .select("doc_id", "avg_surprisal").as[(Long, Double)].collect().toMap
    // identical token multiset -> identical unigram score
    assert(uni(1L) === uni(99L))
    val big = TextScore.bigramSurprisal(docs, "doc_id", "text")
      .select("doc_id", "avg_bigram_surprisal")
      .as[(Long, Double)].collect().toMap
    assert(big(99L) > big(1L),
      s"shuffled doc must score as less typical: ${big(99L)} vs ${big(1L)}")
  }

  test("docs with fewer than two tokens drop out; bigram counts are right") {
    val docs = Seq((1L, "x y z"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val out = TextScore.bigramSurprisal(docs, "doc_id", "text")
      .select("doc_id", "n_bigrams").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L))
  }
}
