package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Monotonic-contract oracles for the compressibility kernel (exact
  * deflate byte counts are JVM-zlib-specific — never hash-gated). */
class CompressSpec extends SparkSpec {

  import spark.implicits._

  private def ratio(s: String): Double = {
    Seq(s).toDF("t")
      .select(GraftFunctions.deflateLen(col("t")).cast("double") /
        octet_length(col("t")))
      .collect()(0).getDouble(0)
  }

  test("repetition < prose < noise — the band the filter relies on") {
    val spam = "buy now click here " * 40
    val prose = "The quick brown fox jumps over the lazy dog while " +
      "seventeen sailors argue about the weather in a quiet harbor " +
      "tavern, and nobody mentions the obvious problem with the mast. " * 3
    val noise = java.util.Base64.getEncoder.encodeToString(
      (0 until 8).flatMap(i =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"seed$i".getBytes("UTF-8")).toSeq).toArray)
    val (rs, rp, rn) = (ratio(spam), ratio(prose), ratio(noise))
    assert(rs < rp && rp < rn, s"band violated: $rs / $rp / $rn")
    assert(rs < 0.3, s"template spam must flag too_repetitive: $rs")
    assert(rn > 0.7, s"base64 noise must flag too_random: $rn")
    assert(rp > 0.3 && rp < 0.7, s"short prose must sit in the band: $rp")
  }

  test("operator flags both tails, passes prose; null-safe; SQL works") {
    val docs = Seq(
      (1L, "word " * 200),
      (2L, "A perfectly ordinary sentence about rivers, bridges, and " +
        "the slow economics of grain shipping in the late autumn rain. " +
        "It continues with enough variety that deflate finds little to " +
        "reuse beyond common English digraphs and the odd repeated word. " +
        "Further paragraphs wander through harbor schedules, the price " +
        "of rope, two brothers who disagree about barge maintenance, " +
        "and a short digression on why lighthouse keepers keep cats. " +
        "By the fourth sentence the vocabulary has spread wide enough " +
        "that the window stays busy without ever becoming random, " +
        "which is precisely the band natural language occupies."),
      (3L, java.util.Base64.getEncoder.encodeToString(
        (0 until 12).flatMap(i =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"y$i".getBytes).toSeq).toArray)))
      .toDF("doc_id", "text")
    val out = graft.operators.TextScore
      .compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(out(1L) == ((true, false)), s"spam: ${out(1L)}")
    assert(out(2L) == ((false, false)), s"prose: ${out(2L)}")
    assert(out(3L) == ((false, true)), s"noise: ${out(3L)}")
    val viaSql = spark.sql("SELECT deflate_len('aaaaaaaaaaaaaaaa')")
      .collect()(0).getInt(0)
    assert(viaSql > 0 && viaSql < 16)
  }
}
