package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Closed-form oracles for the Unicode canonicalization kernels. */
class TextNormSpec extends SparkSpec {

  import spark.implicits._

  private def one(form: String, s: String): String = {
    Seq(s).toDF("t")
      .select(GraftFunctions.utf8Normalize(col("t"), form))
      .collect()(0).getString(0)
  }

  test("NFC composes; NFD decomposes; both are idempotent") {
    val decomposed = "Café"        // e + combining acute
    val composed = "Caf\u00e9"     // precomposed
    assert(one("NFC", decomposed) == composed)
    assert(one("NFD", composed) == decomposed)
    assert(one("NFC", composed) == composed, "NFC must be idempotent")
    assert(one("NFD", decomposed) == decomposed, "NFD must be idempotent")
  }

  test("NFKC folds compatibility forms NFC must preserve") {
    assert(one("NFKC", "ﬁle") == "file", "fi ligature must unfold")
    assert(one("NFKC", "ｆｕｌｌ") == "full",
      "full-width latin must fold to ASCII")
    assert(one("NFKC", "①") == "1", "circled digit must fold")
    assert(one("NFC", "ﬁle") == "ﬁle",
      "NFC must NOT touch compatibility forms")
  }

  test("strip_accents folds composed AND decomposed marks") {
    val out = Seq("Café naïve Ångström")
      .toDF("t").select(GraftFunctions.stripAccents(col("t")))
      .collect()(0).getString(0)
    assert(out == "Cafe naive Angstrom")
  }

  test("normalization converges byte-distinct twins for exact dedup") {
    val twins = Seq((1L, "Café terrace"), (2L, "Café terrace"))
      .toDF("doc_id", "text")
    val rawKeys = twins.select(md5(col("text").cast("binary")))
      .distinct().count()
    val normKeys = twins.select(md5(
        GraftFunctions.utf8Normalize(col("text")).cast("binary")))
      .distinct().count()
    assert(rawKeys == 2, "un-normalized twins must hash apart")
    assert(normKeys == 1, "NFC-normalized twins must hash together")
  }

  test("nulls pass through; unknown form fails loudly; SQL surface works") {
    val r = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(GraftFunctions.utf8Normalize(col("t"))).collect()(0)
    assert(r.isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT utf8_normalize('x', 'NFX')").collect()
    }
    val sql = spark.sql(
      "SELECT strip_accents(utf8_normalize('Café', 'NFC'))")
      .collect()(0).getString(0)
    assert(sql == "Cafe")
  }
}
