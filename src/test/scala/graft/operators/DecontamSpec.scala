package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Oracles for the scale tiers of the round-2 pipeline operators:
  * hashed decontamination ≡ string decontamination, and the keep-best
  * dedup survivor rule. */
class DecontamSpec extends SparkSpec {

  private lazy val docs = graft.sources.Tables.documents(spark, sf)

  test("hashed n-gram overlap ≡ string n-gram overlap on real docs") {
    val corpus = docs.filter(col("doc_id") >= 5)
    val bench = docs.filter(col("doc_id") < 5)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val str = m(Decontam.overlap(corpus, bench, "doc_id", "text", 5))
    val hashed = m(Decontam.overlapHashed(corpus, bench, "doc_id", "text", 5))
    assert(str === hashed,
      "64-bit hashing must not change overlap counts at this scale")
  }

  test("ngram_hashes kernel ≡ xxhash64 of the n-gram strings") {
    import org.apache.spark.sql.functions._
    // byte-range hashing must be bit-identical to hashing the
    // materialized n-gram string, including empty-token edge cases
    import spark.implicits._
    val tricky = Seq("a b c d e f", "x  y z q r", " lead pad c d e",
      "trail a b c d ", "", "one", "exactly five token doc here")
      .toDF("t")
    val viaKernel = tricky.select(explode(
        graft.functions.GraftFunctions.ngramHashes(lower(col("t")), 5))
        .as("h")).collect().map(_.getLong(0)).distinct.sorted
    val viaStrings = tricky.select(explode(
        Decontam.ngrams(col("t"), 5)).as("ng"))
      .select(xxhash64(col("ng"))).collect().map(_.getLong(0)).distinct.sorted
    assert(viaKernel.toSeq === viaStrings.toSeq)
  }

  test("generator (UDTF) form streams the same hashes as the array form") {
    import org.apache.spark.sql.functions._
    def collectHashes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaGen = collectHashes(docs.select(col("doc_id"),
      graft.functions.GraftFunctions.ngramHashesGen(lower(col("text")), 5)))
    val viaArray = collectHashes(docs.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.ngramHashes(
        lower(col("text")), 5)).as("ngh")))
    assert(viaGen === viaArray)
    // and through SQL — the registered function is a real table generator
    docs.createOrReplaceTempView("docs_gen")
    val viaSql = collectHashes(spark.sql(
      "SELECT doc_id, ngram_hashes_gen(lower(text), 5) AS ngh FROM docs_gen"))
    assert(viaSql === viaArray)
  }

  test("short documents (< n tokens) contribute no n-grams") {
    import spark.implicits._
    val corpus = Seq((10L, "a b c d e f"), (11L, "a b")).toDF("id", "t")
    val bench = Seq((0L, "a b c d e x")).toDF("id", "t")
    val out = Decontam.overlap(corpus, bench, "id", "t", 5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((10L, 1L)))
  }

  test("bloom decontam is one-sided: never misses a true overlap") {
    val corpus = docs.filter(col("doc_id") >= 5)
    val bench = docs.filter(col("doc_id") < 5)
    val truth = Decontam.overlap(corpus, bench, "doc_id", "text", 5)
      .collect().map(_.getLong(0)).toSet
    // tiny 16 Kbit filter — false positives expected, negatives never
    val flagged = Decontam.bloomDecontam(corpus, bench, "doc_id", "text",
        5, mBits = 16384, k = 3)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(truth.subsetOf(flagged),
      s"bloom missed true overlaps: ${truth -- flagged}")
    // a generously sized filter converges to the exact answer here
    val exactish = Decontam.bloomDecontam(corpus, bench, "doc_id", "text",
        5, mBits = 1 << 22, k = 3)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(exactish == truth,
      "4 Mbit filter over ~200 n-grams must have no false positives")
  }

  test("hashed-tier bloom decontam: one-sided, converges to exact join") {
    val corpus = docs.filter(col("doc_id") >= 5)
    val bench = docs.filter(col("doc_id") < 5)
    val truth = Decontam.overlapHashed(corpus, bench, "doc_id", "text", 5)
      .collect().map(_.getLong(0)).toSet
    val small = Decontam.bloomDecontamHashed(corpus, bench, "doc_id",
        "text", 5, mBits = 16384, k = 3)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(truth.subsetOf(small),
      s"hashed bloom missed true overlaps: ${truth -- small}")
    val big = Decontam.bloomDecontamHashed(corpus, bench, "doc_id",
        "text", 5, mBits = 1 << 22, k = 3)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(big == truth,
      "4 Mbit long-keyed filter over ~200 n-grams must match the join")
  }

  test("bloom filter build is partition-order independent") {
    import spark.implicits._
    val items = (0 until 500).map(i => s"item $i").toDF("ng")
    def build(df: org.apache.spark.sql.DataFrame) = {
      df.agg(graft.functions.GraftFunctions.bloomAgg(col("ng"), 4096, 3))
        .collect()(0).getSeq[Long](0)
    }
    assert(build(items.repartition(7)) == build(items.coalesce(1)),
      "OR-merge must make the bit set independent of partitioning")
  }

  test("bloom_agg/bloom_contains compose from plain SQL") {
    import spark.implicits._
    Seq("alpha", "beta", "gamma").toDF("w").createOrReplaceTempView("bf_in")
    val hits = spark.sql("""
      WITH f AS (SELECT bloom_agg(w, 4096, 3) AS bf FROM bf_in)
      SELECT w, bloom_contains(bf, w, 4096, 3) AS hit
      FROM (SELECT 'alpha' AS w UNION ALL SELECT 'delta'), f
    """).collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(hits("alpha") && !hits("delta"))
  }

  test("semantic decontam flags exact twins and scaled copies, not others") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
    // bench: copies of vectors 0-4 plus SCALED copies of 5-9 (x2 each
    // component) — cosine is scale-invariant, so the n-gram tiers'
    // blind spot (surface form changed, meaning identical) is exactly
    // what must still be caught
    val bench = emb.filter(col("vec_id") < 5).select("embedding")
      .unionAll(emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(transform(col("embedding"),
          x => (x * 2.0f)).as("embedding")))
    val flagged = Decontam.semanticOverlap(emb, bench,
        "vec_id", "embedding", threshold = 0.999)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert((0L until 10L).forall(flagged), s"twins missing: $flagged")
    // verdict coverage: every corpus row gets a row, most unflagged
    val total = Decontam.semanticOverlap(emb, bench,
      "vec_id", "embedding", threshold = 0.999).count()
    assert(total == emb.count())
    assert(flagged.size < total / 2,
      "threshold 0.999 must not flag the bulk of the corpus")
  }

  test("keep-best dedup keeps the highest-quality copy of a dup cluster") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val rows =
      Seq((1L, base + "alpha beta gamma delta", 10L), // longest — must win
        (2L, base, 5L),
        (3L, base + "alpha", 7L)) ++
        (100L until 140L).map(i => (i, s"unique doc $i " + ("filler%d ".format(i) * 20), 1L))
    val df = rows.toDF("doc_id", "text", "quality")
    val survivors = Dedup.minhashDedupKeepBest(df, "doc_id", "text",
        "quality", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.contains(1L), s"best copy must survive: $survivors")
    assert(!survivors.contains(2L) && !survivors.contains(3L),
      s"worse copies must be dropped: $survivors")
    assert((100L until 140L).forall(survivors.contains),
      "non-duplicates must be untouched")
  }
}
