package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic test on a corpus with PLANTED near-duplicates: take real
  * documents, add perturbed copies (one token changed / appended), and
  * require the near-dup detectors to find the planted pairs and the
  * dedup operator to remove exactly the copies. */
class PlantedDupSpec extends SparkSpec {

  private def planted() = {
    import spark.implicits._
    val base = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").limit(50)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val copies = base.map { case (id, text) =>
      (id + 100000L, text + " perturbedtoken") // near-dup of id
    }
    val far = base.map { case (id, _) =>
      // pairwise-distinct token sets (id-derived), so far docs are not
      // near-dups of each other either
      (id + 200000L, (0 to 9).map(j => s"zz${id}t$j").mkString(" "))
    }
    (base ++ copies ++ far).toSeq.toDF("doc_id", "text")
  }

  test("minhash LSH finds every planted near-dup pair") {
    val docs = planted()
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseIds = docs.filter(col("doc_id") < 100000L)
      .select("doc_id").collect().map(_.getLong(0))
    baseIds.foreach { id =>
      assert(pairs.contains((id, id + 100000L)),
        s"planted pair ($id, ${id + 100000L}) missed")
    }
  }

  test("minhashDedup removes the planted copies, keeps originals") {
    val docs = planted()
    val survivors = Dedup.minhashDedup(docs, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val baseIds = docs.filter(col("doc_id") < 100000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    baseIds.foreach { id =>
      assert(!survivors.contains(id + 100000L),
        s"planted copy of $id must be removed")
      assert(survivors.contains(id + 200000L),
        s"unrelated doc ${id + 200000L} must survive")
    }
    // the synthetic corpus contains a few TRUE near-dup pairs among the
    // originals (shared tiny vocabulary); those clusters legitimately
    // collapse to their min id — allow a handful, not a collapse
    val baseSurvivors = baseIds.count(survivors.contains)
    assert(baseSurvivors >= 45,
      s"only $baseSurvivors/50 originals survived — over-deduplication")
  }

  test("exact-copy collapse preserves the survivor set") {
    // adding byte-identical copies must change NOTHING about which
    // original documents survive: copies are doomed, representative
    // relations are untouched (the formal equivalence the collapse
    // preamble claims)
    val docs = planted()
    val withCopies = docs.unionAll(docs
      .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    for ((name, run) <- Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "greedy" -> (d => Dedup.minhashDedup(d, "doc_id", "text",
          numHashes = 64, bands = 16, threshold = 0.5)),
        "transitive" -> (d => Dedup.minhashDedupTransitive(d, "doc_id",
          "text", numHashes = 64, bands = 16, threshold = 0.5)))) {
      val base = ids(run(docs))
      val withC = ids(run(withCopies))
      assert(withC == base,
        s"$name: copies changed the survivor set: +${withC -- base} " +
          s"-${base -- withC}")
    }
  }

  test("star fixture distinguishes greedy from transitive survivorship") {
    // hub (max id) pairs with both spokes; spokes don't pair with each
    // other — greedy pair-dedup dooms only the hub, transitive keeps one
    // doc per component. Same input, different survivor sets: the planted
    // driver oracle actually discriminates the two rules.
    val fix = graft.queries.DedupQueries.plantedStars(spark, sf)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val greedy = ids(Dedup.minhashDedup(fix, "doc_id", "text",
      numHashes = 128, bands = 64, threshold = 0.45))
    val transitive = ids(Dedup.minhashDedupTransitive(fix, "doc_id", "text",
      numHashes = 128, bands = 64, threshold = 0.45))
    val bases = (0L until 12L)
    val singles = (100L until 120L).map(_ * 10).toSet
    assert(greedy == bases.flatMap(b => Seq(b * 10, b * 10 + 1)).toSet
      ++ singles, s"greedy keeps both spokes: $greedy")
    assert(transitive == bases.map(_ * 10).toSet ++ singles,
      s"transitive keeps one per cluster: $transitive")
  }

  test("simhash hamming distance separates planted dups from unrelated") {
    val docs = planted()
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseIds = sigs.keys.filter(_ < 100000L)
    val dupDists = baseIds.map(id =>
      java.lang.Long.bitCount(sigs(id) ^ sigs(id + 100000L)))
    val farDists = baseIds.map(id =>
      java.lang.Long.bitCount(sigs(id) ^ sigs(id + 200000L)))
    assert(dupDists.sum.toDouble / dupDists.size <
      farDists.sum.toDouble / farDists.size - 5,
      "planted dups must be markedly closer in hamming space")
  }
}
