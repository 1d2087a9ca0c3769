package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-round quality artifact for the realistic dedup + sketch gates —
  * the r13-verdict #1 ask: the ANN four got measured recall in r13;
  * the remaining pinned rows-only gates (q_minhash_neardup/_dedup/
  * _keep_best/_transitive, q_simhash_neardup, q_semantic_dedup,
  * q_agg_approx_distinct, q_kmv_distinct) rested on planted twins
  * alone. This main measures, per round:
  *
  *  - pair-level PRECISION/RECALL of each realistic LSH path against
  *    the exact tier on the same corpus — MinHash-LSH vs the exact
  *    prefix-filtered trigram-Jaccard join ([[graft.operators
  *    .SetSimJoin.joinByJaccard]]), SimHash-pigeonhole vs exact
  *    all-pairs Hamming over the same signatures, hyperplane-LSH
  *    semantic pairs vs brute-force cosine;
  *  - SURVIVOR-SET agreement (Jaccard of survivor id sets) for the
  *    three survivorship rules (greedy min-id, keep-best-quality,
  *    transitive), each against the same rule applied to the exact
  *    pair graph;
  *  - recall by TRUE-Jaccard band on a mutation-grade planted corpus
  *    (prefix-truncated variants populate the 0.3-1.0 similarity
  *    range the natural word-soup corpus lacks — its only true pairs
  *    sit at J ≥ 0.9, see NOTES.md fixture traps), so the banding-law
  *    S-curve (1-(1-J^r)^b) of the registered operating point is ON
  *    RECORD, not assumed;
  *  - observed RELATIVE ERROR of the approximate-distinct sketches
  *    (HLL, KMV) against exact COUNT(DISTINCT) per group.
  *
  * Parameterizations come from the SAME named constants the gate
  * registrations use ([[graft.queries.DedupQueries]] MinhashNumHashes/
  * MinhashBands/…Threshold), so this artifact cannot drift from the
  * gates — the [[RecallBench]] discipline. Driver-side collects here
  * are measurement tooling over bounded sets (corpora are 500-5000
  * docs; pair sets are hundreds), not operator paths.
  *
  * Usage: `sbt "runMain graft.DedupQualityBench <sfDir>"` — one JSON
  * line per gate, recorded per round in PERF.md next to the ANN
  * recall table; DedupQualitySpec asserts measured-minus-margin. */
object DedupQualityBench {

  def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet

  def idSet(df: DataFrame, c: String): Set[Long] =
    df.select(col(c).cast("long")).collect().map(_.getLong(0)).toSet

  def setJaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a | b).size

  def prf(got: Set[(Long, Long)], truth: Set[(Long, Long)])
      : (Double, Double) = {
    val tp = (got & truth).size.toDouble
    (if (got.isEmpty) 1.0 else tp / got.size,
      if (truth.isEmpty) 1.0 else tp / truth.size)
  }

  /** Exact all-pairs Hamming ≤ maxHamming over the SAME simhash
    * signatures the realistic gate computes — ground truth for the
    * pigeonhole candidate generation (complete by theorem at ≤ 3
    * flips over 4 chunks; what this measures is bucket-cap loss). */
  def simhashTruth(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sigs = docs.select(col("doc_id").as("id"),
      graft.functions.GraftFunctions.simhash64(
        array_distinct(split(lower(col("text")), "\\s+"))).as("sim"))
    sigs.select(col("id").as("a"), col("sim").as("sa"))
      .join(broadcast(sigs.select(col("id").as("b"), col("sim").as("sb"))),
        col("a") < col("b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= maxHamming)
      .select("a", "b")
  }

  /** Brute-force cosine ≥ threshold over all embedding pairs — ground
    * truth for the hyperplane-LSH semantic path. */
  def semanticTruth(emb: DataFrame, threshold: Double): DataFrame = {
    emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .join(broadcast(emb.select(col("vec_id").as("b"),
        col("embedding").as("vb"))), col("a") < col("b"))
      .filter(graft.functions.GraftFunctions
        .cosineSim(col("va"), col("vb")) >= threshold)
      .select("a", "b")
  }

  /** Mutation-grade corpus: docs with doc_id < cap plus, per grade g,
    * a prefix-truncated variant keeping ceil(g·n) tokens at id
    * base + (grade index + 1) · offset. Trigram-Jaccard of a variant
    * vs its base ≈ g (exact value COMPUTED by the truth join, never
    * assumed) — populates the 0.3-1.0 true-similarity range. */
  def mutationCorpus(docs: DataFrame, cap: Int, offset: Long,
      grades: Seq[Double]): DataFrame = {
    val base = docs.filter(col("doc_id") < cap).select("doc_id", "text")
    val tk = filter(split(lower(col("text")), " "), t => length(t) > 0)
    grades.zipWithIndex.foldLeft(base) { case (acc, (g, i)) =>
      acc.unionAll(base.select(
        (col("doc_id") + lit((i + 1) * offset)).as("doc_id"),
        concat_ws(" ", slice(tk, lit(1),
          ceil(lit(g) * size(tk)).cast("int"))).as("text")))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.api.Engine.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Dedup, SetSimJoin}
    import graft.queries.{DedupQueries => DQ}
    import graft.sources.Tables

    val docs = Tables.documents(spark, sfDir).cache()
    docs.count()

    // ---- exact trigram-Jaccard truth, ONE prefix-filtered join at the
    // lowest gate threshold; higher-threshold truths are filters of it
    val truthAll = SetSimJoin.joinByJaccard(DQ.shingledDocs(spark, sfDir),
      "doc_id", "shingles", DQ.MinhashNearDupThreshold).cache()
    val truth03 = pairSet(truthAll, "id1", "id2")
    val truth04 = pairSet(truthAll.filter(
      col("jaccard") >= DQ.MinhashSurvivorThreshold), "id1", "id2")
    val truth05 = pairSet(truthAll.filter(
      col("jaccard") >= DQ.MinhashDedupThreshold), "id1", "id2")

    // ---- q_minhash_neardup: pair precision/recall at the gate point
    val lshPairs = pairSet(
      SparkEntry.queries("q_minhash_neardup")(spark, sfDir), "a", "b")
    val (p1, r1) = prf(lshPairs, truth03)
    println(f"""{"gate":"q_minhash_neardup","precision":$p1%.4f,"recall":$r1%.4f,"truth_pairs":${truth03.size},"emitted_pairs":${lshPairs.size},"params":"hashes=${DQ.MinhashNumHashes},bands=${DQ.MinhashBands},t=${DQ.MinhashNearDupThreshold}"}""")

    // ---- survivor-set agreement: each realistic rule vs the SAME rule
    // over the exact pair graph
    val allIds = idSet(docs, "doc_id")

    val lshGreedy = idSet(Dedup.minhashDedup(docs, "doc_id", "text",
      DQ.MinhashNumHashes, DQ.MinhashBands, DQ.MinhashDedupThreshold),
      "doc_id")
    val exactGreedy = allIds -- truth05.map(_._2)
    println(f"""{"gate":"q_minhash_dedup","survivor_jaccard":${setJaccard(lshGreedy, exactGreedy)}%.4f,"lsh_survivors":${lshGreedy.size},"exact_survivors":${exactGreedy.size},"params":"t=${DQ.MinhashDedupThreshold}"}""")

    val lshBest = idSet(Dedup.minhashDedupKeepBest(docs, "doc_id", "text",
      "n_chars", DQ.MinhashNumHashes, DQ.MinhashBands,
      DQ.MinhashSurvivorThreshold), "doc_id")
    val qual = docs.select(col("doc_id").cast("long"),
        col("n_chars").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactBestDoomed = truth04.map { case (a, b) =>
      if (qual(a) < qual(b) || (qual(a) == qual(b) && a > b)) a else b
    }
    val exactBest = allIds -- exactBestDoomed
    println(f"""{"gate":"q_minhash_keep_best","survivor_jaccard":${setJaccard(lshBest, exactBest)}%.4f,"lsh_survivors":${lshBest.size},"exact_survivors":${exactBest.size},"params":"t=${DQ.MinhashSurvivorThreshold}"}""")

    val lshTrans = idSet(Dedup.minhashDedupTransitive(docs, "doc_id",
      "text", DQ.MinhashNumHashes, DQ.MinhashBands,
      DQ.MinhashSurvivorThreshold), "doc_id")
    val truth04Df = truthAll
      .filter(col("jaccard") >= DQ.MinhashSurvivorThreshold)
      .select("id1", "id2")
    val exactTrans = idSet(SetSimJoin
      .dedupFromPairs(docs, "doc_id", truth04Df,
        componentPartitions = Some(4))
      .filter(!col("is_dup")), "doc_id")
    println(f"""{"gate":"q_minhash_transitive","survivor_jaccard":${setJaccard(lshTrans, exactTrans)}%.4f,"lsh_survivors":${lshTrans.size},"exact_survivors":${exactTrans.size},"params":"t=${DQ.MinhashSurvivorThreshold}"}""")

    // ---- q_simhash_neardup: pigeonhole path vs exact all-pairs Hamming
    val simGot = pairSet(
      SparkEntry.queries("q_simhash_neardup")(spark, sfDir), "a", "b")
    val simTruth = pairSet(
      simhashTruth(docs, DQ.SimhashMaxHamming), "a", "b")
    val (sp, sr) = prf(simGot, simTruth)
    println(f"""{"gate":"q_simhash_neardup","precision":$sp%.4f,"recall":$sr%.4f,"truth_pairs":${simTruth.size},"emitted_pairs":${simGot.size},"params":"maxHamming=${DQ.SimhashMaxHamming}"}""")

    // ---- q_semantic_dedup: hyperplane-LSH pairs + greedy survivors vs
    // brute-force cosine truth
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").cache()
    val semGot = pairSet(Dedup.semanticNearDup(emb, "vec_id", "embedding",
      DQ.SemanticDedupThreshold, tables = DQ.SemanticTables,
      bits = DQ.SemanticBits), "a", "b")
    val semTruth = pairSet(
      semanticTruth(emb, DQ.SemanticDedupThreshold), "a", "b")
    val (mp, mr) = prf(semGot, semTruth)
    val semSurv = idSet(Dedup.semanticDedup(emb, "vec_id", "embedding",
      DQ.SemanticDedupThreshold, tables = DQ.SemanticTables,
      bits = DQ.SemanticBits), "vec_id")
    val exactSemSurv = idSet(emb, "vec_id") -- semTruth.map(_._2)
    println(f"""{"gate":"q_semantic_dedup","pair_precision":$mp%.4f,"pair_recall":$mr%.4f,"survivor_jaccard":${setJaccard(semSurv, exactSemSurv)}%.4f,"truth_pairs":${semTruth.size},"emitted_pairs":${semGot.size},"params":"t=${DQ.SemanticDedupThreshold},tables=${DQ.SemanticTables},bits=${DQ.SemanticBits}"}""")

    // ---- recall by TRUE-Jaccard band on the mutation-grade corpus
    val maxId = docs.agg(max(col("doc_id")).cast("long")).head().getLong(0)
    val mut = mutationCorpus(docs, cap = 250, offset = maxId + 1,
      grades = Seq(0.45, 0.6, 0.75, 0.9)).cache()
    val mutTruth = SetSimJoin.joinByJaccard(
      DQ.shingled(mut, "shingles")
        .select(col("doc_id"), col("shingles")),
      "doc_id", "shingles", DQ.MinhashNearDupThreshold)
      .select("id1", "id2", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val mutGot = pairSet(Dedup.minhashLsh(mut, "doc_id", "text",
      DQ.MinhashNumHashes, DQ.MinhashBands,
      DQ.MinhashNearDupThreshold), "a", "b")
    val bands = Seq((0.3, 0.5), (0.5, 0.7), (0.7, 0.9), (0.9, 1.01))
    for ((lo, hi) <- bands) {
      val inBand = mutTruth.collect {
        case (pr, j) if j >= lo && j < hi => pr
      }.toSet
      val rec = if (inBand.isEmpty) -1.0
        else (inBand & mutGot).size.toDouble / inBand.size
      println(f"""{"curve":"minhash_lsh","band":"$lo%.1f-$hi%.1f","recall":$rec%.4f,"n":${inBand.size}}""")
    }
    mut.unpersist()

    // ---- semantic recall by TRUE-cosine band: deterministic noisy
    // variants of the first 200 vectors populate the 0.5-1.0 cosine
    // range (the isotropic corpus has essentially no true pairs above
    // 0.5 — one at sf0.01); noise is hash-derived (no RNG), truth is
    // brute-force cosine over the union, recall is the hyperplane-LSH
    // path at the registered knobs. The curve documents the operating
    // regime: tables=4 × bits=12 is a NEAR-duplicate detector
    // (collision ≈ (1-θ/π)^12 per table — high only as cos → 1).
    val semBase = emb.filter(col("vec_id") < 200)
    val dim = semBase.select(size(col("embedding"))).head().getInt(0)
    val semMut = Seq(0.25, 0.5, 0.9, 1.6).zipWithIndex
      .foldLeft(semBase) { case (acc, (sigma, i)) =>
        val noise = transform(sequence(lit(0), lit(dim - 1)), j =>
          (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(20001)) -
            lit(10000)).cast("double") / lit(10000.0))
        val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x * x))
        acc.unionAll(semBase.select(
          (col("vec_id") + lit((i + 1) * 100000L)).as("vec_id"),
          zip_with(col("embedding"), noise,
            (x, e) => x + e * lit(sigma) * nrm / lit(math.sqrt(dim / 3.0)))
            .as("embedding")))
      }.cache()
    // truth down to cos 0.5 (a CURVE bound, below the gate threshold
    // on purpose); got = CANDIDATE pairs at the registered knobs —
    // verification is exact, so candidate recall IS gate recall on
    // every band at or above the gate threshold, and the sub-threshold
    // bands show the raw hyperplane bucketing law
    val semMutTruth = {
      semMut.select(col("vec_id").as("a"), col("embedding").as("va"))
        .join(broadcast(semMut.select(col("vec_id").as("b"),
          col("embedding").as("vb"))), col("a") < col("b"))
        .select(col("a"), col("b"), graft.functions.GraftFunctions
          .cosineSim(col("va"), col("vb")).as("cos"))
        .filter(col("cos") >= 0.5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
    }
    val semMutGot = pairSet(Dedup.semanticCandidates(semMut, "vec_id",
      "embedding", tables = DQ.SemanticTables, bits = DQ.SemanticBits),
      "a", "b")
    for ((lo, hi) <- Seq((0.5, 0.7), (0.7, 0.85), (0.85, 0.95),
        (0.95, 1.01))) {
      val inBand = semMutTruth.collect {
        case (pr, c) if c >= lo && c < hi => pr
      }.toSet
      val rec = if (inBand.isEmpty) -1.0
        else (inBand & semMutGot).size.toDouble / inBand.size
      println(f"""{"curve":"semantic_lsh","band":"$lo%.2f-$hi%.2f","recall":$rec%.4f,"n":${inBand.size}}""")
    }
    if (sys.env.get("SPARK_GRAFT_DEDUP_SWEEP").contains("1")) {
      // knob sweep for the semantic operating point: recall on the
      // near-dup band (cos ≥ 0.9) + candidate fraction, across
      // tables×bits — the evidence behind the registered knobs
      val nMut = semMut.count()
      val allPairs = nMut * (nMut - 1) / 2.0
      for (tables <- Seq(4, 8, 16); bits <- Seq(8, 10, 12)) {
        val got = pairSet(Dedup.semanticNearDup(semMut, "vec_id",
          "embedding", DQ.SemanticDedupThreshold, tables = tables,
          bits = bits), "a", "b")
        val cand = Dedup.semanticCandidates(semMut, "vec_id",
          "embedding", tables = tables, bits = bits).count()
        val hi = semMutTruth.collect {
          case (pr, c) if c >= 0.9 => pr
        }.toSet
        val rec = if (hi.isEmpty) -1.0
          else (hi & got).size.toDouble / hi.size
        println(f"""{"sweep":"semantic","tables":$tables,"bits":$bits,"recall_hi":$rec%.4f,"cand_frac":${cand / allPairs}%.4f}""")
      }
    }
    semMut.unpersist()

    // ---- sketch relative error vs exact COUNT(DISTINCT)
    def relErr(gate: String, approx: DataFrame, keyCol: String,
        estCol: String, exact: DataFrame, exactCol: String,
        params: String): Unit = {
      val ex = exact.select(col(keyCol), col(exactCol).cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val errs = approx.select(col(keyCol), col(estCol).cast("long"))
        .collect().map { r =>
          math.abs(r.getLong(1) - ex(r.getString(0))).toDouble /
            ex(r.getString(0))
        }
      println(f"""{"gate":"$gate","max_rel_err":${errs.max}%.4f,"mean_rel_err":${errs.sum / errs.size}%.4f,"groups":${errs.size},"params":"$params"}""")
    }
    val orders = Tables.orders(spark, sfDir)
    relErr("q_agg_approx_distinct",
      SparkEntry.queries("q_agg_approx_distinct")(spark, sfDir),
      "o_orderpriority", "approx_cust",
      orders.groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("n")),
      "n", "spark-hll-relSD=0.05")
    val li = Tables.lineitem(spark, sfDir)
    relErr("q_kmv_distinct",
      SparkEntry.queries("q_kmv_distinct")(spark, sfDir),
      "l_returnflag", "approx_parts",
      li.groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n")),
      "n", "kmv-k=256")

    spark.stop()
  }
}
