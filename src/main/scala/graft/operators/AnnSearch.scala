package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2B E37/E38; north-star mandate).
  *
  * Three tiers:
  *
  *  - '''brute force''' (correctness baseline): broadcast the probes, scan
  *    the corpus once, per-probe top-k via window. Exact; cost O(|corpus|·
  *    |probes|·dim) but embarrassingly parallel and shuffle-free until the
  *    k-row-per-probe reduction.
  *  - '''hyperplane LSH''': sign-pattern of `bits` random hyperplanes →
  *    bucket id; `tables` independent hash tables give multi-probe recall.
  *    Corpus is bucketed scan-side; the probe join is an equi-join on
  *    (table, bucket) — at 100 TB the only thing shuffled is (bucket id,
  *    vector) pairs, and a pre-bucketed/bucketed-table layout removes even
  *    that.
  *  - '''IVF''' (inverted file): corpus assigned to its nearest of C
  *    centroids; probes search the `nprobe` nearest lists. Centroids here
  *    are a deterministic sample (id-strided) — at production scale you'd
  *    k-means them; list assignment and multi-list probing are identical.
  *
  * Hyperplanes are seeded deterministically so plans are reproducible
  * across runs and executors (no driver→executor closure randomness).
  */
object AnnSearch {

  /** Probe-side broadcast contract, now enforced: every search path here
    * (and in [[Pq.adcTopK]]/[[IvfPq.search]]) broadcasts the probe side —
    * per-probe vectors or ADC distance tables ride driver memory, so the
    * paths are correct only while the probe set is small. The cap is
    * `spark.graft.ann.maxBroadcastProbes` (default 100000 ≈ tens of MB of
    * 64-dim doubles). Counting stops at cap+1 rows (LocalLimit), so the
    * guard costs one truncated job, not a corpus scan. */
  private[operators] def guardProbes(probes: DataFrame, path: String): Unit = {
    val max = probes.sparkSession.conf
      .getOption("spark.graft.ann.maxBroadcastProbes")
      .getOrElse("100000").toLong
    val n = probes.limit((max min Int.MaxValue - 1).toInt + 1).count()
    require(n <= max,
      s"$path broadcasts the probe side, and the probe set exceeds " +
        s"spark.graft.ann.maxBroadcastProbes=$max. Chunk the probes by id " +
        "range and union the per-chunk top-k results (each chunk stays " +
        "under the cap and the corpus scan is repeated, not shuffled), or " +
        "raise the cap if the driver has memory headroom.")
  }

  /** The full centroid set as ONE broadcastable row, with an IN-PLAN
    * bounds check — zero extra jobs (no count), failing loudly before a
    * pathological stride's centroid row reaches the broadcast (the
    * driver-fatal step). An empty seed set also fails here instead of
    * silently assigning every row to a sentinel list. Cap:
    * `spark.graft.ann.maxCentroids` (default 100000). */
  private[operators] def centroidRow(centroids: DataFrame): DataFrame = {
    val maxC = centroids.sparkSession.conf
      .getOption("spark.graft.ann.maxCentroids").getOrElse("100000").toLong
    centroids.agg(
        collect_list(struct(col("centroid_id"), col("centvec"))).as("cents"))
      .select(when(size(col("cents")).between(1, maxC), col("cents"))
        .otherwise(raise_error(concat(
          lit("centroid set size "), size(col("cents")).cast("string"),
          lit(s" outside [1, $maxC] (spark.graft.ann.maxCentroids) — " +
            "raise the stride, or the cap if the driver has headroom"))))
        .as("cents"))
  }

  /** Deterministic unit-ish hyperplanes: `tables × bits × dim`. */
  private[operators] def hyperplanes(tables: Int, bits: Int, dim: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /** Bucket id of a vector under one table's hyperplanes. */
  private[operators] def bucketExpr(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(GraftFunctions.vecDot(vec, typedLit(p.toSeq)) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact brute-force top-k: the baseline every approximate tier is
    * recall-scored against. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      probeId: String = "vec_id", probeVec: String = "embedding")
      : DataFrame = {
    guardProbes(probes, "bruteForceTopK")
    val p = probes.select(col(probeId).as("probe_id"),
      col(probeVec).as("pvec"))
    val c = corpus.select(col(corpusId).as("cand_id"),
      col(corpusVec).as("cvec"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(GraftFunctions.cosineSim(col("pvec"), col("cvec")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training — per anchor, the k
    * most-similar corpus vectors whose label DIFFERS from the anchor's
    * (the near-miss negatives that carry the gradient signal; random
    * negatives are trivially separable and teach nothing — the standard
    * dense-retrieval recipe, e.g. DPR/ANCE). `positives` (same-label
    * rows) and the anchor itself are excluded IN the join condition, so
    * they never reach the scorer.
    *
    * Scale shape: identical to [[bruteForceTopK]] — anchors broadcast
    * (guarded), the corpus scans map-side, the only shuffle is the
    * per-anchor top-k window keyed by anchor id. For corpus sizes where
    * brute force is too hot, mine from an [[ivfTopK]]/[[lshTopK]]
    * candidate set with a larger k and filter labels after — the label
    * filter composes with every tier because it rides the pair stream,
    * not the index.
    *
    * Returns (anchor_id, cand_id, anchor_label, cand_label, cos, rank). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    guardProbes(anchors, "hardNegatives")
    val a = anchors.select(col(corpusId).as("anchor_id"),
      col(corpusVec).as("avec"), col(labelCol).as("anchor_label"))
    val c = corpus.select(col(corpusId).as("cand_id"),
      col(corpusVec).as("cvec"), col(labelCol).as("cand_label"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(a), col("anchor_id") =!= col("cand_id")
        && col("anchor_label") =!= col("cand_label"))
      .select(col("anchor_id"), col("cand_id"), col("anchor_label"),
        col("cand_label"),
        round(GraftFunctions.cosineSim(col("avec"), col("cvec")), 6)
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Shared gather/score/top-k tail for the approximate tiers: candidate
    * pairs arrive as ids only; vectors are re-attached by id (corpus side
    * joins once by `cand_id`, probe side broadcasts), cosine is scored,
    * and a per-probe window takes the top k. Embedding columns therefore
    * ride at most ONE shuffle (the corpus gather join — which AQE
    * broadcasts away when the corpus is small), never the candidate-dedup
    * or window exchanges. */
  private def scoreTopK(pairs: DataFrame, corpus: DataFrame,
      probes: DataFrame, k: Int, corpusId: String, corpusVec: String,
      probeId: String, probeVec: String): DataFrame =
    refineTopK(pairs, corpus, probes, k, metric = "cosine", corpusId,
      corpusVec, probeId, probeVec)

  /** Exact re-rank of ANY candidate pair stream — the refinement tail
    * that turns a quantized shortlist into exact-metric top-k (the
    * IVFADC+R recipe, Jégou et al., TPAMI 2011): feed it the ADC top-R
    * of [[graft.operators.Pq.adcTopK]] / [[graft.operators.IvfPq
    * .search]] (R a few × k) and it re-scores those R candidates with
    * the TRUE vectors. On corpora whose distance gaps are smaller than
    * the quantization noise (the driver's isotropic synthetic
    * embeddings: true top-10 cosine ≈ the bulk p99 — RecallBench
    * structure line), ADC alone caps near recall 0.45 at ANY codebook
    * size, while ADC→refine recovers the true ranking for every
    * shortlist that contains it — measured 0.30 → ≥0.9 at R = 5k
    * (PERF.md round-13 recall table).
    *
    * Scale shape: `pairs` carries ids only; the corpus gather joins by
    * `cand_id` — ≤ R rows per probe, NOT a corpus scan — and probes
    * broadcast (guarded). Vectors ride at most that one gather join,
    * never a candidate or window exchange; the per-probe window is
    * keyed, R-row bounded.
    *
    * @param pairs  (probe_id, cand_id) candidates (extra columns ok)
    * @param metric "cosine" (descending) or "l2" (ascending) — match
    *               the metric of the shortlist's index
    * @return (probe_id, cand_id, cos|l2, rank), rank ≤ k */
  def refineTopK(pairs: DataFrame, corpus: DataFrame,
      probes: DataFrame, k: Int, metric: String = "cosine",
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      probeId: String = "vec_id", probeVec: String = "embedding")
      : DataFrame = {
    require(metric == "cosine" || metric == "l2",
      s"refineTopK: metric must be cosine or l2, got $metric")
    guardProbes(probes, "refineTopK")
    val cv = corpus.select(col(corpusId).as("cand_id"),
      col(corpusVec).as("cvec"))
    val pv = probes.select(col(probeId).as("probe_id"),
      col(probeVec).as("pvec"))
    val scoreCol = if (metric == "cosine") "cos" else "l2"
    val score =
      if (metric == "cosine")
        round(GraftFunctions.cosineSim(col("pvec"), col("cvec")), 6)
      else round(GraftFunctions.vecL2(col("pvec"), col("cvec")), 6)
    val ord = if (metric == "cosine") col("cos").desc else col("l2").asc
    val w = Window.partitionBy("probe_id").orderBy(ord, col("cand_id"))
    pairs.select("probe_id", "cand_id")
      .join(cv, Seq("cand_id"))
      .join(broadcast(pv), Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"), score.as(scoreCol))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Multi-table hyperplane-LSH top-k. Recall grows with `tables`;
    * candidate cost shrinks with `bits`. `dim` MUST equal the embedding
    * dimensionality — it is a parameter rather than a `head()` scan probe
    * (no extra driver-side job per call); a mismatch fails loudly at
    * execution with VecDot's "vector length mismatch". */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      tables: Int = 8, bits: Int = 10, seed: Long = 42L, dim: Int = 64,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      probeId: String = "vec_id", probeVec: String = "embedding")
      : DataFrame = {
    val planes = hyperplanes(tables, bits, dim, seed)

    // ONE scan: all tables' bucket ids computed in a single projection,
    // then posexploded — a union of per-table reads would scan the corpus
    // `tables` times. Only (id, table, bucket) leaves the scan: vectors
    // stay out of every candidate-generation shuffle.
    def bucketed(df: DataFrame, id: String, vec: String,
        asId: String): DataFrame =
      df.select(col(id).as(asId),
          posexplode(array((0 until tables).map(t =>
            bucketExpr(col(vec), planes(t))): _*)))
        .withColumnRenamed("pos", "table")
        .withColumnRenamed("col", "bucket")

    val c = bucketed(corpus, corpusId, corpusVec, "cand_id")
    val p = bucketed(probes, probeId, probeVec, "probe_id")
    // multi-table collision dedup on 16 bytes of ids — the distinct
    // exchange never carries an embedding
    val pairs = c.join(broadcast(p), Seq("table", "bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id").distinct()
    scoreTopK(pairs, corpus, probes, k, corpusId, corpusVec,
      probeId, probeVec)
  }

  /** Argmax over the one-row collected centroid array (`cents` from
    * [[centroidRow]]): highest cosine, ties to the largest centroid_id.
    * Order-independent over the array, so collect_list's
    * nondeterministic ordering cannot leak into results. ONE definition
    * shared by the k-means loop and [[Clustering.assign]] — the tie
    * rule is the determinism contract. */
  private[operators] def argmaxCentroid(vec: Column): Column =
    aggregate(col("cents"),
      struct(lit(Double.NegativeInfinity).as("sim"),
        lit(Long.MinValue).as("centroid_id")),
      (acc, c) => {
        val sim = GraftFunctions.cosineSim(vec, c.getField("centvec"))
        when(sim > acc.getField("sim") ||
            (sim === acc.getField("sim") &&
              c.getField("centroid_id") > acc.getField("centroid_id")),
          struct(sim.as("sim"),
            c.getField("centroid_id").as("centroid_id")))
          .otherwise(acc)
      })

  /** Lloyd's k-means over an embedding column, fully distributed and
    * shuffle-free on vectors: the whole centroid set rides ONE broadcast
    * row as an array, assignment is a per-row argmax fold over that array
    * (a projection — corpus vectors never enter any exchange), and the
    * update step's (cluster, dim) mean partial-aggregates map-side so the
    * only shuffle carries C×dim partial sums per partition.
    *
    * The quantizer is sized by `lists`, not an id stride: seeds are the
    * up-to-`lists` DISTINCT-content representatives ranking lowest by
    * `xxhash64(id)` — the dedup aggregate shuffles (content hash, id)
    * pairs only (never vectors), and corpora with fewer distinct
    * contents than `lists` get that many centroids. Bounding by `lists`
    * keeps C — and with it the C·n argmax cost — CONSTANT as the corpus
    * grows (a stride-proportional C measured 51× wall at 32× data), and
    * hash selection is uniform for ANY id distribution — an
    * `id % stride` filter picks 5× too many seeds when ids are strided
    * (replication offsets, dedup survivors) and silently re-creates the
    * quadratic cost. Deterministic, so runs are reproducible.
    *
    * Sizing guidance: `lists` is an index parameter, chosen per corpus —
    * the standard heuristic is ≈ √n (assignment costs O(n·C), within-
    * list work O(n²/C); √n balances them). It is deliberately NOT
    * auto-derived: an index rebuilt at a different corpus size changing
    * its list count silently would invalidate persisted artifacts.
    * Returns (centroid_id, centvec: array<double>). */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      lists: Int, iters: Int): DataFrame = {
    require(lists > 0, "lists must be positive")
    // Seed from the `lists` lowest DISTINCT content hashes, not raw ids:
    // on a duplicate-heavy corpus id-hash seeding wastes seeds on copies
    // (two identical seeds → the tie rule starves one, a cluster slot is
    // lost, and two real groups merge — caught by ClusteringSpec).
    // Shuffle hygiene holds: the dedup aggregate carries (content hash,
    // id) pairs only, and the k chosen seed ids broadcast back to fetch
    // their vectors — corpus vectors never enter an exchange.
    // rank the representatives by id hash — the SAME order the seeding
    // always used — so on an all-distinct corpus this reduces exactly
    // to the previous behavior; only duplicate contents drop out
    val seedIds = corpus
      .select(xxhash64(col(vecCol)).as("__vh"), col(idCol).as("__sid"))
      .groupBy("__vh").agg(min(col("__sid")).as("__sid"))
      .orderBy(xxhash64(col("__sid")), col("__sid"))
      .limit(lists)
      .select("__sid")
    var centroids = corpus
      .join(broadcast(seedIds), col(idCol) === col("__sid"))
      .select(col(idCol).as("centroid_id"),
        transform(col(vecCol), x => x.cast("double")).as("centvec"))
    var i = 0
    while (i < iters) {
      val centArr = centroidRow(centroids)
      val best = argmaxCentroid(col("__vec"))
      val assigned = corpus
        .select(col(vecCol).as("__vec"))
        .join(broadcast(centArr))
        .select(best.getField("centroid_id").as("centroid_id"),
          col("__vec"))
      // one partial-aggregating shuffle per iteration: VecMean moves a
      // (count, sums[dim]) buffer per cluster per map partition, vs the
      // posexplode formulation's two barriers over k×dim rows
      centroids = assigned
        .groupBy("centroid_id")
        .agg(GraftFunctions.vecMean(col("__vec")).as("centvec"))
      i += 1
    }
    centroids
  }

  /** IVF top-k: k-means lists + nprobe-list search. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      lists: Int = 20, nprobe: Int = 4, kmeansIters: Int = 2,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      probeId: String = "vec_id", probeVec: String = "embedding")
      : DataFrame = {
    // trained inverted-file lists; cache: reused by corpus + probe
    // assignment (at production scale this is the persisted index)
    val centroids = kmeansCentroids(corpus, corpusVec, corpusId,
      lists, kmeansIters).cache()

    // id → nearest list(s). Emits ids only — vectors never enter an
    // assignment shuffle. lists=1 (the corpus side, i.e. the whole 100 TB)
    // is a one-pass max_by reduction with map-side combine; the window
    // sort survives only for the tiny nprobe>1 probe side.
    def assign(df: DataFrame, id: String, vec: String, asId: String,
        lists: Int): DataFrame = {
      val scored = df.select(col(id).as(asId), col(vec).as("__vec"))
        .join(broadcast(centroids))
        .select(col(asId), col("centroid_id"),
          GraftFunctions.cosineSim(col("__vec"), col("centvec")).as("cdist"))
      if (lists == 1)
        // argmax: highest cdist, ties to the smallest centroid_id —
        // identical pick order to the window formulation below
        scored.groupBy(asId)
          .agg(max_by(col("centroid_id"),
            struct(col("cdist"), -col("centroid_id"))).as("centroid_id"))
      else {
        val w = Window.partitionBy(asId)
          .orderBy(col("cdist").desc, col("centroid_id"))
        scored.withColumn("crank", row_number().over(w))
          .filter(col("crank") <= lists)
          .select(col(asId), col("centroid_id"))
      }
    }

    val c = assign(corpus, corpusId, corpusVec, "cand_id", 1)
    val p = assign(probes, probeId, probeVec, "probe_id", nprobe)
    // each candidate lives in exactly one list and a probe's nprobe lists
    // are distinct, so (probe_id, cand_id) pairs are already unique — no
    // dedup pass needed, unlike the multi-table LSH tier
    val pairs = c.join(broadcast(p), Seq("centroid_id"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id")
    scoreTopK(pairs, corpus, probes, k, corpusId, corpusVec,
      probeId, probeVec)
  }
}
