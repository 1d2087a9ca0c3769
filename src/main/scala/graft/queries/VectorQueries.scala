package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Embedding / similarity-search queries (SURVEY §2B E36–E38).
  *
  * Scalar kernels (dot/cosine/L2) are Catalyst expressions in
  * [[graft.functions.VectorFunctions]]; these queries wire them into the
  * two standard distributed shapes:
  *   - brute-force probe×corpus (correctness baseline, E37) — fine when
  *     |probe| is small and broadcast;
  *   - LSH-bucketed ANN (E38, in [[graft.operators.AnnSearch]]) — the
  *     100 TB path, recall-checked against brute force in tests.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Sequential-order double-precision cosine via the `aggregate` HOF —
    * byte-for-byte the same fold DuckDB's list_cosine_similarity performs,
    * so results hash-match. The custom expression path (faster, codegen)
    * is used by the operators; this keeps the oracle exact. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  private def probesAndCorpus(s: SparkSession, d: String) = {
    val emb = Tables.embeddings(s, d)
    val probe = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val corpus = emb
      .select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))
    (probe, corpus)
  }

  /** Pairwise cosine probe×corpus (E36): broadcast the probes — the corpus
    * never shuffles, scan stays embarrassingly parallel. */
  val vectorCosine: Q = (s, d) => {
    val (probe, corpus) = probesAndCorpus(s, d)
    corpus.join(broadcast(probe))
      .select(col("probe_id"), col("cand_id"),
        round(GraftFunctions.cosineSim(col("pvec"), col("cvec")), 6).as("cos"))
  }

  /** Brute-force top-k per probe (E37): per-probe window over rounded
    * cosine (rounding makes cross-engine ordering exact), deterministic
    * tie-break on cand_id. */
  val similarityTopK: Q = (s, d) => {
    val (probe, corpus) = probesAndCorpus(s, d)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("cand_id"))
    corpus.join(broadcast(probe))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(GraftFunctions.cosineSim(col("pvec"), col("cvec")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  /** Hard-negative mining (round 5): top-5 cross-label neighbors per
    * anchor — same broadcast/window shape as [[similarityTopK]], label
    * inequality in the join condition. */
  val hardNegatives: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    graft.operators.AnnSearch.hardNegatives(emb,
      emb.filter(col("vec_id") < 5), k = 5)
  }

  /** Int8 scalar quantization round-trip (round 4) — hash-gated: codes,
    * scale, and max reconstruction error are closed-form double
    * arithmetic, so DuckDB reproduces them exactly (no tolerance). */
  val embedQuant: Q = (s, d) => {
    val q = graft.operators.VectorQuant.quantize(
      Tables.embeddings(s, d).select("vec_id", "embedding"), "embedding")
    // max_err computed BEFORE sq_scale is re-aliased to its rounded form:
    // lateral column alias resolution would otherwise rebind the
    // sq_scale reference inside the error expression to the 6dp-rounded
    // alias, silently reconstructing with a truncated scale
    q.withColumn("max_err", round(array_max(zip_with(
        transform(col("embedding"), x => x.cast("double")),
        graft.operators.VectorQuant.dequantize(col("sq_codes"),
          col("sq_scale")),
        (x, y) => abs(x - y))), 6))
      .select(col("vec_id"),
        round(col("sq_scale"), 6).as("sq_scale"),
        // null on empty arrays, matching DuckDB list_sum's NULL (a
        // zero-length embedding would otherwise hash-mismatch as 0)
        when(size(col("sq_codes")) === 0, lit(null))
          .otherwise(aggregate(col("sq_codes"), lit(0L), (a, c) => a + c))
          .as("sum_codes"),
        col("max_err"))
  }

  /** Similarity search over QUANTIZED storage (round 4) — the reason a
    * pipeline quantizes: both sides reconstruct from (codes, scale) and
    * search runs on the dequantized vectors, end-to-end deterministic —
    * hash-gated against DuckDB reproducing the same reconstruction. */
  val quantTopK: Q = (s, d) => {
    val q = graft.operators.VectorQuant.quantize(
        Tables.embeddings(s, d).select("vec_id", "embedding"), "embedding")
      .select(col("vec_id"), graft.operators.VectorQuant
        .dequantize(col("sq_codes"), col("sq_scale")).as("dvec"))
    graft.operators.AnnSearch.bruteForceTopK(
      q, q.filter(col("vec_id") < 5), k = 3,
      corpusVec = "dvec", probeVec = "dvec")
  }

  /** Norm statistics per label (E36/E27): native norm kernel + group agg. */
  val embedNorms: Q = (s, d) => {
    Tables.embeddings(s, d)
      .select(col("label"), GraftFunctions.vecNorm(col("embedding")).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg("norm"), 4).as("avg_norm"),
        round(min("norm"), 4).as("min_norm"),
        round(max("norm"), 4).as("max_norm"))
  }

  /** Johnson–Lindenstrauss ±1 random projection 64 → 16 (round 4):
    * map-only dimensionality reduction with an md5-derived sign matrix
    * any engine rebuilds from the salt — the in-order fold makes the
    * double arithmetic bit-identical to DuckDB's list_reduce, so this
    * floating-point output hash-matches exactly (rounded 6dp). Exploded
    * to (vec_id, j, v) rows: array column stringification differs
    * between pandas and DuckDB at the gate's comparer. */
  val randProject: Q = (s, d) =>
    graft.operators.RandomProjection.project(
        Tables.embeddings(s, d), "embedding", inDim = 64, outDim = 16)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
      .select(col("vec_id"), col("j"), round(col("v"), 6).as("v"))

  /** Per-label embedding centroids (round 4): elementwise mean vector
    * per class — the prototype computation behind clustering init,
    * nearest-class-mean classification, and semantic-dedup seeding.
    * Exploded to (label, pos) so the mean is ONE partial-aggregable
    * hash agg — dimensions shuffle as (label, pos, partial sum), never
    * whole vectors, and output rows = |labels|·dim regardless of corpus
    * size. */
  val embedCentroids: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        round(avg(col("x").cast("double")), 6).as("v"))

  /** Embedding covariance entries ([[graft.operators.EmbedStats
    * .covariance]], r14): the 64×64 upper triangle over 1/128-snapped
    * components — the embedding-drift monitor's raw material; exact
    * decimal moments, each entry one raw division. */
  val embedCov: Q = (s, d) =>
    graft.operators.EmbedStats.covariance(
      Tables.embeddings(s, d), "embedding")

  /** Top principal component ([[graft.operators.EmbedStats
    * .principalComponent]], r14): 20 power iterations from the
    * uniform 1/8 start over the same quantized covariance — dominant
    * direction + Rayleigh eigenvalue + explained trace share, the
    * anisotropy alarm. Every fold is index-ordered, so the whole
    * chain replays in SQL. */
  val embedPc: Q = (s, d) =>
    graft.operators.EmbedStats.principalComponent(
      Tables.embeddings(s, d), "embedding")

  /** Centroid silhouette per label class (round 13,
    * [[graft.operators.Clustering.silhouetteCentroid]]): how tight and
    * separated the 10 label clusters are — the cluster-quality number
    * a clustering-based curation step tracks. Components snap to the
    * 1/128 dyadic grid first, so the centroid means are order-free
    * exact and the whole gate hashes without a rounding tier. */
  val silhouetteLabels: Q = (s, d) =>
    graft.operators.Clustering.silhouetteCentroid(
      Tables.embeddings(s, d).filter(col("label").isNotNull)
        .withColumn("qv", transform(col("embedding"),
          x => floor(x.cast("double") * 128.0) / 128.0)),
      "vec_id", "qv", "label")

  /** Planted co-assignment gate for k-means clustering (round 4): ten
    * base vectors × four byte-identical copies (ids offset past the
    * table max, the SF-proof recipe). Whatever the hash seeding picked,
    * identical vectors MUST co-assign under the deterministic argmax
    * tie rule — every group reports exactly one distinct cluster. The
    * oracle is the closed-form contract, not a DuckDB k-means. */
  val clusterPlanted: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 10)
    val off = emb.agg((max("vec_id") + 1).as("__off"))
    // alias g BEFORE re-aliasing vec_id: a later col("vec_id") in the
    // same select would resolve to the new alias (lateral-alias gotcha)
    // cache: Clustering.assign re-references its input in the seed
    // job, every k-means iteration, and the final assignment — uncached,
    // each re-runs the 4-way union and the max(vec_id) aggregate
    val withG = (0 to 3).map(m => base.crossJoin(broadcast(off))
        .select(col("vec_id").as("g"),
          (col("vec_id") + lit(m) * col("__off")).as("vec_id"),
          col("embedding")))
      .reduce(_ unionAll _)
      .cache()
    graft.operators.Clustering.assign(
        withG.select("vec_id", "embedding"), "vec_id", "embedding",
        k = 10, iters = 2)
      .join(withG.select("vec_id", "g"), "vec_id")
      .groupBy("g")
      .agg(count(lit(1)).as("n_members"),
        countDistinct("cluster_id").as("n_clusters"))
  }

  /** Euclidean (L2) nearest neighbor per probe (E36/E37 variant). */
  val l2Nearest: Q = (s, d) => {
    val (probe, corpus) = probesAndCorpus(s, d)
    val dist = GraftFunctions.vecL2(col("pvec"), col("cvec"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("l2").asc, col("cand_id"))
    corpus.join(broadcast(probe))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"), round(dist, 6).as("l2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }
}
