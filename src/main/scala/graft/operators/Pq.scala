package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Product quantization (PQ) for embedding columns — the memory tier of
  * ANN at 100 TB (SURVEY §2B E38 depth): a dim-`D` float vector (4·D
  * bytes) compresses to `m` sub-codes (one small int each), ~32× smaller
  * at (m=8, k=16, D=64), so a corpus that cannot hold its raw embeddings
  * in memory serves ANN from codes + an `m·k·(D/m)` codebook that fits in
  * a broadcast.
  *
  * Shuffle discipline (the point at scale):
  *  - '''train''' — per-subspace Lloyd's: the flat codebook rides one
  *    broadcast row, assignment is the native [[graft.functions.PqEncode]]
  *    kernel (a projection — raw vectors never enter any exchange), and
  *    the update's (sub, code, dim) mean partial-aggregates map-side.
  *  - '''encode''' — a single codegen'd projection per row; output is
  *    (id, pq_codes).
  *  - '''search''' — asymmetric distance computation (ADC): each probe
  *    precomputes its m·k distance table ONCE
  *    ([[graft.functions.PqDistTable]]), tables broadcast with the
  *    probes, and scoring a candidate is m table lookups
  *    ([[graft.functions.PqAdc]]) — the corpus scan reads codes only,
  *    and nothing shuffles until the ≤k-row per-probe top-k reduction.
  *
  * All three hot loops are native codegen expressions: the HOF-fold
  * formulation measured ~7 s for train+encode at sf0.1; the kernels run
  * it sub-second (same rationale as TextHashExpressions / minhash).
  *
  * Determinism: codebook init is the first-k-ids sample (production would
  * kmeans++-seed; iteration dynamics identical); argmins tie-break to the
  * smallest code.
  */
object Pq {

  /** Trained codebooks flattened to ONE broadcastable row `cb`:
    * array<double> of m·k·(dim/m), sub-major then code then component.
    * Shared with [[IvfPq]] — the kernels' flat layout depends on exactly
    * this ordering. */
  private[operators] def flatRow(books: DataFrame): DataFrame =
    books.agg(flatten(transform(
      array_sort(collect_list(struct(col("sub"), col("code"),
        col("centvec")))),
      s => s.getField("centvec"))).as("cb"))

  /** `m` contiguous subvectors (as double arrays) of a float vector —
    * used by the update step only; kernels index the flat layout. */
  private def subvectors(vec: Column, m: Int, dim: Int): Column = {
    val d = dim / m
    transform(sequence(lit(0), lit(m - 1)),
      j => transform(slice(vec, j * lit(d) + 1, lit(d)),
        x => x.cast("double")))
  }

  /** Train per-subspace codebooks: (sub, code, centvec: array<double>).
    * k entries per subspace, `iters` Lloyd rounds. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 2, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    // deterministic init: subvectors of the first k ids, coded 0..k-1
    var books = corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("iid"), col(vecCol))
      .select(col("iid"), posexplode(subvectors(col(vecCol), m, dim)))
      .withColumnRenamed("pos", "sub")
      .withColumn("code", (dense_rank().over(
        Window.partitionBy(col("sub")).orderBy(col("iid"))) - 1)
        .cast("int"))
      .select(col("sub"), col("code"), col("col").as("centvec"))
    // a short corpus can't seed k codes per subspace — the flat layout
    // (and every kernel) assumes exactly m·k entries, so fail loudly
    // instead of producing a short codebook
    require(books.count() == m.toLong * k,
      s"PQ init needs >= $k corpus rows to seed $k codes per subspace")
    var i = 0
    while (i < iters) {
      // assign codes with the native kernel (projection, no shuffle),
      // then re-pair each sub with its subvector for the mean update
      val assigned = corpus
        .join(broadcast(flatRow(books)))
        .select(GraftFunctions.pqEncode(col(vecCol), col("cb"), m, k)
            .as("codes"),
          subvectors(col(vecCol), m, dim).as("subs"))
        .select(posexplode(arrays_zip(col("codes"), col("subs"))))
        .select(col("pos").as("sub"), col("col.codes").as("code"),
          posexplode(col("col.subs")))
      val updated = assigned
        .groupBy("sub", "code", "pos")
        .agg(avg(col("col")).as("mcomp"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mcomp")))),
          s => s.getField("mcomp")).as("centvec"))
      // standard Lloyd's empty-cluster handling: a (sub, code) that won
      // zero rows keeps its previous centroid — the codebook never
      // shrinks below m·k entries
      books = books.select(col("sub"), col("code"),
          col("centvec").as("__prev"))
        .join(updated, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("centvec"), col("__prev")).as("centvec"))
      i += 1
    }
    // m·k rows; every consumer (encode, ADC tables, decode) re-plans the
    // whole Lloyd's iteration without this — at production scale this is
    // the persisted index artifact
    books.cache()
  }

  /** Encode every vector to its `m` sub-codes — a single codegen'd
    * projection, no shuffle. Returns df's columns + `pq_codes`. */
  def encode(df: DataFrame, vecCol: String, books: DataFrame,
      m: Int = 8, k: Int = 16): DataFrame = {
    df.join(broadcast(flatRow(books)))
      .withColumn("pq_codes",
        GraftFunctions.pqEncode(col(vecCol), col("cb"), m, k))
      .drop("cb")
  }

  /** Reconstruct (decode) vectors from codes — for error measurement. */
  def decode(codes: DataFrame, books: DataFrame, m: Int = 8): DataFrame =
    codes.join(broadcast(books.agg(collect_list(
        struct(col("sub"), col("code"), col("centvec"))).as("cbs"))))
      .withColumn("pq_decoded",
        flatten(transform(sequence(lit(0), lit(m - 1)), j =>
          element_at(
            transform(
              filter(col("cbs"), c => c.getField("sub") === j &&
                c.getField("code") === element_at(col("pq_codes"), j + 1)),
              c => c.getField("centvec")), 1))))
      .drop("cbs")

  /** ADC top-k: nearest corpus codes per probe by summed per-subspace
    * squared L2. `codes` is the encoded corpus (corpusId, pq_codes).
    * Returns (probe_id, cand_id, adc, rank). */
  def adcTopK(codes: DataFrame, books: DataFrame, probes: DataFrame,
      k: Int, corpusId: String = "vec_id", probeId: String = "vec_id",
      probeVec: String = "embedding", m: Int = 8, kCodes: Int = 16)
      : DataFrame = {
    AnnSearch.guardProbes(probes, "Pq.adcTopK")
    val p = probes.join(broadcast(flatRow(books)))
      .select(col(probeId).as("probe_id"),
        GraftFunctions.pqDistTable(col(probeVec), col("cb"), m, kCodes)
          .as("dtable"))
    val c = codes.select(col(corpusId).as("cand_id"), col("pq_codes"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adc").asc, col("cand_id"))
    c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(GraftFunctions.pqAdc(col("dtable"), col("pq_codes"), kCodes), 6)
          .as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
