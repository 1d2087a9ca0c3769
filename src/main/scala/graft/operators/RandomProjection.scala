package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection with a DENSE ±1 sign matrix
  * (Achlioptas 2003, "Database-friendly random projections") — the cheap
  * dimensionality reduction an embedding pipeline runs before storage,
  * clustering, or LSH when the source dimension is larger than the task
  * needs: `y_j = (1/√k) · Σ_i s_ij · x_i` with `s_ij ∈ {±1}` preserves
  * pairwise distances within `(1±ε)` for `k = O(log n / ε²)`.
  *
  * Determinism is the point: `s_ij = +1` iff the first hex character of
  * `md5("<salt>_<i>_<j>")` is below '8'. Any engine — this one, DuckDB,
  * a Python auditor — rebuilds the identical matrix from the salt alone,
  * so projections are reproducible across runs, engines, and corpus
  * re-partitioning, the same audit posture as [[Splits]]/[[Shards]].
  *
  * Scale shape: ONE map-only projection — the sign matrix is a plan
  * literal (`k·d` doubles, ~8 KB at 64→16; it ships with the task
  * binary, no broadcast exchange), each row folds its vector against it
  * in index order, no shuffle, no state. Projecting 100 TB costs one
  * read and a narrower write. The in-order fold also makes the double
  * arithmetic bit-identical to DuckDB's `list_reduce` left fold, which
  * is what lets the driver gate hash-match floating-point output.
  */
object RandomProjection {

  private def sign(salt: String, i: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${salt}_${i}_${j}".getBytes("UTF-8"))
    // top nibble of byte 0 == first hex char; < 8 → +1 (p = 1/2)
    if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** The `outDim × inDim` ±1 matrix for (salt, dims) — exposed so tests
    * and external auditors can rebuild the exact plan literal. */
  def signMatrix(inDim: Int, outDim: Int, salt: String)
      : Seq[Seq[Double]] = {
    require(inDim > 0 && outDim > 0,
      s"dims must be positive, got $inDim -> $outDim")
    (0 until outDim).map(j => (0 until inDim).map(i => sign(salt, i, j)))
  }

  /** Append `outCol`: array<double> of length `outDim`, the scaled
    * (`1/√outDim`) signed sums. Input vectors must have at least
    * `inDim` elements; shorter vectors raise at eval, while LONGER
    * vectors project on their first `inDim` dimensions (the fold never
    * looks past the matrix width — pass the true dimension).
    *
    * Runs on the [[graft.functions.SignedProject]] codegen kernel —
    * two tight loops over the flat sign matrix, the same in-order fold
    * (bit-identical doubles) the original `transform`+`aggregate` HOF
    * formulation computed with a lambda dispatch per (j, i) pair. */
  def project(df: DataFrame, vecCol: String, inDim: Int, outDim: Int,
      salt: String = "graft", outCol: String = "proj"): DataFrame = {
    val flat = typedlit(signMatrix(inDim, outDim, salt).flatten)
    df.withColumn(outCol,
      graft.functions.GraftFunctions.randProject(col(vecCol), flat, outDim))
  }
}
