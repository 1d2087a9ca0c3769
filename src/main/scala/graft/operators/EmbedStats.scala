package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-matrix statistics for corpus monitoring — the covariance
  * spectrum is the embedding-space analogue of the text tier's
  * zipf/heaps shape diagnostics: a collapsing dominant direction means
  * the encoder (or the corpus mix) degenerated, anisotropy growth
  * means clusters forming, and day-over-day covariance drift is the
  * embedding-drift alarm a retrieval corpus runs next to its text
  * screens.
  *
  * Exactness discipline (the silhouette precedent): components are
  * snapped to a 1/grid dyadic lattice first, so every moment sum is an
  * exact DECIMAL over scaled integers — order-free — and each
  * covariance entry is ONE IEEE division, raw-hashable. The power
  * iteration is a fixed LEFT-FOLD chain (index order) over the
  * bounded d×d matrix, byte-replayable by DuckDB's list_reduce.
  */
object EmbedStats {

  /** Upper-triangle covariance entries of the (quantized) embedding
    * components: cov(i, j) = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) / n² (population
    * form) over xq = floor(x·grid + 0.5).
    *
    * Shape (r14, second formulation): ONE
    * [[graft.functions.VecMoments]] TypedImperativeAggregate — each
    * map partition accumulates the exact long outer-product buffer
    * and the shuffle moves ONE `2 + d + d(d+1)/2` array per
    * partition; the (i, j) rows then unfold from the single result
    * row via a bounded nested-sequence explode. The first formulation
    * (d² posexplode → partial agg) had the same shuffle bound but
    * paid a d²-row map-side explode per input row — measured 101 s →
    * 0.40 s at the 32× drill (1.07× FLAT). d ≤ 128 enforced (the cell table must
    * stay bounded); |xq| ≤ maxAbsQ keeps the long cross sums exact to
    * ~2⁶³/maxAbsQ² rows, ENFORCED per component inside vec_moments
    * (one corrupt 1e12 entry raises instead of silently wrapping
    * q(i)·q(j) and poisoning the whole covariance).
    *
    * @return one row per (i ≤ j): (i, j, n, cov) */
  def covariance(df: DataFrame, vecCol: String, grid: Int = 128,
      maxDim: Int = 128, maxAbsQ: Int = 512): DataFrame = {
    require(grid > 0, s"covariance: grid must be positive: $grid")
    require(maxAbsQ > 0, s"covariance: maxAbsQ must be positive: $maxAbsQ")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .select(when(col(vecCol).isNull, raise_error(lit(
        "EmbedStats.covariance: NULL vector — drop or impute first")))
        .when(size(col(vecCol)) > maxDim, raise_error(lit(
          s"EmbedStats.covariance: dimension beyond $maxDim — the " +
            "d x d cell table must stay bounded")))
        .otherwise(col(vecCol)).as("__v"))
    val m = base.agg(graft.functions.GraftFunctions
      .vecMoments(col("__v"), grid, maxAbsQ).as("__m"))
    // unfold the single moments array into the (i <= j) cells: 1-based
    // positions are n@1, d@2, sums@3..d+2, cross@(d+3 + i·d − i(i−1)/2
    // + (j − i)) in row-major upper-triangle order
    val d = element_at(col("__m"), 2).cast("int")
    val idxs = flatten(transform(sequence(lit(0), d - 1), i =>
      transform(sequence(i, d - 1), j =>
        struct(i.as("i"), j.as("j")))))
    val crossPos = d + lit(3) +
      col("__p.i") * d - col("__p.i") * (col("__p.i") - 1) / 2 +
      (col("__p.j") - col("__p.i"))
    m.select(col("__m"), explode(idxs).as("__p"))
      .select(col("__p.i").as("i"), col("__p.j").as("j"),
        element_at(col("__m"), 1).as("n"),
        element_at(col("__m"), col("__p.i") + 3).as("__sx"),
        element_at(col("__m"), col("__p.j") + 3).as("__sy"),
        element_at(col("__m"), crossPos.cast("int")).as("__sxy"))
      .select(col("i"), col("j"), col("n"),
        ((col("n").cast(dec) * col("__sxy").cast(dec) -
          col("__sx").cast(dec) * col("__sy").cast(dec)).cast("double") /
          (col("n").cast("double") * col("n") * grid * grid))
          .as("cov"))
  }

  /** Top principal component of the quantized covariance via `iters`
    * power iterations from the uniform start 1/√d — the dominant
    * embedding direction + its Rayleigh eigenvalue and explained
    * share of the trace.
    *
    * The d×d covariance is collected to the driver (BOUNDED: d ≤ 128
    * enforced by [[covariance]] — the Mixing-quota-table class of
    * driver materialization, never data-sized) and the iteration is a
    * fixed left-fold chain in index order, so the whole output is one
    * deterministic IEEE sequence a SQL oracle replays with ordered
    * list folds. On an isotropic corpus the spectrum is near-flat and
    * `iters` steps leave the vector part-converged — determinism, not
    * convergence, is what the gate pins; the planted-direction spec
    * covers semantics.
    *
    * @return one row per dimension: (i, loading, eigenvalue,
    *         explained_share, n) */
  def principalComponent(df: DataFrame, vecCol: String,
      iters: Int = 20, grid: Int = 128): DataFrame = {
    require(iters >= 1 && iters <= 100,
      s"principalComponent: iters must be in [1, 100]: $iters")
    val spark = df.sparkSession
    val covRows = covariance(df, vecCol, grid)
      .select("i", "j", "n", "cov").collect()
    require(covRows.nonEmpty, "principalComponent: empty input")
    val n = covRows.head.getLong(2)
    val d = covRows.map(_.getInt(1)).max + 1
    val c = Array.ofDim[Double](d, d)
    covRows.foreach { r =>
      c(r.getInt(0))(r.getInt(1)) = r.getDouble(3)
      c(r.getInt(1))(r.getInt(0)) = r.getDouble(3)
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).reduceLeft(_ + _))
      val norm = math.sqrt(w.map(x => x * x).reduceLeft(_ + _))
      require(norm > 0, "principalComponent: zero covariance matrix — " +
        "every quantized component is constant")
      v = w.map(_ / norm)
      it += 1
    }
    val lambda = (0 until d).map(i =>
      v(i) * (0 until d).map(j => c(i)(j) * v(j)).reduceLeft(_ + _))
      .reduceLeft(_ + _)
    val trace = (0 until d).map(i => c(i)(i)).reduceLeft(_ + _)
    import spark.implicits._
    v.zipWithIndex.map { case (l, i) =>
      (i, l, lambda, lambda / trace, n) }.toSeq
      .toDF("i", "loading", "eigenvalue", "explained_share", "n")
  }
}
