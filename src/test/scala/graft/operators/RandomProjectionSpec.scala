package graft.operators

import graft.SparkSpec

/** Oracles for the JL ±1 random projection: matrix determinism, the
  * linear-map laws, and distance preservation on planted vectors. */
class RandomProjectionSpec extends SparkSpec {

  import spark.implicits._

  private val inDim = 64
  private val outDim = 16

  private def vec(f: Int => Double): Seq[Double] =
    (0 until inDim).map(f)

  private def proj(vs: (Long, Seq[Double])*): Map[Long, Seq[Double]] =
    RandomProjection.project(vs.toDF("vec_id", "v"), "v", inDim, outDim)
      .select("vec_id", "proj")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  test("sign matrix is deterministic, ±1, and roughly balanced") {
    val m = RandomProjection.signMatrix(inDim, outDim, "graft")
    assert(m == RandomProjection.signMatrix(inDim, outDim, "graft"))
    assert(m.flatten.forall(s => s == 1.0 || s == -1.0))
    val plus = m.flatten.count(_ == 1.0).toDouble / (inDim * outDim)
    assert(plus > 0.4 && plus < 0.6, s"sign balance off: $plus")
    assert(m != RandomProjection.signMatrix(inDim, outDim, "other"),
      "salt must steer the matrix")
  }

  test("exact copies project identically; projection is reproducible") {
    val x = vec(i => math.sin(i + 1))
    val out = proj(1L -> x, 2L -> x)
    assert(out(1L) == out(2L))
    assert(out(1L) == proj(9L -> x)(9L), "stable across runs")
  }

  test("linearity: P(ax + by) = a·P(x) + b·P(y)") {
    val x = vec(i => math.sin(i + 1))
    val y = vec(i => math.cos(3 * i - 1))
    val combo = x.zip(y).map { case (a, b) => 2.0 * a - 0.5 * b }
    val out = proj(1L -> x, 2L -> y, 3L -> combo)
    val expect = out(1L).zip(out(2L)).map { case (a, b) => 2.0 * a - 0.5 * b }
    out(3L).zip(expect).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-9, s"$got vs $exp")
    }
  }

  test("planted distances survive the 64→16 reduction") {
    // three planted vectors: a base, a tiny perturbation of it, and a
    // far vector — the projected near pair must stay closer than the
    // projected far pair (the ordering JL guarantees at this gap)
    val base = vec(i => math.sin(i + 1))
    val near = base.updated(0, base.head + 0.01)
    val far = vec(i => 5.0 * math.cos(2 * i + 1))
    def l2(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val out = proj(1L -> base, 2L -> near, 3L -> far)
    assert(l2(out(1L), out(2L)) < l2(out(1L), out(3L)) / 10,
      "near/far ordering must survive projection")
    // scaled ±1 projection preserves norms in expectation: the planted
    // base lands within a deterministic, regression-proof band
    val normRatio = math.sqrt(out(1L).map(v => v * v).sum /
      base.map(v => v * v).sum)
    assert(normRatio > 0.5 && normRatio < 1.5, s"norm ratio $normRatio")
  }

  test("the plan is map-only: projecting shuffles nothing") {
    val df = RandomProjection.project(
      (0L until 100L).map(i => (i, vec(j => (i + j).toDouble)))
        .toDF("vec_id", "v"), "v", inDim, outDim)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "projection must not plan an exchange")
  }
}
