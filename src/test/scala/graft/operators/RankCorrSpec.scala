package graft.operators

import graft.SparkSpec

/** Closed-form oracles for the rank-correlation pair: hand-computed ρ
  * and τ-b on tiny samples (incl. ties), the classic no-tie identity
  * ρ = 1 − 6Σd²/(n(n²−1)), degenerate-input guards, and the τ cell
  * cap. */
class RankCorrSpec extends SparkSpec {
  import spark.implicits._

  test("spearman without ties matches 1 - 6*sum(d^2)/(n(n^2-1))") {
    // x = 1..8, y a fixed permutation
    val ys = Seq(3, 1, 4, 8, 2, 7, 5, 6)
    val df = ys.zipWithIndex.map { case (y, i) => (i + 1, y) }
      .toDF("x", "y")
    val d2 = ys.zipWithIndex.map { case (y, i) =>
      val dx = (i + 1) - y; dx.toDouble * dx
    }.sum
    val want = 1.0 - 6.0 * d2 / (8.0 * (64.0 - 1.0))
    val got = RankCorr.spearmanRho(df, "x", "y", v => v, v => v)
      .collect().head
    assert(got.getLong(0) == 8L)
    assert(math.abs(got.getDouble(1) - want) < 1e-9, s"$got vs $want")
  }

  test("spearman with ties uses average ranks (hand-computed vector)") {
    // x: [1,1,2,3] -> avg ranks [1.5,1.5,3,4]; y: [10,20,20,30] ->
    // [1,2.5,2.5,4]. Pearson over the ranks: cov 3.75, vars 4.5, 4.5
    // -> rho = 3.75/4.5 = 0.8333…
    val df = Seq((1, 10), (1, 20), (2, 20), (3, 30)).toDF("x", "y")
    val got = RankCorr.spearmanRho(df, "x", "y", v => v, v => v)
      .collect().head.getDouble(1)
    assert(math.abs(got - 0.833333333) < 1e-9, got.toString)
  }

  test("spearman raises on a constant axis and on n < 2") {
    val const = Seq((1, 5), (2, 5), (3, 5)).toDF("x", "y")
    val e1 = intercept[Exception] {
      RankCorr.spearmanRho(const, "x", "y", v => v, v => v).collect()
    }
    assert(e1.getMessage.contains("constant sample"))
    val tiny = Seq((1, 2)).toDF("x", "y")
    val e2 = intercept[Exception] {
      RankCorr.spearmanRho(tiny, "x", "y", v => v, v => v).collect()
    }
    assert(e2.getMessage.contains("n >= 2"))
  }

  test("kendall tau-b hand-counted with ties on both axes") {
    // (1,1),(1,2),(2,1),(3,3): pairs = 6
    // C: (1,1)-(1,2)? tie x. (1,1)-(2,1)? tie y. (1,1)-(3,3) C.
    // (1,2)-(2,1) D. (1,2)-(3,3) C. (2,1)-(3,3) C.  => C=3, D=1
    // tx2 = 2·1 (x=1 twice) => n1 = 1; ty2 = 2·1 => n2 = 1; n0 = 6
    // tau = (3-1)/sqrt((6-1)(6-1)) = 2/5 = 0.4
    val df = Seq((1, 1), (1, 2), (2, 1), (3, 3)).toDF("x", "y")
    val r = RankCorr.kendallTauB(df, "x", "y").collect().head
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 3L, s"concordant ${r.getLong(1)}")
    assert(r.getLong(2) == 1L, s"discordant ${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - 0.4) < 1e-9, r.toString)
  }

  test("kendall perfect agreement and perfect reversal") {
    val up = (1 to 6).map(i => (i, i * 10)).toDF("x", "y")
    assert(RankCorr.kendallTauB(up, "x", "y")
      .collect().head.getDouble(3) === 1.0)
    val down = (1 to 6).map(i => (i, -i)).toDF("x", "y")
    assert(RankCorr.kendallTauB(down, "x", "y")
      .collect().head.getDouble(3) === -1.0)
  }

  test("kendall raises past maxCells instead of planning the cartesian") {
    val df = (1 to 50).map(i => (i, i * 2)).toDF("x", "y")
    val ex = intercept[Exception] {
      RankCorr.kendallTauB(df, "x", "y", maxCells = 10).collect()
    }
    assert(ex.getMessage.contains("cells exceed"), ex.getMessage)
  }

  test("spearman equals kendall family on the registered gate columns " +
      "(sanity: both positive, both in [-1, 1])") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val rho = graft.queries.PipelineQueries.spearmanQtyPrice(spark, sf)
      .collect().head.getDouble(1)
    assert(rho >= -1.0 && rho <= 1.0)
    val tau = graft.queries.PipelineQueries.kendallQtyDisc(spark, sf)
      .collect().head.getDouble(3)
    assert(tau >= -1.0 && tau <= 1.0)
    assert(li.count() > 0)
  }
}
