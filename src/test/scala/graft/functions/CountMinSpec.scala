package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def freqs(words: Seq[String], width: Int, depth: Int) = {
    val sk = words.toDF("w")
      .agg(GraftFunctions.cmsSketch(col("w"), width, depth).as("sk"))
    val probes = words.distinct.toDF("word")
    sk.crossJoin(probes)
      .select(col("word"),
        GraftFunctions.cmsQuery(col("sk"), col("word"), width, depth)
          .as("est"))
      .as[(String, Long)].collect().toMap
  }

  test("estimates are one-sided: never below the true count") {
    val words = Seq.fill(20)("alpha") ++ Seq.fill(7)("beta") ++
      Seq.fill(1)("gamma") ++ (1 to 50).map(i => s"noise$i")
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = freqs(words, width = 64, depth = 4)
    truth.foreach { case (w, t) =>
      assert(est(w) >= t, s"$w: est ${est(w)} below true $t")
    }
    // wide sketch vs tiny vocabulary: collisions are unlikely enough
    // that the heavy hitters come back exact
    val wide = freqs(words, width = 4096, depth = 4)
    assert(wide("alpha") === 20L && wide("beta") === 7L)
  }

  test("absent items estimate only collision mass") {
    val est = freqs(Seq("a", "b", "c"), width = 4096, depth = 4)
    val sk = Seq("a", "b", "c").toDF("w")
      .agg(GraftFunctions.cmsSketch(col("w"), 4096, 4).as("sk"))
    val ghost = sk.select(GraftFunctions.cmsQuery(col("sk"),
        lit("never-seen"), 4096, 4)).as[Long].head()
    assert(ghost === 0L, s"ghost item got $ghost in a near-empty sketch")
    assert(est("a") === 1L)
  }

  test("partial merge is order-independent (repartitioned input)") {
    val words = (1 to 500).map(i => s"w${i % 37}")
    val one = words.toDF("w").coalesce(1)
      .agg(GraftFunctions.cmsSketch(col("w"), 256, 4)).as[Seq[Long]].head()
    val many = words.toDF("w").repartition(13)
      .agg(GraftFunctions.cmsSketch(col("w"), 256, 4)).as[Seq[Long]].head()
    assert(one === many, "sketch must not depend on partitioning")
  }

  test("SQL surface: cms_sketch + cms_query compose in plain SQL") {
    val est = spark.sql(
      """SELECT cms_query(sk, 'x', 128, 4) FROM (
        |  SELECT cms_sketch(w, 128, 4) AS sk
        |  FROM VALUES ('x'), ('x'), ('y') AS t(w))""".stripMargin)
      .as[Long].head()
    assert(est >= 2L && est <= 3L)
  }

  test("inner product: one-sided join-size estimate, exact in the " +
      "collision-free regime") {
    // |A ⋈ B| = Σ_k fA(k)·fB(k): a={x×3, y×2, z}, b={x×2, y, w}
    // → 3·2 + 2·1 = 8
    val a = Seq("x", "x", "x", "y", "y", "z").toDF("k")
      .agg(GraftFunctions.cmsSketch(col("k"), 4096, 4).as("ska"))
    val b = Seq("x", "x", "y", "w").toDF("k")
      .agg(GraftFunctions.cmsSketch(col("k"), 4096, 4).as("skb"))
    val est = a.crossJoin(b)
      .select(GraftFunctions.cmsInner(col("ska"), col("skb"), 4096, 4))
      .as[Long].head()
    assert(est === 8L, "wide sketch over 4 keys must be collision-free")
    // narrow sketch: collisions only ADD mass — never below the truth
    val aN = Seq("x", "x", "x", "y", "y", "z").toDF("k")
      .agg(GraftFunctions.cmsSketch(col("k"), 2, 2).as("ska"))
    val bN = Seq("x", "x", "y", "w").toDF("k")
      .agg(GraftFunctions.cmsSketch(col("k"), 2, 2).as("skb"))
    val estN = aN.crossJoin(bN)
      .select(GraftFunctions.cmsInner(col("ska"), col("skb"), 2, 2))
      .as[Long].head()
    assert(estN >= 8L, s"inner product must be one-sided, got $estN")
  }
}
