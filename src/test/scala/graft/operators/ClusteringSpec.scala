package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariant oracles for corpus clustering: identical vectors co-assign
  * (the determinism contract), well-separated groups recover, and the
  * diversity sample respects its per-cluster bound. */
class ClusteringSpec extends SparkSpec {

  import spark.implicits._

  // four orthogonal directions × 12 byte-identical copies each, ids
  // interleaved so hash seeding sees all groups
  private def planted = (0L until 48L)
    .map { i =>
      val g = (i % 4).toInt
      (i, Array.tabulate(8)(d => if (d == g * 2) 1.0 else 0.0).toSeq)
    }
    .toDF("vec_id", "vec")

  test("byte-identical vectors always co-assign") {
    val out = Clustering.assign(planted, "vec_id", "vec", k = 4, iters = 3)
      .withColumn("g", col("vec_id") % 4)
      .groupBy("g").agg(countDistinct("cluster_id").as("nc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.values.forall(_ == 1L), s"groups split across clusters: $out")
  }

  test("well-separated groups land in distinct clusters, sim ~ 1") {
    val asg = Clustering.assign(planted, "vec_id", "vec", k = 4, iters = 3)
    val byGroup = asg.withColumn("g", col("vec_id") % 4)
      .select("g", "cluster_id").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byGroup.values.toSet.size == 4,
      s"orthogonal groups must separate: $byGroup")
    val sims = asg.select("centroid_sim").collect().map(_.getDouble(0))
    assert(sims.forall(s => s > 0.999), "converged centroids equal members")
  }

  test("diversity sample bounds every cluster and is deterministic") {
    def sample() =
      Clustering.diversitySample(planted, "vec_id", "vec", k = 4,
          perCluster = 3, iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s1 = sample()
    assert(s1 == sample(), "re-runs must agree")
    assert(s1.groupBy(_._1).values.forall(_.size <= 3),
      "per-cluster bound exceeded")
    assert(s1.size == 12, "4 clusters x 3 each from 12-member groups")
  }

  test("silhouetteCentroid hand geometry: symmetric 2-cluster layout, " +
      "coincident-centroid zero, degenerates raise") {
    import spark.implicits._
    // A: (0,0),(0,2) -> centroid (0,1); B: (4,0),(4,2) -> (4,1).
    // Every point: a = 1, b = sqrt(17), s = 1 - 1/sqrt(17);
    // floor(s*1e6) = 757464
    val pts = Seq((1L, "A", Seq(0.0, 0.0)), (2L, "A", Seq(0.0, 2.0)),
      (3L, "B", Seq(4.0, 0.0)), (4L, "B", Seq(4.0, 2.0)))
      .toDF("id", "cl", "v")
    val got = Clustering.silhouetteCentroid(pts, "id", "v", "cl")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map("A" -> ((2L, 0.757464)), "B" -> ((2L, 0.757464))),
      got.toString)
    // two clusters collapsed onto the same point: a = b = 0 -> s = 0
    val zero = Seq((1L, "A", Seq(0.0, 0.0)), (2L, "B", Seq(0.0, 0.0)))
      .toDF("id", "cl", "v")
    val z = Clustering.silhouetteCentroid(zero, "id", "v", "cl")
      .collect().map(_.getDouble(2)).toSeq
    assert(z == Seq(0.0, 0.0), z.toString)
    val one = Seq((1L, "A", Seq(0.0)), (2L, "A", Seq(1.0)))
      .toDF("id", "cl", "v")
    val e1 = intercept[Exception] {
      Clustering.silhouetteCentroid(one, "id", "v", "cl").collect()
    }
    assert(e1.getMessage.contains("at least 2 clusters"), e1.getMessage)
    val nul = Seq((1L, Some("A"), Seq(0.0)), (2L, None, Seq(1.0)))
      .toDF("id", "cl", "v")
    val e2 = intercept[Exception] {
      Clustering.silhouetteCentroid(nul, "id", "v", "cl").collect()
    }
    assert(e2.getMessage.contains("NULL cluster assignment"),
      e2.getMessage)
    // r14 ADVICE: a NULL component must raise, not silently bias the
    // centroid (sum skips it, count(lit(1)) still counts it)
    val nulc = Seq((1L, "A", Seq(Some(0.0), None)),
      (2L, "B", Seq(Some(1.0), Some(1.0)))).toDF("id", "cl", "v")
    val e3 = intercept[Exception] {
      Clustering.silhouetteCentroid(nulc, "id", "v", "cl").collect()
    }
    assert(e3.getMessage.contains("NULL vector component"),
      e3.getMessage)
    // mixed vector lengths raise loudly (both within-cluster and
    // cross-cluster), not a misleading 'need at least 2 clusters'
    val mixedIn = Seq((1L, "A", Seq(0.0, 0.0)), (2L, "A", Seq(1.0)),
      (3L, "B", Seq(4.0, 4.0))).toDF("id", "cl", "v")
    val e4 = intercept[Exception] {
      Clustering.silhouetteCentroid(mixedIn, "id", "v", "cl").collect()
    }
    assert(e4.getMessage.contains("mixed vector lengths"), e4.getMessage)
    val mixedAcross = Seq((1L, "A", Seq(0.0, 0.0)),
      (2L, "B", Seq(4.0))).toDF("id", "cl", "v")
    val e5 = intercept[Exception] {
      Clustering.silhouetteCentroid(mixedAcross, "id", "v", "cl")
        .collect()
    }
    assert(e5.getMessage.contains("mixed vector lengths"), e5.getMessage)
  }
}
