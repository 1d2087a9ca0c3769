package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract oracles for the LogHist quantile sketch: exact small-value
  * region, bounded relative error, merge order independence, SQL form. */
class LogHistSpec extends SparkSpec {

  import spark.implicits._

  private val agg = LogHistQuantiles(null, 6, Seq(0.5))

  test("bucket ids are monotone and lower bounds tight") {
    // exact region: identity
    (0L until 64L).foreach { v =>
      assert(agg.bucketId(v) == v && agg.lowerBound(v) == v)
    }
    // above: lb(bucket(v)) <= v < lb(bucket(v)+1), relative width <= 2^-6
    val probes = Seq(64L, 65L, 127L, 128L, 1000L, 123456L, 987654321L,
      Long.MaxValue / 3)
    probes.foreach { v =>
      val id = agg.bucketId(v)
      val lo = agg.lowerBound(id)
      val hi = agg.lowerBound(id + 1)
      assert(lo <= v && v < hi, s"$v outside [$lo, $hi) of bucket $id")
      assert(hi - lo <= math.max(1L, v >> 6) * 2,
        s"bucket width ${hi - lo} too wide at $v")
    }
    // monotone: sampled v1 < v2 => id1 <= id2
    val vs = (0 to 60).map(i => (1L << (i % 40)) + i * 977L).sorted
    vs.zip(vs.tail).foreach { case (a, b) =>
      assert(agg.bucketId(a) <= agg.bucketId(b)) }
  }

  test("small-value quantiles are exact; large within 2^-6 relative") {
    val small = (1L to 50L).toDF("v")
    val got = small.agg(GraftFunctions.histQuantiles(col("v"), 6,
        Seq(0.5, 1.0)).as("q"))
      .head().getSeq[Long](0)
    assert(got == Seq(25L, 50L), s"exact region must be exact: $got")

    val big = (1L to 10000L).map(i => i * 1000L).toDF("v")
    val est = big.agg(GraftFunctions.histQuantiles(col("v"), 6,
        Seq(0.5, 0.9, 0.99)).as("q"))
      .head().getSeq[Long](0)
    val truth = Seq(5000000L, 9000000L, 9900000L)
    est.zip(truth).foreach { case (e, t) =>
      assert(e <= t, s"estimate $e must lower-bound $t")
      assert((t - e).toDouble / t <= 1.0 / 64 + 1e-9,
        s"relative error of $e vs $t exceeds 2^-6")
    }
  }

  test("partition layout never changes the result (mergeable)") {
    val data = (1L to 5000L).map(i => (i % 7, i * i % 1000000L))
    def run(parts: Int) =
      data.toDF("g", "v").repartition(parts)
        .groupBy("g")
        .agg(GraftFunctions.histQuantiles(col("v"), 6,
          Seq(0.25, 0.5, 0.75, 0.99)).as("q"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(run(1) == run(13), "merge must be layout-independent")
  }

  test("SQL surface and null skipping") {
    Seq(Some(10L), None, Some(20L), Some(30L), None)
      .toDF("v").createOrReplaceTempView("lh_t")
    val got = spark.sql(
      "SELECT hist_quantiles(v, 6, array(0.5, 1.0)) AS q FROM lh_t")
      .head().getSeq[Long](0)
    assert(got == Seq(20L, 30L), s"nulls must be skipped: $got")
  }

  test("integral widths narrower than long are accepted") {
    val got = Seq(10, 20, 30).toDF("v")
      .agg(GraftFunctions.histQuantiles(col("v"), 6, Seq(1.0)))
      .head().getSeq[Long](0)
    assert(got == Seq(30L))
  }

  test("negative input fails loudly") {
    val e = intercept[Exception] {
      Seq(-1L).toDF("v")
        .agg(GraftFunctions.histQuantiles(col("v"), 6, Seq(0.5)))
        .collect()
    }
    assert(e.getMessage != null)
  }
}
