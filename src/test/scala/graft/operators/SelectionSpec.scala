package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Distributed exact selection: percentile_disc closed forms, duplicate
  * mass, loud empty input, and the no-global-sort plan shape. */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  private def run(vals: Seq[Double], qs: Seq[Double]) =
    Selection.exactQuantiles(vals.toDF("v"), "v", qs,
        x => floor(x / lit(4)))
      .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap

  test("rank ceil(q*n) closed forms, including duplicate mass") {
    val got = run((1 to 10).map(_.toDouble), Seq(0.1, 0.25, 0.5, 1.0))
    assert(got === Map(0.1 -> 1.0, 0.25 -> 3.0, 0.5 -> 5.0, 1.0 -> 10.0))
    // duplicates: [1,1,1,9] — rank 2 and 3 are still 1; rank 4 is 9
    val dup = run(Seq(1.0, 1.0, 1.0, 9.0), Seq(0.5, 0.75, 0.76))
    assert(dup === Map(0.5 -> 1.0, 0.75 -> 1.0, 0.76 -> 9.0))
  }

  test("empty input raises; value windows stay bucket-partitioned") {
    val ex = intercept[Exception] {
      Selection.exactQuantiles(
        Seq(1.0).toDF("v").filter(col("v") > 9), "v", Seq(0.5),
        x => x).collect()
    }
    assert(ex.getMessage.contains("no non-null values"))
    val p = Selection.exactQuantiles((1 to 100).map(_.toDouble).toDF("v"),
        "v", Seq(0.5), x => floor(x / lit(10)))
      .queryExecution.executedPlan.toString
    p.linesIterator.filter(l =>
      l.contains("windowspecdefinition(__v")).foreach(l =>
      assert(l.contains("__bk"),
        s"value-row window must be bucket-partitioned: $l"))
  }

  test("matches the built-in exact percentile on real data") {
    val o = graft.sources.Tables.orders(spark, sf)
    val got = Selection.exactQuantiles(o, "o_totalprice",
        Seq(0.5), v => floor(v / lit(1000)))
      .collect().head.getDouble(2)
    // percentile_disc-style rank on a full sort (fixture-scale only)
    val n = o.filter(col("o_totalprice").isNotNull).count()
    val want = o.filter(col("o_totalprice").isNotNull)
      .select("o_totalprice").orderBy("o_totalprice")
      .limit(math.ceil(0.5 * n - 1e-9).toInt)
      .orderBy(col("o_totalprice").desc)
      .limit(1).collect().head.getDouble(0)
    assert(got == want, s"$got vs sorted-rank $want")
  }

  test("weightedQuantiles with unit weights equals exactQuantiles") {
    val o = graft.sources.Tables.orders(spark, sf)
      .withColumn("one", lit(1L))
    val unw = Selection.exactQuantiles(o, "o_totalprice",
        Seq(0.1, 0.5, 0.9), v => floor(v / lit(1000)))
      .orderBy("q").collect().map(_.toSeq).toSeq
    val w = Selection.weightedQuantiles(o, "o_totalprice", "one",
        Seq(0.1, 0.5, 0.9), v => floor(v / lit(1000)))
      .orderBy("q").collect().map(_.toSeq).toSeq
    assert(w == unw)
  }

  test("weightedQuantiles hand case: weight mass, zero-skip, neg raise") {
    import spark.implicits._
    // values 10,20,30 with weights 1,3,6 => W=10; ranks: q=.1→1 (v=10),
    // q=.4→4 (cum 1,4,10 ⇒ v=20), q=.5→5 (v=30), q=1→10 (v=30)
    val df = Seq((10.0, 1L), (20.0, 3L), (30.0, 6L), (99.0, 0L))
      .toDF("v", "w")
    val got = Selection.weightedQuantiles(df, "v", "w",
        Seq(0.1, 0.4, 0.5, 1.0), x => floor(x / lit(10)))
      .orderBy("q").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((0.1, 10L, 10.0), (0.4, 10L, 20.0),
      (0.5, 10L, 30.0), (1.0, 10L, 30.0)), s"got $got")
    val ex = intercept[Exception] {
      Selection.weightedQuantiles(
        Seq((1.0, -2L)).toDF("v", "w"), "v", "w", Seq(0.5),
        x => x).collect()
    }
    assert(ex.getMessage.contains("negative weight"))
  }

  test("conformalQuantile: hand ranks, the +1 coverage bump, and the " +
      "too-few-rows raise") {
    import spark.implicits._
    import org.apache.spark.sql.functions.floor
    // group g: scores 1..19 -> n=19, alpha=0.1: rank = ceil(20*0.9)
    // = 18 -> qhat = 18; a plain 0.9 quantile would pick 17.1-ish
    val df = (1 to 19).map(v => ("g", v.toDouble)).toDF("grp", "s")
    val got = Selection.conformalQuantile(df, Seq("grp"), "s", 0.1,
      v => floor(v / 4)).collect().head
    assert(got.getString(0) == "g" && got.getLong(1) == 19 &&
      got.getLong(2) == 18 && got.getDouble(3) == 18.0, got.toString)
    // n too small for alpha: n=5, alpha=0.1 -> rank ceil(6*0.9)=6 > 5
    val tiny = (1 to 5).map(v => ("g", v.toDouble)).toDF("grp", "s")
    val e = intercept[Exception] {
      Selection.conformalQuantile(tiny, Seq("grp"), "s", 0.1,
        v => floor(v)).collect()
    }
    assert(e.getMessage.contains("too few"), e.getMessage)
    // bucket-choice invariance (the exactQuantiles discipline)
    val a = Selection.conformalQuantile(df, Seq("grp"), "s", 0.25,
      v => floor(v / 2)).collect().head.getDouble(3)
    val b = Selection.conformalQuantile(df, Seq("grp"), "s", 0.25,
      v => floor(v / 16)).collect().head.getDouble(3)
    assert(a == b, s"$a vs $b")
  }
}
