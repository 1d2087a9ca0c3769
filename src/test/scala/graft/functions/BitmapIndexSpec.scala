package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The dense-bitmap distinct tier: popcounts must equal COUNT(DISTINCT)
  * exactly, set algebra must equal the id-level self-join, and domain
  * violations must fail loudly instead of corrupting counts. */
class BitmapIndexSpec extends SparkSpec {

  import spark.implicits._

  private def registered = spark

  test("bitmap_count(bitmap_agg) == COUNT(DISTINCT), nulls ignored") {
    registered
    val rows = Seq[(String, java.lang.Long)](
      ("a", 1L), ("a", 1L), ("a", 7L), ("a", 63L), ("a", 64L),
      ("a", null), ("b", 0L), ("b", 1023L), ("b", 0L))
      .toDF("g", "k").repartition(4)
    val got = rows.groupBy("g")
      .agg(GraftFunctions.bitmapCount(
        GraftFunctions.bitmapAgg(col("k"), 0L, 1023L)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 4L, "b" -> 2L))
  }

  test("randomized: bitmap distinct tracks exact distinct per group") {
    registered
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(5000)((rnd.nextInt(4), rnd.nextInt(2000).toLong))
    val expect = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val got = rows.toDF("g", "k").repartition(8)
      .groupBy("g")
      .agg(GraftFunctions.bitmapCount(
        GraftFunctions.bitmapAgg(col("k"), 0L, 4095L)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("and/or counts equal the set-level intersection and union") {
    registered
    val rows = Seq(("x", 1L), ("x", 2L), ("x", 3L), ("x", 100L),
      ("y", 2L), ("y", 3L), ("y", 999L))
      .toDF("g", "k").repartition(3)
    val seg = rows.groupBy("g")
      .agg(GraftFunctions.bitmapAgg(col("k"), 0L, 1023L).as("bm"))
    val x = seg.filter(col("g") === "x").select(col("bm").as("bx"))
    val y = seg.filter(col("g") === "y").select(col("bm").as("by"))
    val r = x.crossJoin(y).select(
      GraftFunctions.bitmapAndCount(col("bx"), col("by")).as("i"),
      GraftFunctions.bitmapOrCount(col("bx"), col("by")).as("u"))
      .head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 5L)
  }

  test("offset domains, SQL surface, and loud guards") {
    registered
    // non-zero lo: keys near the top of a shifted domain, via SQL
    val m = spark.sql(
      "SELECT bitmap_count(bitmap_agg(k, 1000, 1127)) AS n " +
        "FROM VALUES (1000), (1127), (1127), (1064) AS t(k)").head().getLong(0)
    assert(m == 3L)

    // key outside the declared domain fails loudly, naming the fix
    val ex = intercept[Exception] {
      Seq(5000L).toDF("k")
        .agg(GraftFunctions.bitmapAgg(col("k"), 0L, 1023L)).collect()
    }
    val msg = ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("outside the declared domain"))

    // oversized domain refused up front
    val ex2 = intercept[Exception] {
      Seq(1L).toDF("k")
        .agg(GraftFunctions.bitmapAgg(col("k"), 0L, Long.MaxValue / 2)).collect()
    }
    val msg2 = ex2.getMessage + Option(ex2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("kmv_distinct"))

    // width mismatch between algebra operands fails loudly
    val bm1 = Seq(1L).toDF("k")
      .agg(GraftFunctions.bitmapAgg(col("k"), 0L, 63L).as("a"))
    val bm2 = Seq(1L).toDF("k")
      .agg(GraftFunctions.bitmapAgg(col("k"), 0L, 1023L).as("b"))
    val ex3 = intercept[Exception] {
      bm1.crossJoin(bm2).select(
        GraftFunctions.bitmapAndCount(col("a"), col("b"))).collect()
    }
    val msg3 = ex3.getMessage + Option(ex3.getCause).map(_.getMessage).getOrElse("")
    assert(msg3.contains("different domains"))
  }
}
