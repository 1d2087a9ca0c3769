package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MG guarantee (k counters): every key with true frequency > n/(k+1) is
  * reported, and reported counts undercount by at most n/(k+1) — under
  * arbitrary partitioning/merge order. */
class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  private def summary(df: org.apache.spark.sql.DataFrame, k: Int,
      parts: Int): Map[String, Long] = {
    df.repartition(parts)
      .agg(GraftFunctions.misraGries(col("v"), k).as("hh"))
      .select(explode(col("hh")))
      .select("col.key", "col.count").as[(String, Long)]
      .collect().toMap
  }

  test("exact regime: <= k distinct keys gives exact counts, any split") {
    val df = (Seq.fill(70)("a") ++ Seq.fill(20)("b") ++ Seq.fill(10)("c"))
      .toDF("v")
    for (parts <- Seq(1, 4, 16)) {
      assert(summary(df, 8, parts) == Map("a" -> 70L, "b" -> 20L, "c" -> 10L))
    }
  }

  test("guarantee under eviction: heavy keys survive with bounded error") {
    // 1000 values: 'hot' 400, 'warm' 250, 100 singletons x 3.5 avg
    val rnd = new scala.util.Random(7)
    val vals = rnd.shuffle(
      Seq.fill(400)("hot") ++ Seq.fill(250)("warm") ++
        (0 until 350).map(i => s"cold${i % 100}"))
    val n = vals.size
    val k = 9
    for (parts <- Seq(1, 8)) {
      val got = summary(vals.toDF("v"), k, parts)
      val bound = n / (k + 1) // = 100
      // every key with freq > n/(k+1) must be present
      assert(got.contains("hot") && got.contains("warm"))
      // reported counts never exceed the true count, and undercount <= bound
      assert(got("hot") <= 400 && got("hot") >= 400 - bound)
      assert(got("warm") <= 250 && got("warm") >= 250 - bound)
      assert(got.size <= k)
    }
  }

  test("SQL surface: misra_gries callable from SQL, ordered output") {
    Seq("x", "x", "y").toDF("v").createOrReplaceTempView("mg_in")
    val rows = spark.sql(
      "SELECT misra_gries(v, 4) AS hh FROM mg_in")
      .select(explode(col("hh"))).select("col.key", "col.count")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("x", 2L), ("y", 1L)))
  }

  test("nulls are ignored; empty input yields empty summary") {
    val df = Seq(Some("a"), None, Some("a")).toDF("v")
    assert(summary(df.filter(col("v").isNotNull || col("v").isNull), 4, 2)
      == Map("a" -> 2L))
    val empty = Seq.empty[String].toDF("v")
    assert(summary(empty, 4, 1) == Map.empty[String, Long])
  }
}
