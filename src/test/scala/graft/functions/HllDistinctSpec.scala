package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Hll

/** [[HllDistinct]] — the aggregate form must agree exactly with the
  * DataFrame-level [[Hll]] operator, survive any partitioning (merge
  * correctness), register in SQL, and reject non-string keys. */
class HllDistinctSpec extends SparkSpec {
  import spark.implicits._

  test("aggregate equals Hll.estimate bit-for-bit") {
    val keys = (1L to 3000L).map(i => Tuple1(i * 97))
    val df = keys.toDF("k")
    val op = Hll.estimate(df, "k").collect().head.getDouble(4)
    val agg = df.agg(GraftFunctions
        .hllDistinct(col("k").cast("string")).as("e"))
      .collect().head.getDouble(0)
    assert(agg == op)
  }

  test("partitioning cannot move the estimate (merge = pointwise max)") {
    val df = (1L to 2000L).map(Tuple1(_)).toDF("k")
    val one = df.coalesce(1)
      .agg(GraftFunctions.hllDistinct(col("k").cast("string")))
      .collect().head.getDouble(0)
    val many = df.repartition(17)
      .agg(GraftFunctions.hllDistinct(col("k").cast("string")))
      .collect().head.getDouble(0)
    assert(one == many)
  }

  test("SQL registration and per-group use; nulls ignored") {
    Seq(("a", Some(1L)), ("a", Some(2L)), ("a", None), ("b", Some(1L)))
      .toDF("g", "k").createOrReplaceTempView("hll_in")
    val got = spark.sql(
        "SELECT g, hll_distinct(CAST(k AS STRING)) AS e FROM hll_in " +
          "GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // LC branch at tiny cardinalities is near-exact
    assert(math.abs(got("a") - 2.0) < 0.1)
    assert(math.abs(got("b") - 1.0) < 0.01)
  }

  test("non-string keys are rejected at analysis") {
    val df = (1L to 5L).map(Tuple1(_)).toDF("k")
    val e = intercept[Exception] {
      df.agg(GraftFunctions.hllDistinct(col("k"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
