package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Vector kernels vs an independent Scala fold, through the full SQL
  * surface (registration, analysis, codegen). */
class VectorExpressionsSpec extends SparkSpec {

  private def refCosine(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    if (na * nb == 0) 0 else dot / (na * nb)
  }

  test("cosine/dot/l2 match reference fold over real embeddings") {
    val rows = graft.sources.Tables.embeddings(spark, sf)
      .limit(50)
      .select(col("embedding"),
        GraftFunctions.cosineSim(col("embedding"), col("embedding")).as("self"),
        GraftFunctions.vecDot(col("embedding"), col("embedding")).as("dot"),
        GraftFunctions.vecL2(col("embedding"), col("embedding")).as("l2"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9, "self-cosine = 1")
      val dot = v.map(x => x.toDouble * x.toDouble).sum
      assert(math.abs(r.getDouble(2) - dot) < 1e-6)
      assert(r.getDouble(3) === 0.0, "self-L2 = 0")
    }
  }

  test("cross-pair cosine matches reference on sampled pairs") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .limit(10).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val df = emb.toSeq.toDF("vec_id", "embedding")
    val a = df.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = df.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val got = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        GraftFunctions.cosineSim(col("va"), col("vb")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((i, vi) <- emb; (j, vj) <- emb) {
      assert(math.abs(got((i, j)) - refCosine(vi, vj)) < 1e-9,
        s"pair ($i,$j)")
    }
  }

  test("native kernel is bit-identical to the declarative HOF fold") {
    val emb = graft.sources.Tables.embeddings(spark, sf).limit(100)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val both = a.crossJoin(b)
      .select(
        GraftFunctions.cosineSim(col("va"), col("vb")).as("native"),
        graft.queries.VectorQueries.cosine(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof")) // exact ==, not approx
      .count()
    assert(both === 0L, "same fold order => identical bits")
  }

  test("SQL surface: cosine_sim callable from spark.sql") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c," +
        " vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d," +
        " vec_l2(array(0.0D, 3.0D), array(4.0D, 0.0D)) AS l").head()
    assert(r.getDouble(0) === 0.0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getDouble(2) === 5.0)
  }

  test("null inputs propagate null") {
    val r = spark.sql(
      "SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS c")
      .head()
    assert(r.isNullAt(0))
  }
}
