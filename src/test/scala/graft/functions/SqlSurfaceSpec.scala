package graft.functions

import graft.SparkSpec

/** Every engine function must be callable from plain SQL — the surface a
  * reference user migrating to `spark.sql(...)` actually touches. One
  * smoke assertion per registered function, including the aggregate and
  * the generator. */
class SqlSurfaceSpec extends SparkSpec {

  private def one[T](sql: String): T = {
    spark.sql(sql).head().get(0).asInstanceOf[T]
  }

  test("vector kernels") {
    assert(math.abs(one[Double](
      "SELECT cosine_sim(array(1.0D,2.0D), array(2.0D,4.0D)) ") - 1.0) < 1e-12)
    assert(one[Double]("SELECT vec_dot(array(1.0D,2.0D), array(3.0D,4.0D))") === 11.0)
    assert(one[Double]("SELECT vec_l2(array(0.0D,0.0D), array(3.0D,4.0D))") === 5.0)
    assert(one[Double]("SELECT vec_norm(array(3.0D,4.0D))") === 5.0)
  }

  test("riff serde round-trips through SQL") {
    val payload = one[Array[Byte]](
      """SELECT riff_decode(riff_encode(
        |  map('Accept', array('text/plain')),
        |  cast('hello' AS BINARY))).payload""".stripMargin)
    assert(new String(payload, "UTF-8") === "hello")
  }

  test("text-hash kernels and sketch") {
    assert(one[Seq[Long]]("SELECT minhash_sig(array('a','b'), 4)").size === 4)
    assert(one[Seq[Long]]("SELECT minhash_text('a b c d e', 8, 3)").size === 8)
    one[Long]("SELECT simhash64(array('a','b'))") // shape: any long
    assert(one[Seq[Long]]("SELECT ngram_hashes('a b c', 2)").size === 2)
    val est = one[Long](
      "SELECT kmv_distinct(x, 64) FROM VALUES (1),(2),(3),(2) AS t(x)")
    assert(est >= 2L && est <= 5L, s"kmv estimate $est")
    assert(one[Seq[Long]](
      "SELECT hist_quantiles(x, 6, array(0.5, 1.0)) " +
        "FROM VALUES (10L),(20L),(30L) AS t(x)") === Seq(20L, 30L))
  }

  test("block_term_hits multi-pattern matcher") {
    assert(one[Seq[String]](
      "SELECT block_term_hits('the big query ran', " +
        "concat('big query', chr(1), 'slow'))") === Seq("big query"))
  }

  test("pq kernels") {
    assert(one[Seq[Int]](
      "SELECT pq_encode(array(1.0D,2.0D), array(0.0D,0.0D), 1, 1)") === Seq(0))
    assert(one[Seq[Double]](
      "SELECT pq_dist_table(array(1.0D,2.0D), array(0.0D,0.0D), 1, 1)")
      === Seq(5.0))
    assert(one[Double](
      "SELECT pq_adc(array(5.0D), array(0), 1)") === 5.0)
  }

  test("rand_project kernel") {
    // 1 output dim, 2 input dims, signs (+1, -1): (3 - 4) / sqrt(1)
    assert(one[Seq[Double]](
      "SELECT rand_project(array(3.0D,4.0D), array(1.0D,-1.0D), 1)")
      === Seq(-1.0))
    // purge_positions rides the same registry — smoke it here too
    assert(one[Seq[String]](
      "SELECT purge_positions(array('a','b','c'), array(1))")
      === Seq("a", "c"))
  }

  test("generator produces one row per n-gram hash") {
    assert(spark.sql(
      "SELECT ngram_hashes_gen('a b c d', 2)").count() === 3)
  }

  test("vec_mean aggregates element-wise") {
    assert(one[Seq[Double]](
      """SELECT vec_mean(v) FROM VALUES (array(1.0D, 4.0D)),
        |(array(3.0D, 8.0D)) AS t(v)""".stripMargin) === Seq(2.0, 6.0))
  }

  test("vec_moments accumulates exact quantized outer products") {
    // vectors (1,2) and (3,4) at grid 1: n=2, d=2, sums (4,6),
    // cross upper-tri (1+9, 2+12, 4+16) = (10, 14, 20)
    assert(one[Seq[Long]](
      """SELECT vec_moments(v, 1) FROM VALUES (array(1.0D, 2.0D)),
        |(array(3.0D, 4.0D)) AS t(v)""".stripMargin) ===
      Seq(2L, 2L, 4L, 6L, 10L, 14L, 20L))
  }

  test("vec_quant8/vec_dequant8 match the VectorQuant operator") {
    import org.apache.spark.sql.functions._
    val df = spark.range(8).select(col("id"),
      array((0 to 5).map(i => (rand(seed = i) * 2 - 1).cast("double")): _*)
        .as("v"))
    val op = graft.operators.VectorQuant.quantize(df, "v")
      .select(col("id"), col("sq_scale"), col("sq_codes"))
    val fn = df.select(col("id"), GraftFunctions.vecQuant8(col("v")).as("q"))
      .select(col("id"), col("q.sq_scale").as("sq_scale"),
        col("q.sq_codes").as("sq_codes"))
    assert(fn.exceptAll(op).isEmpty && op.exceptAll(fn).isEmpty)
    // reconstruction parity too
    val opR = op.select(col("id"), graft.operators.VectorQuant
      .dequantize(col("sq_codes"), col("sq_scale")).as("r"))
    val fnR = fn.select(col("id"),
      GraftFunctions.vecDequant8(col("sq_codes"), col("sq_scale")).as("r"))
    assert(fnR.exceptAll(opR).isEmpty && opR.exceptAll(fnR).isEmpty)
  }

  test("segment_tokens matches LineDedup.segmentByTokens") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(
      (1L, "The quick Brown fox jumps over the lazy dog"),
      (2L, "one  two   three"), // runs of spaces
      (3L, ""))).toDF("id", "text")
    val op = graft.operators.LineDedup
      .segmentByTokens(df, "text", "lines", width = 3)
      .select("id", "lines")
    val fn = df.select(col("id"),
      GraftFunctions.segmentTokens(col("text"), 3).as("lines"))
    assert(fn.exceptAll(op).isEmpty && op.exceptAll(fn).isEmpty)
  }

  test("chunk_windows generator matches Chunking.slidingWindows") {
    val df = spark.createDataFrame(Seq(
      (1L, "a b c d e f g"), (2L, "x y"), (3L, ""))).toDF("id", "text")
    val op = graft.operators.Chunking
      .slidingWindows(df, "id", "text", width = 3, stride = 2)
    val fn = df.createOrReplaceTempView("chunk_src")
    val sqlForm = spark.sql(
      """SELECT id, c.chunk_id, c.start_pos, c.n_chunk_tokens, c.chunk_text
        |FROM chunk_src LATERAL VIEW chunk_windows(text, 3, 2) c""".stripMargin)
    assert(sqlForm.exceptAll(op).isEmpty && op.exceptAll(sqlForm).isEmpty)
    // ceil(7/2)=4 chunks + ceil(2/2)=1 + empty doc 0
    assert(sqlForm.count() === 5)
  }

  test("sentence_split + greedy_chunks reproduce Chunking.sentences") {
    val df = spark.createDataFrame(Seq(
      (1L, "a b c. d e! f g? h"),
      (2L, "a. b c d e f. g"),
      (3L, "a b?! c d"),
      (4L, "no terminators here"),
      (5L, ""))).toDF("id", "text")
    val op = graft.operators.Chunking.sentences(df, "id", "text", 5)
    df.createOrReplaceTempView("sent_src")
    val sqlForm = spark.sql(
      """WITH s AS (
        |  SELECT id, sentence_split(text) AS sents FROM sent_src),
        |c AS (
        |  SELECT id, sents,
        |         greedy_chunks(transform(sents,
        |           x -> size(filter(split(x, ' '), t -> length(t) > 0))),
        |           5) AS cids,
        |         transform(sents,
        |           x -> size(filter(split(x, ' '), t -> length(t) > 0)))
        |           AS cnts
        |  FROM s WHERE size(sents) > 0)
        |SELECT id, pos + 1 AS sent_id, cids[pos] AS chunk_id,
        |       cnts[pos] AS n_tokens, sent AS sentence
        |FROM c LATERAL VIEW posexplode(sents) AS pos, sent""".stripMargin)
    assert(sqlForm.exceptAll(op).isEmpty && op.exceptAll(sqlForm).isEmpty,
      "SQL kernel pipeline must equal the DataFrame operator row-for-row")
    // the regexp form the operator documents agrees with the kernel on
    // a spaced-out edge case (double space after the terminator)
    val edge = spark.sql("SELECT sentence_split('a.  b c. d')")
      .head().getSeq[String](0)
    assert(edge === Seq("a.", " b c.", "d"),
      s"one space consumed, the second kept: $edge")
  }

  test("cluster_assign reproduces Clustering.assign's argmax contract") {
    import org.apache.spark.sql.functions._
    // two orthogonal centroids; a vector on each axis plus a tie case
    val assigned = spark.sql(
      """SELECT v, cluster_assign(v, array(
        |  named_struct('centroid_id', 1L, 'centvec', array(1.0D, 0.0D)),
        |  named_struct('centroid_id', 2L, 'centvec', array(0.0D, 1.0D)))) a
        |FROM VALUES (array(2.0D, 0.0D)), (array(0.0D, 3.0D)),
        |  (array(1.0D, 1.0D)) AS t(v)""".stripMargin)
      .select(col("a.centroid_id")).collect().map(_.getLong(0)).toSeq
    // axis vectors pick their centroid; the diagonal ties -> larger id
    assert(assigned === Seq(1L, 2L, 2L))
  }
}
