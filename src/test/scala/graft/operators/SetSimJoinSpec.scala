package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Prefix filtering must be LOSSLESS: the join's output equals the
  * brute-force all-pairs Jaccard computation, pair for pair. */
class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  private def toks = filter(split(lower(col("text")), " "),
    t => length(t) > 0)

  private def bruteForce(df: org.apache.spark.sql.DataFrame, t: Double) = {
    val sets = df.select(col("doc_id"),
        array_distinct(toks).as("tk"))
      .filter(size(col("tk")) > 0)
    val a = sets.select(col("doc_id").as("id1"), col("tk").as("tk1"))
    val b = sets.select(col("doc_id").as("id2"), col("tk").as("tk2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("ov", size(array_intersect(col("tk1"), col("tk2"))))
      .withColumn("jac", col("ov").cast("double") /
        (size(col("tk1")) + size(col("tk2")) - col("ov")))
      .filter(col("jac") >= t)
      .select("id1", "id2", "ov")
  }

  test("exactly matches brute force on the corpus, several thresholds") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    for (t <- Seq(0.5, 0.6, 0.8)) {
      val fast = SetSimJoin.joinByJaccard(
          docs.select(col("doc_id"), toks.as("toks")),
          "doc_id", "toks", t)
        .select(col("id1"), col("id2"), col("overlap").as("ov"))
      val slow = bruteForce(docs, t)
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
        s"prefix-filtered join diverged from brute force at t=$t")
    }
  }

  test("identical docs pair at jaccard 1.0; disjoint docs never pair") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"),
      (4L, "")).toDF("doc_id", "text")
    val out = SetSimJoin.joinByJaccard(
        df.select(col("doc_id"), toks.as("toks")), "doc_id", "toks", 0.9)
      .collect()
    assert(out.toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    assert(out.head.getAs[Double]("jaccard") == 1.0)
  }

  test("boundary threshold pairs survive (t exactly attained)") {
    // overlap 3 of union 5 = 0.6 exactly: {a b c d} vs {a b c e}
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b c e")).toDF("doc_id", "text")
    val out = SetSimJoin.joinByJaccard(
      df.select(col("doc_id"), toks.as("toks")), "doc_id", "toks", 0.6)
    assert(out.count() == 1)
  }

  test("token multiplicity is ignored (set semantics)") {
    val df = Seq(
      (1L, "a a a b"),
      (2L, "a b b b")).toDF("doc_id", "text")
    val out = SetSimJoin.joinByJaccard(
      df.select(col("doc_id"), toks.as("toks")), "doc_id", "toks", 0.99)
    assert(out.count() == 1) // both sets are {a, b}
  }

  test("transitive dedup: chains collapse to min id, singletons survive") {
    // A~B and B~C but A!~C (chain): one component {1,2,3} -> survivor 1;
    // doc 4 is unrelated and survives as itself.
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e x"),
      (3L, "a b c d y x"),
      (4L, "p q r s t u")).toDF("doc_id", "text")
    val got = SetSimJoin.dedupByJaccard(
        df.select(col("doc_id"), toks.as("toks")), "doc_id", "toks", 0.5)
      .select("doc_id", "survivor", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, false), (2L, 1L, true), (3L, 1L, true),
      (4L, 4L, false)))
  }

  test("cross-corpus joinBetween exactly matches the brute-force R-S " +
      "join, several thresholds") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val left = docs.filter(col("doc_id") % 2 === 0)
    val right = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" zz")).as("text"))
    def sets(df: org.apache.spark.sql.DataFrame, idc: String) =
      df.select(col("doc_id").as(idc), array_distinct(toks).as(s"tk_$idc"))
        .filter(size(col(s"tk_$idc")) > 0)
    for (t <- Seq(0.5, 0.8)) {
      val fast = SetSimJoin.joinBetween(
          left.select(col("doc_id"), toks.as("toks")), "doc_id", "toks",
          right.select(col("doc_id"), toks.as("toks")), "doc_id", "toks",
          t)
        .select(col("id1"), col("id2"), col("overlap").as("ov"))
      val slow = sets(left, "id1").crossJoin(sets(right, "id2"))
        .withColumn("ov", size(array_intersect(col("tk_id1"), col("tk_id2"))))
        .withColumn("jac", col("ov").cast("double") /
          (size(col("tk_id1")) + size(col("tk_id2")) - col("ov")))
        .filter(col("jac") >= t)
        .select("id1", "id2", "ov")
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
        s"joinBetween diverged from brute force at t=$t")
    }
  }

  test("joinBetween emits cross pairs only, including same-id records " +
      "on both sides") {
    val l = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val r = Seq((1L, "a b c d"), (5L, "a b c e")).toDF("doc_id", "text")
    val got = SetSimJoin.joinBetween(
        l.select(col("doc_id"), toks.as("toks")), "doc_id", "toks",
        r.select(col("doc_id"), toks.as("toks")), "doc_id", "toks", 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // left 1 matches right 1 (identical) and right 5 (J=3/5=0.6)
    assert(got === Set((1L, 1L), (1L, 5L)))
  }

  test("containment join: lossless vs brute force, and finds the " +
      "subset pairs Jaccard misses") {
    val left = Seq(
      (1L, "a b c"),              // subset of doc 10
      (2L, "a b x"),              // 2/3 in doc 10
      (3L, "p q r")).toDF("doc_id", "text")
    val right = Seq(
      (10L, "a b c d e f g h"),   // superset of 1
      (11L, "p z1 z2 z3")).toDF("doc_id", "text")
    def setsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), array_distinct(toks).as("tk"))
        .filter(size(col("tk")) > 0)
    val t = 0.66
    val brute = setsOf(left)
      .select(col("doc_id").as("id1"), col("tk").as("tk1"))
      .crossJoin(setsOf(right)
        .select(col("doc_id").as("id2"), col("tk").as("tk2")))
      .withColumn("ov", size(array_intersect(col("tk1"), col("tk2"))))
      .withColumn("c", col("ov").cast("double") / size(col("tk1")))
      .filter(col("c") >= t)
      .select("id1", "id2", "ov")
    val got = SetSimJoin.joinByContainment(
        left.select(col("doc_id"), toks.as("toks")), "doc_id", "toks",
        right.select(col("doc_id"), toks.as("toks")), "doc_id", "toks",
        minContainment = t)
      .select("id1", "id2", "overlap")
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      s"containment diverged from brute force")
    // the asymmetry: (1, 10) has containment 1.0 but Jaccard 3/8 —
    // the Jaccard R-S join at the same threshold must NOT find it
    val jac = SetSimJoin.joinBetween(
      left.select(col("doc_id"), toks.as("toks")), "doc_id", "toks",
      right.select(col("doc_id"), toks.as("toks")), "doc_id", "toks",
      minJaccard = t)
    assert(got.filter(col("id1") === 1 && col("id2") === 10).count() == 1)
    assert(jac.filter(col("id1") === 1 && col("id2") === 10).count() == 0)
  }
}
