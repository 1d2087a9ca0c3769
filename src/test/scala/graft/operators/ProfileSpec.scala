package graft.operators

import graft.SparkSpec

/** Closed-form oracles for the categorical profile (the numeric profile
  * is hash-gated by q_profile). */
class ProfileSpec extends SparkSpec {

  import spark.implicits._

  private val df = Seq(
    ("a", "x"), ("a", "y"), ("a", null), ("b", "y"),
    ("b", "y"), ("c", "z")).toDF("c1", "c2")

  private def top(k: Int) =
    Profile.categorical(df, Seq("c1", "c2"), k)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet

  test("top-k frequent values per column; nulls never count") {
    assert(top(2) == Set(
      ("c1", "a", 3L, 1), ("c1", "b", 2L, 2),
      ("c2", "y", 3L, 1), ("c2", "x", 1L, 2)))
  }

  test("count ties break on value, deterministically") {
    val ranks = top(3).filter(_._1 == "c2")
    // x and z both count 1: x ranks before z lexically
    assert(ranks.contains(("c2", "x", 1L, 2)) &&
      ranks.contains(("c2", "z", 1L, 3)))
  }

  test("k-anonymity audit flags combos below k") {
    import org.apache.spark.sql.functions.col
    val rows = Seq.fill(5)(("us", "web")) ++ Seq.fill(2)(("us", "app")) ++
      Seq(("de", "web"))
    val got = Profile.kAnonymity(
        rows.toDF("country", "channel").repartition(3),
        Seq(col("country"), col("channel")), k = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got == Set(
      ("us", "web", 5L, false),
      ("us", "app", 2L, true),
      ("de", "web", 1L, true)))
  }

  test("lDiversity: homogeneous group flagged even when populous; " +
      "NULL sensitive value raises") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "us" group: 5 rows but only one distinct channel -> at risk at
    // l=2; "de" group: 2 rows, 2 channels -> safe
    val rows = Seq.fill(5)(("us", "web")) ++
      Seq(("de", "web"), ("de", "app"))
    val got = Profile.lDiversity(rows.toDF("country", "channel")
        .repartition(3), Seq(col("country")), "channel", l = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got == Set(("us", 5L, 1L, true), ("de", 2L, 2L, false)), got)
    val withNull = Seq(("us", Some("web")), ("us", None))
      .toDF("country", "channel")
    val e = intercept[Exception] {
      Profile.lDiversity(withNull, Seq(col("country")), "channel",
        l = 2).collect()
    }
    assert(e.getMessage.contains("NULL sensitive value"), e.getMessage)
  }

  test("categoryEntropy: uniform = ln k (norm 1), single category = " +
      "0 with NULL norm, NULL categories count") {
    import spark.implicits._
    val uni = Seq("a", "b", "c", "d").map(("g1", _)) ++
      Seq.fill(3)(("g2", "x")) ++
      Seq(("g3", "x"), ("g3", null))
    val got = Profile.categoryEntropy(uni.toDF("g", "c"), Seq("g"), "c")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), Option(r.get(4)))).toMap
    assert(got("g1")._1 == 4L && got("g1")._2 == 4L)
    assert(math.abs(got("g1")._3 - math.log(4.0)) < 1e-6, got.toString)
    assert(got("g1")._4 == Some(1.0), got.toString)
    assert(got("g2") == ((3L, 1L, -0.0, None)) ||
      got("g2") == ((3L, 1L, 0.0, None)), got.toString)
    // null is its own category: two cats, p = .5/.5 -> ln 2
    assert(got("g3")._2 == 2L &&
      math.abs(got("g3")._3 - math.log(2.0)) < 1e-6, got.toString)
  }

  test("tCloseness: hand-computed variational distance incl. a group " +
      "missing a global value; NULL sensitive raises") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // global mix: x=4, y=4, z=2 (N=10) -> p=(0.4,0.4,0.2)
    // A: 3x,1y -> ½(0.35+0.15+0.2)=0.35 ; B: 1x,3y -> 0.35 ;
    // C: 2z (z only) -> ½(0.4+0.4+0.8)=0.8
    val rows = Seq.fill(3)(("A", "x")) ++ Seq(("A", "y")) ++
      Seq(("B", "x")) ++ Seq.fill(3)(("B", "y")) ++
      Seq.fill(2)(("C", "z"))
    val got = Profile.tCloseness(rows.toDF("g", "v").repartition(3),
        Seq(col("g")), "v", t = 0.5)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        r.getAs[Double]("t_dist"), r.getAs[Boolean]("at_risk")))).toMap
    val want = Map("A" -> ((4L, 0.35, false)), "B" -> ((4L, 0.35, false)),
      "C" -> ((2L, 0.8, true)))
    assert(got.keySet == want.keySet, got.toString)
    want.foreach { case (g, (cnt, td, risk)) =>
      val (c2, t2, r2) = got(g)
      assert(c2 == cnt && r2 == risk && math.abs(t2 - td) < 1e-12,
        s"$g: ${got(g)}")
    }
    val withNull = Seq(("A", Some("x")), ("A", None)).toDF("g", "v")
    val e = intercept[Exception] {
      Profile.tCloseness(withNull, Seq(col("g")), "v", t = 0.5).collect()
    }
    assert(e.getMessage.contains("NULL sensitive value"), e.getMessage)
  }

  test("keyProfile: the unique column flags as key; nulls and dups " +
      "counted exactly") {
    import spark.implicits._
    val df = Seq((1L, Some("a"), 5), (2L, Some("a"), 5),
      (3L, None, 7)).toDF("id", "cat", "v")
    val got = Profile.keyProfile(df, Seq("id", "cat", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("id").getAs[Boolean]("is_key"))
    assert(got("cat").getLong(1) == 3 && got("cat").getLong(2) == 2 &&
      got("cat").getLong(3) == 1 && !got("cat").getAs[Boolean]("is_key"),
      got("cat").toString)
    assert(got("v").getLong(3) == 2 && !got("v").getAs[Boolean]("is_key"))
  }

  test("fdViolations: a held FD reports zero g3, a broken one counts " +
      "exactly the beyond-majority rows") {
    import spark.implicits._
    val held = Seq((1, "x"), (1, "x"), (2, "y")).toDF("a", "b")
    val h = Profile.fdViolations(held, Seq("a"), "b").collect().head
    assert(h.getLong(0) == 3 && h.getLong(1) == 2 &&
      h.getLong(2) == 0 && h.getLong(3) == 0 &&
      h.getDouble(4) == 0.0, h.toString)
    // a=1: {x,x,y} -> 1 violating row; a=2: {y} clean
    val broken = Seq((1, "x"), (1, "x"), (1, "y"), (2, "y"))
      .toDF("a", "b")
    val g = Profile.fdViolations(broken, Seq("a"), "b").collect().head
    assert(g.getLong(2) == 1 && g.getLong(3) == 1 &&
      g.getDouble(4) == 0.25, g.toString)
    // NULL dependents are a value: two NULLs agree
    val nulls = Seq((1, None: Option[String]), (1, None))
      .toDF("a", "b")
    val nr = Profile.fdViolations(nulls, Seq("a"), "b").collect().head
    assert(nr.getLong(3) == 0, nr.toString)
    val e = intercept[IllegalArgumentException] {
      Profile.fdViolations(held, Seq("b"), "b")
    }
    assert(e.getMessage.contains("must not appear"), e.getMessage)
  }
}
