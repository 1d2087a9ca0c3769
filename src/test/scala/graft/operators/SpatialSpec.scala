package graft.operators

import graft.SparkSpec

/** Grid radius join: must equal brute force exactly (integer math, no
  * epsilon), across cell borders, at the inclusive boundary, and for
  * negative coordinates where truncating division would split cells. */
class SpatialSpec extends SparkSpec {

  import spark.implicits._

  private def brute(pts: Seq[(Long, Long, Long)], r: Long) =
    (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1, d2)).toSet

  private def run(pts: Seq[(Long, Long, Long)], r: Long) =
    Spatial.radiusJoin(pts.toDF("id", "x", "y").repartition(4),
        "id", "x", "y", r)
      .collect().map(t => (t.getLong(0), t.getLong(1), t.getLong(2))).toSet

  test("pairs across cell borders and at the inclusive boundary") {
    // r=10: (0,0)-(9,0) crosses the cell border at x=10/ r grid;
    // (0,0)-(10,0) sits EXACTLY at dist² = r² (inclusive);
    // (0,0)-(11,0) is just outside
    val pts = Seq((1L, 0L, 0L), (2L, 9L, 0L), (3L, 10L, 0L), (4L, 21L, 0L))
    val got = run(pts, 10)
    assert(got == brute(pts, 10))
    assert(got.contains((1L, 3L, 100L)) && !got.exists(p =>
      p._1 == 1L && p._2 == 4L))
  }

  test("negative coordinates: floor-div cells, not truncate-toward-zero") {
    // (-1,-1) and (1,1) straddle the origin: truncating division puts
    // both in cell (0,0) by accident of sign, floor-div in different
    // cells — the pair must still surface via the neighbor explosion
    val pts = Seq((1L, -1L, -1L), (2L, 1L, 1L), (3L, -15L, -15L))
    val got = run(pts, 10)
    assert(got == brute(pts, 10))
    assert(got.contains((1L, 2L, 8L)))
  }

  test("randomized: equals brute force") {
    val rnd = new scala.util.Random(5)
    val pts = (1L to 120L).map(i =>
      (i, rnd.nextLong(2000) - 1000, rnd.nextLong(2000) - 1000))
    (Seq(50L, 137L, 400L)).foreach { r =>
      assert(run(pts, r) == brute(pts, r), s"radius $r")
    }
  }

  test("coordinate overflow guard fails loudly") {
    val pts = Seq((1L, 2000000000L, 0L), (2L, 0L, 0L))
    val ex = intercept[Exception] { run(pts, 10) }
    val msg = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("rescale coordinates"))
  }
}
