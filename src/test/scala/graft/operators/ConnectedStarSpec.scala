package graft.operators

import graft.SparkSpec

/** [[Graph.connectedComponentsStar]]: output ≡ the hash-min kernel on
  * shared inputs, and diameter independence — the long chain that
  * starves hash-min converges in a handful of alternations. */
class ConnectedStarSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("equals hash-min on a random multi-component graph") {
    val rng = new scala.util.Random(17)
    // ~80 nodes in islands of 10: random edges within each island
    val edges = (0 until 8).flatMap { isl =>
      (1 to 14).map { _ =>
        val a = isl * 10 + rng.nextInt(10)
        val b = isl * 10 + rng.nextInt(10)
        (a.toLong, b.toLong)
      }
    }.filter(e => e._1 != e._2).toDF("src", "dst")
    val star = labels(
      Graph.connectedComponentsStar(edges, "src", "dst"))
    val hashMin = labels(
      Graph.connectedComponents(edges, "src", "dst", maxIters = 40))
    assert(star == hashMin)
  }

  test("100-hop chain: star converges where hash-min's budget raises") {
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = labels(Graph.connectedComponentsStar(chain, "src", "dst"))
    assert(got == (0L to 100L).map(i => (i, 0L)).toSeq)
    val ex = intercept[Exception] {
      Graph.connectedComponents(chain, "src", "dst", maxIters = 20)
        .collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("rings, duplicate/reversed edges, and self-loops") {
    val edges = (Seq((5L, 5L)) ++ // self-loop drops
      (0L until 6L).map(i => (i, (i + 1) % 6)) ++ // ring 0..5
      Seq((10L, 11L), (11L, 10L), (10L, 11L))) // dup + reversed
      .toDF("src", "dst")
    val got = labels(Graph.connectedComponentsStar(edges, "src", "dst"))
    assert(got == ((0L to 5L).map(i => (i, 0L)) ++
      Seq((10L, 10L), (11L, 10L))).sorted)
  }

  test("self-loop-only node still labels itself") {
    val edges = Seq((7L, 7L), (1L, 2L)).toDF("src", "dst")
    val got = labels(Graph.connectedComponentsStar(edges, "src", "dst"))
    assert(got == Seq((1L, 1L), (2L, 1L), (7L, 7L)))
  }
}
