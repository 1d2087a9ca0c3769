package graft.operators

import graft.SparkSpec

/** Oracle for transitive duplicate clustering: chains collapse to one
  * component, separate clusters stay separate, and cluster-exact dedup
  * keeps exactly the component minimum. */
class ComponentsSpec extends SparkSpec {

  test("min-label propagation finds transitive components") {
    import spark.implicits._
    // chain 1-2-3-4, separate pair 10-11, separate triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val comp = Dedup.clusterComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), s"chain: $comp")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
  }

  test("transitive dedup ≡ driver-side BFS components on real docs") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 32, 8, 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus must contain near-dups for this oracle")
    // independent reference: BFS over the collected pair graph
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    val compOf = scala.collection.mutable.Map[Long, Long]()
    adj.keys.toSeq.sorted.foreach { start =>
      if (!compOf.contains(start)) {
        val queue = scala.collection.mutable.Queue(start)
        val seen = scala.collection.mutable.Set(start)
        while (queue.nonEmpty) {
          val n = queue.dequeue()
          adj(n).foreach(m => if (seen.add(m)) queue.enqueue(m))
        }
        val label = seen.min
        seen.foreach(compOf(_) = label)
      }
    }
    val expectedDoomed = compOf.collect {
      case (n, c) if n != c => n }.toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = Dedup.minhashDedupTransitive(docs, "doc_id", "text",
        threshold = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === (allIds -- expectedDoomed),
      s"cluster-exact survivorship diverges from BFS reference")
  }
}
