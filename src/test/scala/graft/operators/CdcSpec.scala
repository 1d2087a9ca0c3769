package graft.operators

import graft.SparkSpec

/** MERGE semantics for [[Cdc.applyChanges]]: latest-wins compaction,
  * delete, update, insert, pass-through, and the after-image contract
  * (base columns the feed lacks survive updates). */
class CdcSpec extends SparkSpec {

  import spark.implicits._

  test("applyChanges: upsert/delete/insert/pass-through") {
    val base = Seq(
      (1L, "alice", 10.0), (2L, "bob", 20.0),
      (3L, "carol", 30.0), (4L, "dave", 40.0)
    ).toDF("id", "name", "bal")
    val changes = Seq(
      // key 1: two updates, version 2 wins
      (1L, 1L, "U", 11.0), (1L, 2L, "U", 12.0),
      // key 2: update then delete — delete wins, row dropped
      (2L, 1L, "U", 21.0), (2L, 2L, "D", 0.0),
      // key 3: delete then a LATER re-insert — upsert wins, row back
      (3L, 1L, "D", 0.0), (3L, 2L, "U", 33.0),
      // key 5: pure insert (no base row)
      (5L, 1L, "U", 50.0)
    ).toDF("id", "ver", "op", "bal")

    val out = Cdc.applyChanges(base, changes,
        keyCols = Seq("id"), orderCols = Seq("ver"),
        opCol = "op", deleteOp = "D")
      .select("id", "name", "bal", "ver")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), r.getDouble(2), Option(r.get(3))))).toMap

    assert(out.keySet == Set(1L, 3L, 4L, 5L))
    // update: bal from the feed, name (absent from the feed) from base
    assert(out(1L) == ((Some("alice"), 12.0, Some(2L))))
    assert(out(3L) == ((Some("carol"), 33.0, Some(2L))))
    // pass-through: untouched, no change version
    assert(out(4L) == ((Some("dave"), 40.0, None)))
    // insert: no base row, feed-absent base columns null
    assert(out(5L) == ((None, 50.0, Some(1L))))
  }

  test("compaction happens before the join: one row per key") {
    val base = Seq((1L, 1.0)).toDF("id", "bal")
    val changes = (1 to 100)
      .map(v => (1L, v.toLong, "U", v.toDouble))
      .toDF("id", "ver", "op", "bal").repartition(5)
    val out = Cdc.applyChanges(base, changes, Seq("id"), Seq("ver"),
      "op", "D").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("bal") == 100.0)
  }
}
