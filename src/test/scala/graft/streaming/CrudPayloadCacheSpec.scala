package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.PipelineQueries

/** `streamCrudRun` caches its payload store and each batch's payload
  * frame, except where the optimizer already plans them as empty: a
  * retraction run's store is `noPayload`, and caching it would hide its
  * emptiness behind an InMemoryRelation, so every store probe and
  * payload join would still run. */
class CrudPayloadCacheSpec extends SparkSpec {

  import spark.implicits._

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  test("a planned-empty payload stays uncached and its batch join " +
      "plans empty; a real payload is cached") {
    val docs = Seq((1L, "en", "a b c"), (2L, "en", "d e f"))
      .toDF("doc_id", "lang", "text").repartition(2)
    val none = StreamOps.cacheUnlessPlannedEmpty(
      PipelineQueries.noPayload(docs))
    assert(!cached(none))
    val upserts = Seq(1L, 2L).toDF("doc_id").repartition(2)
    val batch = StreamOps.cacheUnlessPlannedEmpty(
      none.join(upserts, Seq("doc_id"), "left_semi"))
    assert(!cached(batch))
    // the event-contract probe against an empty store keeps every upsert
    assert(upserts.join(none.select("doc_id"), Seq("doc_id"), "left_anti")
      .count() === 2L)
    val some = StreamOps.cacheUnlessPlannedEmpty(docs.filter(col("doc_id") > 1))
    try assert(cached(some) && some.count() === 1L)
    finally some.unpersist()
  }
}
