package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `IncrementalDedup.candidatePairs` probes the index by the batch's
  * bucket keys and pairs on the driver. It must return exactly the
  * (nid, oid, vs_index) set of the whole-index DataFrame formulation it
  * replaced, kept below verbatim as the reference. */
class CandidatePairsSpec extends SparkSpec {

  import spark.implicits._
  import IncrementalDedup.{banded, signatures}

  /** The former whole-index formulation, verbatim. */
  private def reference(indexBands: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32,
      bands: Int = 8, maxBucket: Int = 300): DataFrame = {
    val bNew = banded(signatures(batch, idCol, textCol, numHashes),
      numHashes, bands)
    val bOld = indexBands.select("id", "band", "band_hash")
    val bucketSizes = bNew.select(col("band"), col("band_hash"))
      .unionAll(bOld.select(col("band"), col("band_hash")))
      .groupBy("band", "band_hash").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
    val pNew = bNew.join(bucketSizes, Seq("band", "band_hash"))
    val pOld = bOld.join(bucketSizes, Seq("band", "band_hash"))
    pNew.select(col("band"), col("band_hash"), col("id").as("nid"))
      .join(pOld.select(col("band"), col("band_hash"),
        col("id").as("oid")), Seq("band", "band_hash"))
      .select(col("nid"), col("oid"), lit(true).as("vs_index"))
      .unionAll(pNew.select(col("band"), col("band_hash"),
          col("id").as("nid"))
        .join(pNew.select(col("band"), col("band_hash"),
          col("id").as("oid")), Seq("band", "band_hash"))
        .filter(col("oid") < col("nid"))
        .select(col("nid"), col("oid"), lit(false).as("vs_index")))
      .distinct()
  }

  private def triples(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet

  // seeded texts: 30 tokens from a 3000-word vocabulary, so unrelated
  // docs share no band while copies share all 8 and near copies some
  private val rng = new scala.util.Random(811)
  private def text(): Seq[String] = Seq.fill(30)(s"w${rng.nextInt(3000)}")
  private def near(t: Seq[String], edits: Int): Seq[String] =
    (0 until edits).foldLeft(t)((acc, i) => acc.updated(3 + i * 9, s"x$i"))

  private val base = Vector.fill(40)(text())
  private val template = text()
  private val sibling = text()
  // index: 40 unrelated docs (100..139) and a hot template, 12 copies
  // (200..211), one bucket per band of 12 rows
  private val index = ((100L to 139L).zip(base) ++
      (200L to 211L).map(_ -> template))
    .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
  private val indexBands =
    banded(signatures(index, "doc_id", "text")).cache()
  // the same rows over 4 partitions: every bucket spans several, so the
  // probe's per-partition counts and ids must add up
  private val spread = indexBands.repartition(4, col("id")).cache()
  // batch: exact and near copies of index docs (planted collisions),
  // two batch siblings and a near sibling, a template echo, fresh docs
  private val batch = (Seq(
      1L -> base(0), 2L -> base(1), 3L -> near(base(2), 1),
      4L -> near(base(3), 2), 10L -> sibling, 11L -> sibling,
      12L -> near(sibling, 1), 20L -> template) ++
    (30L to 35L).map(_ -> text()))
    .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")

  private def both(batch: DataFrame, maxBucket: Int,
      index: DataFrame = indexBands)
      : (Set[(Long, Long, Boolean)], Set[(Long, Long, Boolean)]) =
    (triples(IncrementalDedup.candidatePairs(index, batch,
        "doc_id", "text", maxBucket = maxBucket)),
      triples(reference(index, batch, "doc_id", "text",
        maxBucket = maxBucket)))

  test("planted collisions and batch siblings: same set as the " +
      "reference") {
    val (got, want) = both(batch, 300)
    assert(got === want)
    assert(want.contains((1L, 100L, true)))
    assert(want.contains((2L, 101L, true)))
    assert(want.contains((11L, 10L, false)))
    assert(want.contains((20L, 205L, true)))
    assert(want.exists { case (n, o, v) => n == 3L && o == 102L && v })
    val (spreadGot, spreadWant) = both(batch, 300, spread)
    assert(spreadGot === spreadWant && spreadWant === want)
  }

  test("a bucket above maxBucket is skipped as in the reference") {
    val (got, want) = both(batch, 10)
    assert(got === want)
    assert(!want.exists(_._1 == 20L),
      "the 13-row template buckets exceed the cap")
    assert(want.contains((1L, 100L, true)))
    // split over partitions, the template buckets fit the cap in each
    // one but not in total
    val (spreadGot, spreadWant) = both(batch, 10, spread)
    assert(spreadGot === spreadWant && spreadWant === want)
  }

  test("a band-partitioned index read back from parquet probes the same") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cand").toString
    IncrementalDedup.writeBandedIndex(signatures(index, "doc_id", "text"),
      dir)
    val stored = IncrementalDedup.readBandedIndex(spark, dir)
    assert(triples(IncrementalDedup.candidatePairs(stored, batch,
        "doc_id", "text")) ===
      triples(reference(stored, batch, "doc_id", "text")))
  }

  test("an empty batch has no candidates") {
    val (got, want) = both(batch.limit(0), 300)
    assert(got.isEmpty && want.isEmpty)
  }
}
