package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection — the daily-ingest shape of
  * corpus maintenance: dedup a NEW batch against the accumulated corpus
  * without ever re-reading old text. The index is two id+hash tables
  * (per-doc MinHash signatures and their LSH band hashes); yesterday's
  * 100 TB contributes only those, so each ingest costs
  * O(batch text + index hashes), never O(corpus text).
  *
  * Decision semantics per batch doc: `dup_of_index` (a near-twin
  * already lives in the corpus — drop the new copy) and
  * `dup_in_batch` (a near-twin arrived in the same batch — keep the
  * min-id copy, matching [[Dedup.minhashDedup]]'s greedy survivor
  * rule). [[updated]] appends the SURVIVORS' signatures, so the index
  * never accumulates duplicates it already rejected.
  *
  * Scale shape: banding the index is a map pass over (id, sig) rows;
  * candidate generation joins (band, band_hash, id) triples only;
  * signatures flow once per surviving candidate side in the verify
  * join. maxBucket caps degenerate buckets across BOTH sides combined
  * — a hot template in the corpus cannot quadratically explode a new
  * batch's candidates.
  */
object IncrementalDedup {

  /** Per-doc MinHash signatures: (id, sig) — the persistable index row.
    * Same kernel + parameters as [[Dedup.minhashLsh]], so an index built
    * by one is probe-compatible with the other. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32): DataFrame = {
    df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.minhashText(col(textCol), numHashes)
        .as("sig"))
  }

  /** LSH band hashes of a signature table: (id, band, band_hash). */
  def banded(sigs: DataFrame, numHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          j => xxhash64(slice(col("sig"), j * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Per-batch-doc verdicts: (id, dup_of_index, dup_in_batch).
    *
    * `dup_of_index`: est. Jaccard ≥ threshold against ANY index doc.
    * `dup_in_batch`: ≥ threshold against a SMALLER-id batch doc (the
    * greedy min-id survivor keeps `false`, later copies `true`). */
  def verdicts(indexSigs: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 300): DataFrame =
    verdictsBanded(banded(indexSigs, numHashes, bands), indexSigs,
      batch, idCol, textCol, numHashes, bands, threshold, maxBucket)

  /** [[verdicts]] against a PRE-BANDED index — the compacted-artifact
    * posture (r14 verdict #3): a day-365 index's band hashes are
    * computed ONCE at compaction and land as an (id, band, band_hash)
    * table partitioned by band, so each ingest reads three narrow
    * columns instead of re-hashing every signature in the corpus —
    * the index-side term the 32× incr_probe drill showed growing. */
  def verdictsBanded(indexBands: DataFrame, indexSigs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 300): DataFrame = {
    val batchSigs = signatures(batch, idCol, textCol, numHashes).cache()
    val bNew = banded(batchSigs, numHashes, bands)
    val bOld = indexBands.select("id", "band", "band_hash")
    // cap on the COMBINED bucket population (hot corpus template + its
    // batch echoes), ids never enumerated for skipped buckets
    val bucketSizes = bNew.select(col("band"), col("band_hash"))
      .unionAll(bOld.select(col("band"), col("band_hash")))
      .groupBy("band", "band_hash").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
    val pNew = bNew.join(bucketSizes, Seq("band", "band_hash"))
    val pOld = bOld.join(bucketSizes, Seq("band", "band_hash"))
    // batch-vs-index candidates + batch-vs-smaller-id-batch candidates
    val viaIndex = pNew.select(col("band"), col("band_hash"),
        col("id").as("nid"))
      .join(pOld.select(col("band"), col("band_hash"), col("id").as("oid")),
        Seq("band", "band_hash"))
      .select(col("nid"), col("oid"), lit(true).as("vs_index"))
    val viaBatch = pNew.select(col("band"), col("band_hash"),
        col("id").as("nid"))
      .join(pNew.select(col("band"), col("band_hash"), col("id").as("oid")),
        Seq("band", "band_hash"))
      .filter(col("oid") < col("nid"))
      .select(col("nid"), col("oid"), lit(false).as("vs_index"))
    val cands = viaIndex.unionAll(viaBatch).distinct()
    val oldSide = indexSigs.select(col("id").as("oid"),
        col("sig").as("sig_o"))
      .unionAll(batchSigs.select(col("id").as("oid"), col("sig").as("sig_o")))
    val confirmed = cands
      .join(batchSigs.select(col("id").as("nid"), col("sig").as("sig_n")),
        "nid")
      .join(oldSide, "oid")
      .withColumn("est", Dedup.minhashEstimate(col("sig_n"), col("sig_o")))
      .filter(col("est") >= threshold)
    batchSigs.select(col("id"))
      .join(confirmed.groupBy("nid").agg(
          max(col("vs_index")).as("dup_of_index"),
          max(!col("vs_index")).as("dup_in_batch"))
          .withColumnRenamed("nid", "id"),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("dup_of_index"), lit(false)).as("dup_of_index"),
        coalesce(col("dup_in_batch"), lit(false)).as("dup_in_batch"))
  }

  /** Banded candidate PAIRS of a batch against a pre-banded index,
    * plus batch-internal pairs — the pair-level form of
    * [[verdictsBanded]] for consumers that need PARTNER IDENTITIES
    * instead of per-doc verdicts (the corpus amendment's fresh-pair
    * tier: each candidate is exact-verified downstream, so false
    * positives cost a text fetch, never a wrong verdict). Returns
    * (nid, oid, vs_index): batch id × (index id | smaller-id batch
    * sibling), deduplicated, same degenerate-bucket cap as the
    * verdict path. `vs_index` is the provenance the consumer needs:
    * an index-side partner names AT-REST content (remappable if that
    * content leaves in the same step), a batch-sibling partner names
    * the batch's NEW content.
    *
    * Cost ∝ delta, never corpus, in two passes: the batch is banded
    * once (one task) and its (band, band_hash) keys collected; then ONE
    * map-side pass over the index rows sharing those keys returns, per
    * partition and bucket, the row count and — while that count is
    * within `maxBucket` — the ids. A bucket whose population (batch and
    * index rows together) stays within the cap was within it in every
    * partition, so all its ids arrived; a hot corpus template ships at
    * most `maxBucket` ids a partition, never its population. The pairs
    * are formed on the driver. The batch-key fetch holds at most
    * `maxRows` rows, else it raises (the caller's blast-radius
    * posture); the index pass returns at most one row per partition
    * and batch key by construction. */
  def candidatePairs(indexBands: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32,
      bands: Int = 8, maxBucket: Int = 300,
      maxRows: Int = 5000000): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val keyRows = banded(signatures(batch, idCol, textCol, numHashes),
        numHashes, bands)
      .select(col("band").cast("int"), col("band_hash").cast("long"),
        col("id").cast("long"))
      .coalesce(1).limit(maxRows + 1).collect()
    require(keyRows.length <= maxRows, s"candidatePairs: batch bands " +
      s"beyond $maxRows rows — a batch this size is a rebuild, not a delta")
    val batchIds = keyRows.toSeq
      .groupMap(r => (r.getInt(0), r.getLong(1)))(_.getLong(2))
    val index: Map[(Int, Long), (Long, Seq[Long])] =
      if (batchIds.isEmpty) Map.empty
      else indexBands.join(
          broadcast(batchIds.keys.toSeq.toDF("band", "band_hash")),
          Seq("band", "band_hash"), "left_semi")
        .select(col("band").cast("int"), col("band_hash").cast("long"),
          col("id").cast("long"))
        .as[(Int, Long, Long)]
        .mapPartitions { rows =>
          val m = scala.collection.mutable.Map
            .empty[(Int, Long), (Long, List[Long])]
          rows.foreach { case (b, h, id) =>
            val (n, ids) = m.getOrElse((b, h), (0L, Nil))
            m((b, h)) = (n + 1, if (n < maxBucket) id :: ids else Nil)
          }
          m.iterator.map { case ((b, h), (n, ids)) =>
            (b, h, n, ids: Seq[Long]) }
        }
        .collect().toSeq
        .groupMapReduce(r => (r._1, r._2))(r => (r._3, r._4)) {
          case ((n1, a), (n2, b)) => (n1 + n2, a ++ b) }
    batchIds.toSeq.flatMap { case (k, nids) =>
      val (n, oids) = index.getOrElse(k, (0L, Nil))
      if (nids.size + n < 2 || nids.size + n > maxBucket) Nil
      else nids.flatMap(nid => oids.map(o => (nid, o, true)) ++
        nids.filter(_ < nid).map(o => (nid, o, false)))
    }.distinct.toDF("nid", "oid", "vs_index")
  }

  /** Post-ingest index: prior signatures plus the batch SURVIVORS
    * (docs with neither flag). */
  def updated(indexSigs: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 300): DataFrame = {
    val v = verdicts(indexSigs, batch, idCol, textCol, numHashes, bands,
      threshold, maxBucket)
    val keep = v.filter(!col("dup_of_index") && !col("dup_in_batch"))
      .select("id")
    indexSigs.unionAll(
      signatures(batch, idCol, textCol, numHashes).join(keep, "id"))
  }

  /** Parquet round-trip for the signature index. */
  def writeIndex(sigs: DataFrame, dir: String): Unit =
    sigs.write.mode("overwrite").parquet(dir)

  def readIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Compaction write of the PRE-BANDED index: band hashes computed
    * once, stored band-partitioned (an ingest's (band, band_hash)
    * equi-join then reads narrow columns, never re-hashing the
    * corpus). */
  def writeBandedIndex(sigs: DataFrame, dir: String,
      numHashes: Int = 32, bands: Int = 8): Unit =
    banded(sigs, numHashes, bands).write.mode("overwrite")
      .partitionBy("band").parquet(dir)

  def readBandedIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}
