package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data LAYOUT operators — the two storage disciplines that decide
  * whether a 100 TB table is queryable at all, demonstrated end-to-end
  * against the testdata:
  *
  *  - '''Partition pruning''' ([[partitionedEvents]]): a fact table laid
  *    out as `date=.../part-*.parquet` turns every date-ranged query
  *    into a directory-listing problem — the scan never opens a file
  *    outside the range. LayoutSpec asserts the physical scan carries
  *    the `PartitionFilters`, and the driver gate hash-matches a pruned
  *    aggregate against DuckDB over the raw table.
  *
  *  - '''Bucketing''' ([[bucketedOrdersWithCustomers]]): pre-hashing both
  *    join sides into the same bucket count co-locates matching keys at
  *    WRITE time, so the join plans with zero shuffle — the one-time
  *    layout cost amortizes over every subsequent join on that key,
  *    which is how a fact-to-fact join survives 100 TB (a broadcast
  *    can't, and a per-query shuffle of both sides pays the full
  *    network cost every time). LayoutSpec asserts the bucketed
  *    sort-merge join has NO shuffle exchange on either input.
  *
  * Both layouts are one-time [[Artifacts.cached]] artifacts keyed by
  * source path and fingerprinted by the source's id column, so a
  * regenerated source table triggers a rebuild rather than silently
  * serving a stale layout; a fresh JVM re-REGISTERS existing bucketed
  * files in its catalog instead of rewriting them. Production
  * deployments own these artifacts in a real metastore.
  */
object Layout {

  private def sourceKey(d: String, parts: String*): String =
    Artifacts.key(new java.io.File(d).getCanonicalPath +: parts: _*)

  /** Events re-laid-out as parquet partitioned by `event_date`
    * (`to_date(ts)` in the session's UTC). Returns the partitioned
    * read — date filters on it prune at file listing. */
  def partitionedEvents(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.cached(Artifacts.cacheDir,
        "events_by_date_" + sourceKey(d),
        Artifacts.idFingerprint(Tables.events(s, d), "event_id")) { dir =>
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(dir.resolve("data").toString)
    }
    s.read.parquet(dir.resolve("data").toString)
  }

  /** Orders and customer saved as tables bucketed by the join key
    * (`o_custkey` / `c_custkey`, same bucket count), then joined —
    * planned WITHOUT a shuffle on either side. Table names carry the
    * source-path key so different SF dirs coexist in one warehouse.
    * Files are written once (fingerprint-markered); a fresh JVM, whose
    * in-memory catalog forgot the tables, re-registers the existing
    * files with the same bucket spec instead of rewriting them. */
  def bucketedOrdersWithCustomers(s: SparkSession, d: String,
      buckets: Int = 8): DataFrame = {
    val key = sourceKey(d, buckets.toString)

    def ensure(tbl: String, df: DataFrame, idCol: String,
        bucketCol: String): Unit = {
      // a registered table must STILL pass the fingerprint check — a
      // source regenerated within this JVM's lifetime would otherwise
      // silently serve the stale bucketed layout (r4 advice)
      val path = Artifacts.cached(Artifacts.cacheDir, tbl,
          Artifacts.idFingerprint(df, idCol)) { path =>
        if (s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE $tbl")
        df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .option("path", path.toString)
          .mode("overwrite").saveAsTable(tbl)
      }
      // files already laid out by a prior JVM: register, don't rewrite
      // (bucket ids live in the file names Spark wrote)
      if (!s.catalog.tableExists(tbl))
        s.sql(s"""CREATE TABLE $tbl (${df.schema.toDDL}) USING PARQUET
                  CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
                  INTO $buckets BUCKETS LOCATION '$path'""")
    }

    ensure(s"graft_orders_b_$key", Tables.orders(s, d),
      "o_orderkey", "o_custkey")
    ensure(s"graft_customer_b_$key", Tables.customer(s, d),
      "c_custkey", "c_custkey")
    s.table(s"graft_orders_b_$key")
      .join(s.table(s"graft_customer_b_$key"),
        col("o_custkey") === col("c_custkey"))
  }

  // ---- zone maps: min/max file skipping on a NON-partition column ----

  /** Events range-clustered by `user_id` into `files` parquet files,
    * with a persisted per-file (min, max) zone map — the data-skipping
    * discipline for columns partitioning can't cover (partitioning by a
    * high-cardinality key would explode the directory tree; clustering
    * + zone maps give the same skipping at file granularity, which is
    * exactly what sorting by [[graft.functions.ZOrder.zorderKey]] buys
    * for multi-column predicates). `repartitionByRange` + an in-file
    * sort make each file's [min, max] tight and disjoint, so a
    * user-range query touches ~range/width files instead of all of
    * them. Artifact-cached with the fingerprint-marker protocol. */
  def clusteredEventsDir(s: SparkSession, d: String,
      files: Int = 16): String = {
    Artifacts.cached(Artifacts.cacheDir,
        "events_by_user_" + sourceKey(d, files.toString),
        Artifacts.idFingerprint(Tables.events(s, d), "event_id")) { dir =>
      Tables.events(s, d)
        .repartitionByRange(files, col("user_id"))
        .sortWithinPartitions("user_id")
        .write.mode("overwrite").parquet(dir.resolve("data").toString)
      // the zone map itself: one tiny stats table, computed once at
      // write time (a production table format keeps these in manifest
      // metadata; parquet footers hold the same stats per file)
      s.read.parquet(dir.resolve("data").toString)
        .groupBy(input_file_name().as("file"))
        .agg(min("user_id").as("mn"), max("user_id").as("mx"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve("zonemap").toString)
    }.toString
  }

  /** Surviving-file-list cap for the sidecar-pruned scans (round-13
    * verdict #5): the skip decision is driver-side scan planning by
    * nature (the same place Spark's own InMemoryFileIndex holds every
    * listed path), but the COLLECTED list must stay bounded — at
    * 100 TB a selective probe returns a handful of paths, while a
    * non-selective one could materialize millions. Beyond the cap the
    * prune is not planning any more, it is a full scan wearing a file
    * list: raise loudly and point at the two correct moves (run the
    * unpruned scan, or move skipping into a table-format manifest,
    * which is what Iceberg/Delta do for exactly this reason). */
  private[graft] val maxPlannedFiles: Int = 100000

  private[graft] def plannedScan(s: SparkSession, dataDir: String,
      keep: Array[String], what: String): DataFrame = {
    if (keep.length > maxPlannedFiles)
      throw new IllegalStateException(
        s"Layout.$what: sidecar prune kept ${keep.length} files " +
          s"(cap $maxPlannedFiles) — the probe is not selective " +
          "enough for file skipping to be planning; run the plain " +
          "scan with the residual filter, or keep file skipping in " +
          "a table-format manifest at this file count")
    if (keep.isEmpty) s.read.parquet(dataDir).filter(lit(false))
    // a sidecar names each part file by its path under the root that
    // built it: resolve the file name under THIS root's data dir, so a
    // moved or copied artifact root reads its own files
    else s.read.parquet(keep.toIndexedSeq.map { f =>
      val name = new org.apache.hadoop.fs.Path(new java.net.URI(f)).getName
      s"$dataDir/$name"
    }: _*)
  }

  /** Events with `user_id` in [lo, hi], read ONLY from files whose zone
    * intersects the range: the zone map (≤ `files` rows) plans the scan
    * — a driver-side file-list decision, which is where scan planning
    * lives by nature, bounded by [[maxPlannedFiles]] — and the residual
    * filter keeps exactness within the boundary files. */
  def zoneMapPrunedEvents(s: SparkSession, d: String, lo: Long,
      hi: Long): DataFrame =
    zoneMapPrunedAt(s, clusteredEventsDir(s, d), lo, hi)

  /** [[zoneMapPrunedEvents]] over the artifact root `dir`. */
  private[graft] def zoneMapPrunedAt(s: SparkSession, dir: String,
      lo: Long, hi: Long): DataFrame = {
    val keep = s.read.parquet(s"$dir/zonemap")
      .filter(col("mn") <= hi && col("mx") >= lo)
      .select("file").collect().map(_.getString(0))
    plannedScan(s, s"$dir/data", keep, "zoneMapPrunedEvents")
      .filter(col("user_id").between(lo, hi))
  }

  // Bloom sidecar sizing — shared between build and probe (a mismatch
  // would silently probe the wrong bit positions)
  private val bloomBits = 1 << 17
  private val bloomK = 3

  /** Events re-laid-out for BLOOM skipping on `event_id` — the
    * point-lookup complement to [[clusteredEventsDir]]'s zone maps:
    * zone maps need the column clustered/sorted, a Bloom sidecar
    * skips files for high-cardinality point probes on data in ANY
    * order (here: hash-distributed, the worst case for zones). One
    * ~16 KB filter per file, built once at write time (Iceberg/Delta
    * keep the same thing in manifest metadata; parquet footers carry
    * optional bloom filters per column chunk). */
  def bloomIndexedEventsDir(s: SparkSession, d: String,
      files: Int = 16): String = {
    Artifacts.cached(Artifacts.cacheDir,
        "events_bloomidx_" + sourceKey(d, files.toString,
          bloomBits.toString, bloomK.toString),
        Artifacts.idFingerprint(Tables.events(s, d), "event_id")) { dir =>
      Tables.events(s, d)
        .repartition(files, col("event_id"))
        .write.mode("overwrite").parquet(dir.resolve("data").toString)
      s.read.parquet(dir.resolve("data").toString)
        .groupBy(input_file_name().as("file"))
        .agg(graft.functions.GraftFunctions
          .bloomAgg(col("event_id"), bloomBits, bloomK).as("bf"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve("bloom").toString)
    }.toString
  }

  /** Events whose `event_id` is in `ids`, read ONLY from files whose
    * Bloom filter may contain at least one probe id (driver-side scan
    * planning over the ≤ `files`-row sidecar, the zone-map
    * discipline). False positives cost an extra file read, never a
    * wrong row — the residual `isin` keeps exactness. */
  def bloomPrunedEvents(s: SparkSession, d: String,
      ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "bloomPrunedEvents needs at least one probe id")
    val dir = bloomIndexedEventsDir(s, d)
    val mayContain = ids.map(id => graft.functions.GraftFunctions
        .bloomContains(col("bf"), lit(id), bloomBits, bloomK))
      .reduce(_ || _)
    val keep = s.read.parquet(s"$dir/bloom")
      .filter(mayContain).select("file").collect().map(_.getString(0))
    plannedScan(s, s"$dir/data", keep, "bloomPrunedEvents")
      .filter(col("event_id").isin(ids: _*))
  }
}
