package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Zone-map skipping must be lossless (≡ the plain range filter) while
  * actually reading fewer files than the layout holds. */
class ZoneMapSpec extends SparkSpec {

  test("pruned read ≡ full-table range filter, for ranges across the " +
      "layout, at the edges, and past the domain") {
    val full = Tables.events(spark, sf)
    for ((lo, hi) <- Seq((40L, 59L), (0L, 5L), (149L, 149L),
        (1000L, 2000L))) {
      val got = Layout.zoneMapPrunedEvents(spark, sf, lo, hi)
        .select("event_id")
      val want = full.filter(col("user_id").between(lo, hi))
        .select("event_id")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"zone-map pruning diverged on [$lo, $hi]")
    }
  }

  test("a narrow range plans fewer files than the layout holds") {
    val dir = Layout.clusteredEventsDir(spark, sf)
    val zm = spark.read.parquet(s"$dir/zonemap")
    val total = zm.count()
    val touched = zm.filter(col("mn") <= 45L && col("mx") >= 40L).count()
    assert(total > 1, "layout should hold multiple files")
    assert(touched < total,
      s"narrow range touched $touched of $total files — no skipping")
  }

  test("bloom sidecar: point probe reads fewer files, stays lossless, " +
      "absent id returns nothing") {
    val full = Tables.events(spark, sf)
    for (ids <- Seq(Seq(7L), Seq(7L, 400L, 999L), Seq(123456789L))) {
      val got = Layout.bloomPrunedEvents(spark, sf, ids)
        .select("event_id")
      val want = full.filter(col("event_id").isin(ids: _*))
        .select("event_id")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"bloom pruning diverged on $ids")
    }
    // skipping evidence: one probe id may-contain in far fewer files
    // than the layout holds (16 files, per-file FP rate ~3e-6)
    val dir = Layout.bloomIndexedEventsDir(spark, sf)
    val sidecar = spark.read.parquet(s"$dir/bloom")
    val total = sidecar.count()
    assert(total > 1, "layout should hold multiple files")
    val touched = sidecar.filter(graft.functions.GraftFunctions
      .bloomContains(col("bf"), lit(7L), 1 << 17, 3)).count()
    assert(touched < total,
      s"probe touched $touched of $total files - no skipping")
  }

  test("a copied artifact root prunes from its own data files") {
    import java.nio.file.{Files, Path}
    def copyTree(from: Path, to: Path): Unit = {
      val walk = Files.walk(from)
      try walk.forEach { p =>
        Files.copy(p, to.resolve(from.relativize(p)))
        ()
      } finally walk.close()
    }
    val root = java.nio.file.Paths.get(Layout.clusteredEventsDir(spark, sf))
    val copy = Files.createTempDirectory("graft_zonemap").resolve("root")
    copyTree(root, copy)
    // the original's part files go away while the copy is read (and
    // come back after, for the specs sharing the cached artifact)
    val aside = root.resolveSibling(s"${root.getFileName}.aside")
    Files.move(root.resolve("data"), aside)
    try {
      val got = Layout.zoneMapPrunedAt(spark, copy.toString, 3L, 9L)
        .select("event_id")
      val want = Tables.events(spark, sf)
        .filter(col("user_id").between(3L, 9L)).select("event_id")
      assert(want.count() > 0)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally Files.move(aside, root.resolve("data"))
  }

  test("planned-file cap raises loudly past maxPlannedFiles " +
      "(round-13: a non-selective prune must not materialize an " +
      "unbounded driver-side path list)") {
    val tooMany = Array.fill(Layout.maxPlannedFiles + 1)("f")
    val e = intercept[IllegalStateException] {
      Layout.plannedScan(spark, "/nonexistent", tooMany, "capTest")
    }
    assert(e.getMessage.contains("not selective"), e.getMessage)
    // at or under the cap, the empty-keep path still plans lazily
    // (no exception before an action)
    Layout.plannedScan(spark, sf, Array.empty[String], "capTest")
  }
}
