package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** The one owner of the build-once/read-many artifact protocol (IVF-PQ
  * indexes, storage layouts, pair graphs, corpus state, summary
  * rollups). An artifact is a directory under a root — by default
  * [[cacheDir]]: `GRAFT_INDEX_DIR` or `<tmp>/graft-index` — whose
  * `_built` marker is the commit point: it is written last and holds
  * the source fingerprint, so a crashed build leaves no marker and is
  * rebuilt, and a source whose fingerprint changed invalidates the
  * artifact. Env `GRAFT_INDEX_REBUILD=1` forces every build. */
object Artifacts {
  def cacheDir: String =
    sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.props("java.io.tmpdir") + "/graft-index")

  /** Artifact directory key: the MD5 hex of `parts` joined by `|`. */
  def key(parts: String*): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Source fingerprint `count:xor` — row count and the order-independent
    * `bit_xor` of `xxhash64(idCol)` (xor, not sum: it cannot overflow
    * under ANSI arithmetic). One single-column agg, so the check never
    * reads the payload columns. Caveat, by design: it covers the ID
    * COLUMN only — content rewritten under an unchanged id set is not
    * detected; set `GRAFT_INDEX_REBUILD=1` after such a rewrite. */
  def idFingerprint(df: DataFrame, idCol: String): String = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col(idCol)))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withBuildLock[T](key: String)(body: => T): T =
    buildLocks.computeIfAbsent(key, _ => new Object).synchronized(body)

  /** `root/name`, built by `build` unless its marker already holds
    * `fingerprint`. The freshness check runs under a per-directory JVM
    * lock, so concurrent driver threads on one cold key build once and
    * the rest load (interleaved overwrite writes to one directory could
    * otherwise commit both jobs' part files). The lock covers one JVM
    * only. A stale marker is removed before `build` runs, so nothing is
    * served from a half-rewritten directory; the directory is created
    * and the marker written after `build` returns.
    *
    * A `build` may itself call `cached` for an artifact it reads (the
    * lifecycle state builds on the day-3 state, which builds on the
    * day-1 state; the retraction state builds on the pair graph): those
    * keys are distinct and always taken in that one direction, so the
    * nested locks cannot deadlock. */
  def cached(root: String, name: String, fingerprint: String)
      (build: Path => Unit): Path = {
    val dir = Paths.get(root, name).toAbsolutePath.normalize
    val marker = dir.resolve("_built")
    def fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8").trim == fingerprint &&
      !sys.env.get("GRAFT_INDEX_REBUILD").contains("1")
    withBuildLock(dir.toString) {
      if (!fresh) {
        Files.deleteIfExists(marker)
        build(dir)
        Files.createDirectories(dir)
        Files.write(marker, fingerprint.getBytes("UTF-8")) // commit point
      }
    }
    dir
  }
}
