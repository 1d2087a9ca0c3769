package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session-seam lint: the engine surface enters a session at one place.
  * A session is built by `graft.api.Engine` (which applies
  * `GraftExtensions`), the one late attach for a session built elsewhere
  * is `GraftFunctions.register` called from the `SparkEntry` driver
  * contract, runtime `experimental` hooks are written only by
  * `GraftPlanBridge.attach`, and no strong per-session map pins sessions.
  * Unlike [[CollectSiteLintSpec]] this scans the top-level harness mains
  * too: they build sessions like everyone else. The same one-seam rule
  * holds for at-rest artifacts: `graft.sources.Artifacts` alone owns the
  * build-once marker protocol. */
class SessionSeamLintSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), dir.toAbsolutePath.toString)
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map { p =>
        val raw = new String(Files.readAllBytes(p), "UTF-8")
        p -> raw.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")
      }
  }

  private lazy val mainSrc = sources("src/main/scala")
  private lazy val allSrc = mainSrc ++ sources("src/test/scala")

  /** Files matching `re` whose path does not end with an allowed suffix. */
  private def offenders(srcs: Seq[(Path, String)], re: String,
      allowed: String*): Seq[String] =
    srcs.collect { case (p, code)
        if re.r.findFirstIn(code).isDefined &&
          !allowed.exists(a => p.toString.endsWith(a)) => p.toString }
      .sorted

  test("SparkSession.builder appears in src/main only inside Engine") {
    val bad = offenders(mainSrc, """SparkSession\s*\.\s*builder""",
      "graft/api/Engine.scala")
    assert(bad.isEmpty, s"build sessions with graft.api.Engine: $bad")
  }

  test("GraftFunctions.register is called only from the SparkEntry seam") {
    val bad = offenders(allSrc, """GraftFunctions\s*\.\s*register\s*\(""",
      "graft/SparkEntry.scala")
    assert(bad.isEmpty,
      s"sessions from graft.api.Engine already carry the surface: $bad")
  }

  test("runtime experimental hooks are written only by GraftPlanBridge") {
    val bad = offenders(allSrc,
      """experimental\s*\.\s*extra(Strategies|Optimizations)\s*=(?!=)""",
      "org/apache/spark/sql/GraftPlanBridge.scala")
    assert(bad.isEmpty, s"inject through graft.api.GraftExtensions: $bad")
  }

  test("the artifact marker protocol lives only in Artifacts") {
    val sites = for {
      re <- Seq("\"_built\"", "GRAFT_INDEX_REBUILD")
      (p, code) <- mainSrc
      if !p.toString.endsWith("graft/sources/Artifacts.scala")
      n = re.r.findAllMatchIn(code).size
      if n > 0
    } yield s"$re x$n in $p"
    assert(sites.isEmpty,
      s"build artifacts through graft.sources.Artifacts.cached: $sites")
  }

  test("no strong per-session ConcurrentHashMap set or map") {
    val bad = offenders(allSrc, """ConcurrentHashMap\s*\[\s*SparkSession""")
    assert(bad.isEmpty,
      s"ask the session itself (its catalog or function registry): $bad")
  }
}
