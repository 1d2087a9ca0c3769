package graft.sources

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec

/** The build-once/read-many protocol of [[Artifacts.cached]] on tiny
  * frames: build on a cold key, load on a fresh one, rebuild on a
  * stale fingerprint or a crashed build, and one build for concurrent
  * callers. */
class ArtifactsSpec extends SparkSpec {

  private def root(): String =
    Files.createTempDirectory("graft-artifacts").toString

  /** A build that writes one file and counts its runs. */
  private def counting(n: AtomicInteger)(dir: Path): Unit = {
    n.incrementAndGet()
    Files.createDirectories(dir)
    Files.write(dir.resolve("payload"), "x".getBytes("UTF-8"))
  }

  test("first call builds; a second call loads without building") {
    val r = root()
    val fp = Artifacts.idFingerprint(spark.range(10).toDF("id"), "id")
    val n = new AtomicInteger()
    val dir = Artifacts.cached(r, "a", fp)(counting(n))
    assert(n.get == 1)
    assert(new String(Files.readAllBytes(dir.resolve("_built")), "UTF-8")
      == fp)
    assert(Artifacts.cached(r, "a", fp)(counting(n)) == dir)
    assert(n.get == 1, "a fresh marker must load, not rebuild")
  }

  test("a changed id set makes the marker stale and rebuilds") {
    val r = root()
    val n = new AtomicInteger()
    val fp10 = Artifacts.idFingerprint(spark.range(10).toDF("id"), "id")
    val fp5 = Artifacts.idFingerprint(spark.range(5).toDF("id"), "id")
    assert(fp10 != fp5)
    val dir = Artifacts.cached(r, "a", fp10)(counting(n))
    Artifacts.cached(r, "a", fp5)(counting(n))
    assert(n.get == 2, "a stale fingerprint must trigger a rebuild")
    assert(new String(Files.readAllBytes(dir.resolve("_built")), "UTF-8")
      == fp5)
  }

  test("a build that throws leaves no marker; the next call rebuilds") {
    val r = root()
    val n = new AtomicInteger()
    val boom = intercept[IllegalStateException] {
      Artifacts.cached(r, "a", "1:2") { dir =>
        counting(n)(dir); throw new IllegalStateException("crash")
      }
    }
    assert(boom.getMessage == "crash")
    val dir = java.nio.file.Paths.get(r, "a")
    assert(!Files.exists(dir.resolve("_built")))
    Artifacts.cached(r, "a", "1:2")(counting(n))
    assert(n.get == 2)
    assert(Files.exists(dir.resolve("_built")))
  }

  test("two threads on one cold key run the build exactly once") {
    val r = root()
    val n = new AtomicInteger()
    def slow(dir: Path): Unit = { Thread.sleep(300); counting(n)(dir) }
    val calls = Seq.fill(2)(Future(Artifacts.cached(r, "a", "1:2")(slow)))
    val dirs = Await.result(Future.sequence(calls), 30.seconds)
    assert(dirs.distinct.size == 1)
    assert(n.get == 1, s"concurrent callers built ${n.get} times")
  }
}
