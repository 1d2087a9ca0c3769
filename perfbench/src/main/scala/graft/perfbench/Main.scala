package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload in one JVM. `run.py` generates the inputs,
  * starts this with `key=value` arguments, and turns the JSON written to
  * `out` into the reported metrics after checking the outputs.
  *
  * Every workload sets up `setupReps` times (a fresh session from
  * `graft.api.Engine.session` plus the workload's own set-up) and keeps
  * the last one for the measured region. Output checks run after the
  * measured region. With `trace=1` the listeners and spans are on and
  * the workload also reports its per-layer counters. */
object Main {

  final class Ctx(val args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    val cpus: Int = int("cpus")
    val traced: Boolean = apply("trace") == "1"
    val inputs: Path = Paths.get(apply("inputs"))
    val work: Path = Paths.get(apply("work"))
    val tracer = new Tracer(s"${apply("workload")}-seed${apply("seed")}")
    val result = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var spark: SparkSession = _

    /** Builds a fresh session the documented way, registering the
      * listeners on it; returns the session build time. */
    def newSession(master: String = s"local[$cpus]", shuffle: Int = cpus): Double = {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span("api.session_build") {
        graft.api.Engine.session(master, shuffle)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLogLevel("ERROR")
      tracer.attach(spark)
      dt
    }

    /** Runs `unit` as one attempt; an exception is counted and logged,
      * and the workload carries on. */
    def attempt[T](what: String, n: Long = 1)(unit: => T): Option[T] = {
      attempted += n
      try Some(unit)
      catch { case e: Throwable =>
        failed += n
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
      }
    }

    def fail(what: String, n: Long = 1): Unit = {
      failed += n
      errors += what.take(400)
    }
  }

  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    Files.createDirectories(ctx.work)
    try {
      ctx("workload") match {
        case "riff_bridge" => RiffBridge.run(ctx)
        case "corpus_cycle" => CorpusCycle.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      if (ctx.traced) SerdeProbe.run(ctx)
    } finally {
      if (ctx.spark != null) ctx.spark.stop()
    }
    ctx.result("attempted") = ctx.attempted
    ctx.result("failed") = ctx.failed
    ctx.result("errors") = ctx.errors.toList
    if (ctx.traced) {
      ctx.result("layers") = ctx.layers.toMap
      ctx.result("spans") = ctx.tracer.allSpans.map(s => Map("id" -> s.id,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "run_id" -> s.runId))
    }
    Files.writeString(Paths.get(ctx("out")), Json.write(ctx.result.toMap))
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr (the JVM log), with the time since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - T0) / 1e9}%7.1f s] $msg")

  private val T0 = System.nanoTime()

  /** Tracing overhead of `pass`, which has run before (warm): untraced
    * and traced runs alternating twice; traced minus untraced mean
    * seconds. */
  def traceOverhead(ctx: Ctx)(pass: => Unit): Unit = {
    val secs = Seq(false, true, false, true).map { on =>
      ctx.tracer.enabled = on
      val t0 = System.nanoTime()
      try pass finally ctx.tracer.enabled = false
      (on, seconds(t0))
    }
    def mean(on: Boolean) = secs.filter(_._1 == on).map(_._2).sum / 2
    ctx.layers("trace.overhead_s") = mean(true) - mean(false)
  }

  /** Counter deltas of a phase, as per-layer metrics divided by `per`
    * (the number of queries or batches in the phase). */
  def sparkLayers(ctx: Ctx, before: Map[String, Double], wallS: Double, per: Double): Unit = {
    ctx.tracer.drain(ctx.spark)
    val after = ctx.tracer.snapshot()
    def d(k: String) = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    for (k <- Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
        "spark.task_cpu_s", "spark.task_deser_s", "spark.gc_s",
        "spark.shuffle_write_bytes", "spark.shuffle_fetch_wait_s", "spark.spill_bytes",
        "sql.files_written", "sql.bytes_written", "catalyst.plan_ms"))
      ctx.layers(k) = d(k) / per
    ctx.layers("catalyst.exchanges_per_query") =
      d("catalyst.exchanges") / math.max(1.0, d("catalyst.queries"))
    ctx.layers("spark.job_busy_share") = if (wallS > 0) d("spark.job_busy_s") / wallS else 0.0
  }
}

/** The program leftovers a long-lived session accumulates: temp dirs of
  * the streamed corpus runs and cached blocks. Measured right after a
  * workload's measured region and checks, then removed so later phases
  * and runs start clean. */
object Hygiene {
  def measureAndClean(ctx: Main.Ctx): Unit = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val left = if (!Files.isDirectory(tmp)) Nil
      else Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_")).toList
    def bytes(p: Path): Long = {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
    val blocks = if (ctx.spark == null) 0
      else ctx.spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    ctx.layers("sources.tmp_bytes_left") = left.map(bytes).sum.toDouble
    ctx.layers("sources.cached_blocks_left") = blocks.toDouble
    if (ctx.spark != null) {
      ctx.spark.catalog.clearCache()
      ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    }
    left.foreach(delete)
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally w.close()
  }
}

/** Per-record cost of the serde and function layers, timed on frames
  * of the bridge's own input through their public entry points
  * (`RiffWire.decode`, `RiffWire.encode`, `UppercaseFunction.apply`). */
object SerdeProbe {
  def run(ctx: Main.Ctx): Unit = {
    val frames = RiffBridge.readFrames(ctx.inputs.resolve("probe.bin"))
    val n = frames.size.toDouble
    def perRecordNs(name: String)(body: => Unit): Double =
      Main.median((1 to 7).map { _ =>
        val t0 = System.nanoTime(); ctx.tracer.span(name)(body); (System.nanoTime() - t0) / n
      })
    var msgs: Array[graft.model.RiffMessage] = null
    ctx.layers("serde.decode_ns_per_record") = perRecordNs("serde.decode") {
      msgs = frames.map(graft.serde.RiffWire.decode)
    }
    var sink = 0L
    ctx.layers("serde.encode_ns_per_record") = perRecordNs("serde.encode") {
      msgs.foreach(m => sink += graft.serde.RiffWire.encode(m).length)
    }
    ctx.layers("functions.uppercase_ns_per_record") = perRecordNs("functions.uppercase") {
      graft.functions.UppercaseFunction(msgs.iterator).foreach(m => sink += m.payload.length)
    }
    if (sink == 42L) println("") // keeps the loops observable to the JIT
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
