package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for a named list of queries into
  * per-query files — the optimization-round evidence trail
  * (plans/r17/<query>_before.txt / _after.txt).
  *
  * Usage:
  *   SPARK_GRAFT_PLAN_QUERIES=q_a,q_b SPARK_GRAFT_PLAN_SUFFIX=before \
  *     sbt "runMain graft.PlanSnap"
  * Optional: SPARK_GRAFT_PLAN_DIR (default plans/r17),
  * SPARK_GRAFT_SF_DIR (default sf0.01 — plans are shape evidence, the
  * shapes are SF-independent).
  *
  * Streaming-replay gates (q_stream_*) are excluded by construction:
  * building their DataFrame RUNS the stream; their evidence is the
  * per-batch phase prints plus the code. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r17")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val names = sys.env.getOrElse("SPARK_GRAFT_PLAN_QUERIES", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.api.Engine.session("local[8]", 8)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[plansnap] unknown query: $name")
        case Some(fn) if name.startsWith("q_stream_") =>
          System.err.println(s"[plansnap] $name is a streaming replay " +
            "— constructing it runs it; skipped")
        case Some(fn) =>
          try {
            val df = fn(spark, sf)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            System.err.println(s"[plansnap] wrote $name ($suffix)")
          } catch { case e: Throwable =>
            System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
