package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task profiler — the optimization-round "measure
  * first" tool for the long-tail question (r17 verdict #1): a 0.3–0.6 s
  * gate's wall time is mostly per-JOB scheduling latency, so the lever is
  * the number of Spark actions/query-stages a gate launches, not its task
  * work. Runs each selected query exactly like the bench (noop sink,
  * sf0.001 warmup rep first so codegen/JIT is out of the measurement) and
  * prints: jobs, stages, tasks, summed task time, wall seconds.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_BENCH_ONLY=q_a,q_b sbt "runMain graft.JobProfile"
  * Unset allowlist = full registry. Output is one line per query plus a
  * jobs-descending summary; diagnostic only — never part of the bench
  * contract or its artifacts. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.api.Engine.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.adaptive.enabled",
        (!sys.env.get("SPARK_GRAFT_PROFILE_AQE").contains("0")).toString)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_PROFILE_CODEGEN_CACHE", "100"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_VERBOSE").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val cs = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("")
          System.err.println(s"[jobprofile]   job ${j.jobId} " +
            s"stages=${j.stageInfos.size} " +
            s"tasks=${j.stageInfos.map(_.numTasks).sum} cs=$cs $desc")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (verbose) {
          val i = s.stageInfo
          val m = Option(i.taskMetrics)
          val sec = m.map(_.executorRunTime / 1e3).getOrElse(0.0)
          if (sec >= 0.2) {
            val gc = m.map(_.jvmGCTime / 1e3).getOrElse(0.0)
            val de = m.map(_.executorDeserializeTime / 1e3).getOrElse(0.0)
            val cpu = m.map(_.executorCpuTime / 1e9).getOrElse(0.0)
            val sr = m.map(_.shuffleReadMetrics.fetchWaitTime / 1e3)
              .getOrElse(0.0)
            System.err.println(f"[jobprofile]   stage ${i.stageId}%4d " +
              f"tasks=${i.numTasks}%4d run=$sec%6.2f cpu=$cpu%6.2f " +
              f"gc=$gc%5.2f deser=$de%5.2f fetchWait=$sr%5.2f")
          }
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }

    case class Prof(name: String, jobs: Int, stages: Int, tasks: Int,
      taskSec: Double, wall: Double)
    val rows = selected.flatMap { case (name, fn) =>
      try {
        // settle listener events from the previous query before snapshotting
        Thread.sleep(150) // let listener events settle (bus is private[spark])
        val (j0, s0, t0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - w0) / 1e9
        spark.catalog.clearCache()
        Thread.sleep(150) // let listener events settle (bus is private[spark])
        Some(Prof(name, jobs.get - j0, stages.get - s0, tasks.get - t0,
          (taskMs.get - m0) / 1e3, wall))
      } catch { case e: Throwable =>
        System.err.println(s"[jobprofile] $name failed: ${e.getMessage}")
        None
      }
    }

    System.err.println(f"[jobprofile] ${"query"}%-32s ${"jobs"}%5s " +
      f"${"stages"}%7s ${"tasks"}%6s ${"taskSec"}%8s ${"wall"}%7s")
    rows.sortBy(r => (-r.jobs, r.name)).foreach { r =>
      System.err.println(f"[jobprofile] ${r.name}%-32s ${r.jobs}%5d " +
        f"${r.stages}%7d ${r.tasks}%6d ${r.taskSec}%8.2f ${r.wall}%7.2f")
    }
    val totJ = rows.map(_.jobs).sum
    val totW = rows.map(_.wall).sum
    System.err.println(f"[jobprofile] TOTAL ${rows.size} queries, " +
      f"$totJ jobs, wall ${totW}%.1f s")
    spark.stop()
  }
}
