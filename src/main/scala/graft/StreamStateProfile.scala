package graft

/** State-store profile of every streaming replay: per-query rows held,
  * rows evicted, memory, and commit time from
  * `StreamingQueryProgress.stateOperators` — the ground truth for "the
  * streaming bench tail is state machinery, not data volume".
  *
  * Usage: `sbt "runMain graft.StreamStateProfile [sfDir]"`; prints one
  * `[state]` line per (query, batch, operator) plus a per-query total,
  * recorded in PERF.md.
  */
object StreamStateProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.api.Engine.session("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")

    graft.streaming.StreamOps.replayPlans(spark, sfDir)
      .foreach { case (name, plan, mode) =>
        val t0 = System.nanoTime()
        val q = plan.writeStream
          .format("memory").queryName(s"prof_$name").outputMode(mode)
          .start()
        try q.processAllAvailable() finally q.stop()
        val wall = (System.nanoTime() - t0) / 1e9
        val sos = q.recentProgress.toSeq.flatMap(p =>
          p.stateOperators.toSeq.map(p.batchId -> _))
        sos.foreach { case (batch, so) =>
          println(f"[state] $name%-20s batch=$batch op=${so.operatorName} " +
            f"rows=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
            f"removed=${so.numRowsRemoved} commitMs=${so.commitTimeMs} " +
            f"memMB=${so.memoryUsedBytes / 1e6}%.1f")
        }
        val commitMs = sos.map(_._2.commitTimeMs).sum
        val maxRows = (0L +: sos.map(_._2.numRowsTotal)).max
        println(f"[state] $name%-20s TOTAL wall=$wall%6.2fs " +
          f"stateCommitMs=$commitMs maxStateRows=$maxRows " +
          f"ops=${sos.map(_._2.operatorName).distinct.mkString("+")}")
      }
    spark.stop()
  }
}
