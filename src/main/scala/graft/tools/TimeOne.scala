package graft.tools

/** Ad-hoc single-query timer: `runMain graft.tools.TimeOne <name> [sfDir]
  * [reps]` — same session posture as Bench, prints per-rep seconds so plan
  * changes can be measured without a full bench sweep. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.api.Engine.session("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[timeone] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
