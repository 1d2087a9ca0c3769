package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.api.Engine.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local iteration aid: SPARK_GRAFT_ONLY=<regex> limits the dump to
    // matching query names (the driver never sets it — all queries run)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // the driver's pandas canonicalizer crashes (not fails) on
        // non-scalar columns — reject them here, where the failure is
        // attributed to the query instead of zeroing the whole compare
        if (SparkEntry.oracleSql.contains(name)) {
          import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
          val bad = df.schema.fields.filter(f => f.dataType match {
            case _: ArrayType | _: MapType | _: StructType => true
            case _ => false
          })
          require(bad.isEmpty, s"oracle-gated query emits non-scalar " +
            s"columns ${bad.map(f => s"${f.name}:${f.dataType.simpleString}")
              .mkString(",")} — stringify before shipping")
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        spark.catalog.clearCache() // bound operator-cache growth
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
