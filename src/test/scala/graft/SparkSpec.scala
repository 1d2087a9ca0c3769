package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide `Engine` session, small
  * shuffle. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.api.Engine.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
