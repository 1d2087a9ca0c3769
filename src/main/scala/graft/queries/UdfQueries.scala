package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** User-defined function surface (SURVEY §2B E41, §2C).
  *
  * The reference's only extension point is the remote gRPC function (R4,
  * handled by [[graft.streaming.Bridge]]); a Spark-native engine also owes
  * users the in-process extension tiers:
  *   - scalar `udf()` (here: a deliberately non-expressible Scala closure),
  *   - typed `Aggregator` registered as a SQL UDAF,
  *   - generator/UDTF-style expansion (covered by explode in E39 queries).
  *
  * Both are oracle-matched: the UDF bodies are pure arithmetic the oracle
  * reproduces in SQL, so the hash check exercises the registration and
  * serde path end-to-end.
  */
object UdfQueries {

  type Q = (SparkSession, String) => DataFrame

  private val band = udf((price: Double, prio: String) => {
    val base = math.round(price / 1000.0) * 1000L
    if (prio.startsWith("1")) base + 1 else base
  })

  // once-per-session SQL registration, asked of the session itself:
  // re-registering per query construction floods the bench tail with
  // "replaced a previously registered function" WARNs
  private def registerOnce(s: SparkSession): Unit =
    if (!s.catalog.functionExists("order_band")) {
      s.udf.register("order_band", band)
      s.udf.register("geo_mean", udaf(new GeoMean, Encoders.scalaDouble))
    }

  /** Scalar Scala UDF (E41): order-value banding with a closure. */
  val udfScalar: Q = (s, d) => {
    registerOnce(s)
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        band(col("o_totalprice"), col("o_orderpriority")).as("band"))
  }

  /** Geometric mean over positive doubles. */
  class GeoMean extends Aggregator[Double, (Double, Long), Double] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(b: (Double, Long), a: Double): (Double, Long) =
      (b._1 + math.log(a), b._2 + 1)
    override def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (Double, Long)): Double =
      if (r._2 == 0) 0.0 else math.exp(r._1 / r._2)
    override def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Typed Aggregator registered as SQL UDAF (E41): geometric mean of
    * order prices per priority. Map-side partial aggregation works like
    * any built-in agg — the buffer is (logsum, count). */
  val udafGeoMean: Q = (s, d) => {
    registerOnce(s)
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(round(expr("geo_mean(o_totalprice)"), 4).as("gm_price"),
        count(lit(1)).as("n"))
  }
}
