package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, MessageFunction}
import graft.model.RiffMessage

/** The reference's entire dataflow, re-expressed as one Structured
  * Streaming pipeline (SURVEY §2A R1–R9, §3.2):
  *
  * {{{
  * kafka/file/memory source (value: binary)      // R1
  *   → riff_decode(value)                        // R2
  *   → project envelope                          // R3
  *   → mapPartitions(function)                   // R4 (gRPC seam)
  *   → riff_encode(headers, payload)             // R5/R6
  *   → sink (kafka writeStream / EosSink)        // R7
  * }}}
  *
  * The transform stage is the only imperative hop: `mapPartitions` over a
  * typed `Dataset[RiffMessage]` so a [[MessageFunction]] holds one channel
  * per partition-task — the reference's connection-per-pipeline, multiplied
  * across executors. Everything before/after is declarative and codegen'd.
  */
object Bridge {

  /** Core transform: framed binary values in, framed binary values out.
    * Works identically on batch and streaming DataFrames.
    *
    * `tap` is the reference's debug tap (R8, `records.log()` at
    * StreamsApplication.java:147) as a Spark `Observation`: record counts
    * and payload bytes are collected as side-channel metrics without a
    * second pass over the data. */
  def transform(spark: SparkSession, framed: DataFrame,
      fn: MessageFunction,
      tap: Option[org.apache.spark.sql.Observation] = None,
      tapName: Option[String] = None): DataFrame = {
    import spark.implicits._
    val tapExprs = Seq(count(lit(1)).as("n_records"),
      sum(octet_length(col("value"))).as("n_bytes"))
    // batch taps use an Observation handle; streaming taps must be named
    // (metrics arrive per microbatch via StreamingQueryProgress)
    val tapped = (tap, tapName) match {
      case (Some(o), _) =>
        framed.observe(o, tapExprs.head, tapExprs.tail: _*)
      case (_, Some(n)) =>
        framed.observe(n, tapExprs.head, tapExprs.tail: _*)
      case _ => framed
    }
    val envelopes: Dataset[RiffMessage] = tapped
      .select(GraftFunctions.riffDecode(col("value")).as("msg"))
      .select(col("msg.headers").as("headers"), col("msg.payload").as("payload"))
      .as[RiffMessage]
    val transformed = envelopes.mapPartitions(it => fn(it))
    transformed
      .select(
        lit(null).cast("binary").as("key"), // reference produces null keys
        GraftFunctions.riffEncode(col("headers"), col("payload")).as("value"))
  }

  /** Kafka-to-Kafka wiring exactly as the reference deploys it
    * (topic `uppercase` → function → topic `replies`). Requires the Kafka
    * connector on the classpath at deployment; the transform itself is
    * covered by MemoryStream tests. */
  def kafkaPipeline(spark: SparkSession, bootstrap: String,
      fn: MessageFunction, checkpoint: String,
      inTopic: String = "uppercase", outTopic: String = "replies")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val source = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", inTopic)
      .option("startingOffsets", "earliest")  // reference uses a fresh group
      .option("kafka.isolation.level", "read_committed") // R1 parity
      .load()
    transform(spark, source, fn).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", outTopic)
      .option("checkpointLocation", checkpoint)
  }
}
