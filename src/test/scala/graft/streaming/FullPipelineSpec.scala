package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.UppercaseFunction
import graft.model.RiffMessage
import graft.serde.RiffWire

/** The reference's whole exactly-once dataflow in one drill: framed
  * messages → riff decode → function → riff encode → idempotent sink,
  * across a checkpoint restart (R1–R9 composed; SURVEY §3.2/§3.3). */
class FullPipelineSpec extends SparkSpec {

  private def frame(text: String) = RiffWire.encode(
    RiffMessage(Map("Content-Type" -> Seq("text/plain")),
      text.getBytes(StandardCharsets.UTF_8)))

  test("bridge + EosSink survive restart with exactly-once payloads") {
    import spark.implicits._
    val in = Files.createTempDirectory("fp_in").toString
    val ckpt = Files.createTempDirectory("fp_ckpt").toString
    val out = Files.createTempDirectory("fp_out").toString
    val sink = new EosSink(out)
    val schema = StructType(Seq(StructField("value", BinaryType)))

    def start() = {
      val framed = spark.readStream.schema(schema).parquet(in)
      Bridge.transform(spark, framed, UppercaseFunction)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.write _)
        .start()
    }

    (0 until 40).map(i => Tuple1(frame(s"msg$i"))).toDF("value")
      .coalesce(1).write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    (40 until 70).map(i => Tuple1(frame(s"msg$i"))).toDF("value")
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val dirs = Files.list(java.nio.file.Paths.get(out)).toArray
      .map(_.toString).filter(_.contains("/batch_"))
    val payloads = spark.read.parquet(dirs: _*)
      .select("value").collect()
      .map(r => new String(
        RiffWire.decode(r.getAs[Array[Byte]](0)).payload,
        StandardCharsets.UTF_8))
    assert(payloads.length === 70, "no loss, no dup across restart")
    assert(payloads.toSet === (0 until 70).map(i => s"MSG$i").toSet,
      "payloads uppercased through the function seam")
  }
}
