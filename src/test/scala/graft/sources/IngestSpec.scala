package graft.sources

import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec

/** Lane-routing oracles for the quarantine JSONL parser. */
class IngestSpec extends SparkSpec {

  import spark.implicits._

  private val schema = new StructType()
    .add("id", LongType).add("name", StringType)

  private def parse(lines: (Long, String)*) =
    Ingest.parseJsonl(lines.toDF("row", "line"), "line", schema)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          Option(r.getString(4))))).toMap

  test("clean parses, truncated quarantines with raw payload intact") {
    val out = parse(
      1L -> """{"id":7,"name":"ok"}""",
      2L -> """{"id":8,"na""")
    assert(out(1L) == ((true, None, Some(7L), Some("ok"))))
    assert(out(2L) == ((false, Some("""{"id":8,"na"""), None, None)),
      "quarantined row must keep its exact raw line for replay")
  }

  test("missing fields are nulls, not quarantine — schema-on-read") {
    val out = parse(3L -> """{"id":9}""")
    assert(out(3L) == ((true, None, Some(9L), None)))
  }

  test("never throws on garbage; _corrupt name clash fails loudly") {
    val out = parse(4L -> "not json at all", 5L -> "")
    assert(!out(4L)._1 && out(4L)._2.contains("not json at all"))
    intercept[IllegalArgumentException] {
      Ingest.parseJsonl(Seq((1L, "{}")).toDF("row", "line"), "line",
        new StructType().add("_corrupt", StringType))
    }
  }
}
