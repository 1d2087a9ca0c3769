package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Reference-parity queries: the riff envelope + wire format exercised as
  * Catalyst expressions over real tables (SURVEY §2A R2/R6, §2B E28/E40).
  *
  * The roundtrip query is the driver-facing proof of byte compatibility:
  * encode→decode must be the identity, so the oracle is plain SQL over the
  * source table — any wire-format bug breaks the hash match.
  */
object RiffQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Build a riff envelope per document, encode to the wire format, decode
    * back, and project the fields (R2/R6 parity). */
  val riffRoundtrip: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"),
        map(
          lit("lang"), array(col("lang")),
          lit("source"), array(col("source"))).as("headers"),
        col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        GraftFunctions.riffDecode(
          GraftFunctions.riffEncode(col("headers"), col("payload"))).as("msg"))
      .select(col("doc_id"),
        col("msg.payload").cast("string").as("payload_text"),
        element_at(col("msg.headers"), "lang").getItem(0).as("h_lang"),
        element_at(col("msg.headers"), "source").getItem(0).as("h_source"))
  }

  /** Map functions over the decoded envelope (E28): map_keys /
    * map_values / element_at / map_contains_key. */
  val mapFuncs: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"),
        GraftFunctions.riffDecode(GraftFunctions.riffEncode(
          map(lit("lang"), array(col("lang")),
            lit("source"), array(col("source"))),
          col("text").cast("binary"))).as("msg"))
      .select(col("doc_id"),
        concat_ws(",", sort_array(map_keys(col("msg.headers"))))
          .as("header_names"),
        size(map_values(col("msg.headers"))).as("n_headers"),
        map_contains_key(col("msg.headers"), "lang").as("has_lang"),
        element_at(col("msg.headers"), "source").getItem(0).as("src"))
  }
}
