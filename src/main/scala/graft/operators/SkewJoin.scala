package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted join for skewed keys (SURVEY §7.4 hard-part 5; north-star
  * "salting for skew").
  *
  * AQE's skew-join splitting handles sort-merge skew after the fact;
  * salting fixes it structurally when one side has pathological hot keys
  * (the "null key" / "default user" / boilerplate-document problem at
  * 100 TB): the large side sprays each hot key across `saltFactor`
  * sub-keys, the small side replicates each row `saltFactor` times, and
  * the join key becomes (key, salt). Hot partitions shrink by the salt
  * factor at the cost of replicating the small side — the standard
  * trade.
  */
object SkewJoin {

  /** Equi join `large ⋈ small` on `key`, salted.
    *
    * @param saltFactor number of sub-partitions per key (hot-key fanout)
    */
  def saltedEquiJoin(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int = 16, joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0)
    // right/full would emit saltFactor copies of unmatched small rows
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType),
      s"salting replicates the small side; '$joinType' joins would " +
        "duplicate its unmatched rows")
    // deterministic spray: hash of the whole large row modulo factor
    // (monotonically_increasing_id would break retry determinism)
    val sprayed = large.withColumn("__salt",
      pmod(xxhash64(struct(large.columns.toIndexedSeq.map(col): _*)),
        lit(saltFactor)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    sprayed.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
