package graft.operators

import graft.SparkSpec

/** Determinism and layout oracles for the training-shard shuffle. */
class ShardsSpec extends SparkSpec {

  import spark.implicits._

  private def docs(n: Int) =
    (0L until n.toLong).map(i => (i, s"doc$i")).toDF("doc_id", "text")

  test("assignment is a pure function of (salt, id)") {
    def layout(salt: String) =
      Shards.assign(docs(200), "doc_id", 8, salt)
        .select("doc_id", "shard", "shuffle_key")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2))))
        .toMap
    assert(layout("graft") == layout("graft"), "re-runs must agree")
    val a = layout("graft"); val b = layout("other_salt")
    assert((0L until 200L).exists(id => a(id) != b(id)),
      "different salts must give an independent layout")
  }

  test("corpus growth never moves or reorders surviving docs") {
    def layout(n: Int) =
      Shards.assign(docs(n), "doc_id", 8)
        .select("doc_id", "shard", "shuffle_key")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2))))
        .toMap
    val small = layout(100); val big = layout(300)
    small.foreach { case (id, sk) =>
      assert(big(id) == sk, s"doc $id migrated when the corpus grew")
    }
  }

  test("every shard is populated and roughly balanced") {
    val counts = Shards.assign(docs(800), "doc_id", 8)
      .groupBy("shard").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0 until 8).toSet, s"empty shards: $counts")
    // 800 docs over 8 shards: md5 uniformity keeps each within ~3σ≈±30
    assert(counts.values.forall(c => c > 60 && c < 140),
      s"pathological skew: $counts")
  }

  test("write materializes per-shard dirs in shuffle-key order") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shards").toString
    Shards.write(docs(400), "doc_id", 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 400, "round-trip must keep every doc")
    (0 until 4).foreach { s =>
      val keys = spark.read.parquet(s"$dir/shard=$s")
        .select("shuffle_key").collect().map(_.getString(0))
      assert(keys.nonEmpty && keys.sameElements(keys.sorted),
        s"shard $s not in shuffle-key order")
    }
  }
}
