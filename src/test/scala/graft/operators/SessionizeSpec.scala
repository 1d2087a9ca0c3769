package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val log = Seq(
    // user 1: two sessions split by a 2-hour gap
    (1L, ts("2024-01-01 10:00:00"), 100L),
    (1L, ts("2024-01-01 10:10:00"), 101L),
    (1L, ts("2024-01-01 12:30:00"), 102L),
    (1L, ts("2024-01-01 12:31:00"), 103L),
    // user 2: a single event is its own session
    (2L, ts("2024-01-01 09:00:00"), 200L),
    // user 3: gap EXACTLY at the threshold stays one session (> not >=)
    (3L, ts("2024-01-01 08:00:00"), 300L),
    (3L, ts("2024-01-01 08:30:00"), 301L)
  ).toDF("user_id", "ts", "event_id")

  test("gap splitting, boundary inclusivity, singleton sessions") {
    val out = Sessionize.sessions(log, "user_id", "ts", "event_id",
        gapSec = 1800)
      .orderBy("user_id", "session_seq")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 1L, 2L), (1L, 2L, 2L), (2L, 1L, 1L), (3L, 1L, 2L)))
    // durations: session boundaries come from the right events
    val d = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    assert(d((1L, 1L)) === 600L)
    assert(d((1L, 2L)) === 60L)
    assert(d((2L, 1L)) === 0L)
    assert(d((3L, 1L)) === 1800L)
  }

  test("timestamp ties break deterministically by the id column") {
    val tied = Seq(
      (7L, ts("2024-01-01 10:00:00"), 2L),
      (7L, ts("2024-01-01 10:00:00"), 1L),
      (7L, ts("2024-01-01 11:00:00"), 3L)
    ).toDF("user_id", "ts", "event_id")
    val assigned = Sessionize.assign(tied, "user_id", "ts", "event_id", 1800)
      .orderBy("event_id").select("event_id", "session_seq").as[(Long, Long)]
      .collect()
    // both tied events land in session 1; the 11:00 event opens session 2
    assert(assigned === Seq((1L, 1L), (2L, 1L), (3L, 2L)))
  }

  test("the whole operator costs exactly one shuffle") {
    // AQE off so the static plan is final and collect() sees the exchanges
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Sessionize.sessions(log, "user_id", "ts", "event_id", 1800)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size === 1,
        s"expected 1 exchange (windows + rollup share user_id " +
          s"clustering):\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }
}
