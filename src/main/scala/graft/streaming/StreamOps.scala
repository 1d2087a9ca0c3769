package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operators (SURVEY §2B E29–E33).
  *
  * Replay technique (SURVEY §5.2 item 4): the `events` parquet is re-read
  * through the file streaming source, the transform runs as a genuine
  * streaming query (stateful operators, watermarks, memory sink), and the
  * oracle is the equivalent batch computation — the Dataflow-model
  * batch/stream equivalence. One parquet file ⇒ one microbatch, so the
  * replay is deterministic.
  *
  * Scale posture: all state is keyed (window/session/user/dedup key) and
  * lives in the state store, partitioned by the shuffle; watermarks bound
  * state size at 100 TB/day rates — every operator here declares one even
  * when the single-batch replay doesn't strictly need it.
  */
object StreamOps {

  private val sinkId = new AtomicInteger(0)

  /** Materialize several INDEPENDENT actions concurrently (r17
    * optimization, guide §2.6 "overlap independent jobs"): Spark's
    * scheduler happily runs several jobs at once inside one
    * application — actions are only sequential because driver code
    * calls them sequentially. The k frame checkpoints of one
    * micro-batch are independent plans over disjoint output dirs
    * whose task sets each occupy a fraction of local[32], so running
    * them from k driver threads back-fills each job's scheduling/
    * commit tail with the next job's tasks instead of paying k
    * sequential job latencies. FIFO scheduling (the default) gives
    * exactly the desired back-fill. Failures propagate: the first
    * throwable rethrows after every task has finished (no partial
    * frame set can be silently committed). */
  private[graft] def runConcurrently(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_.apply())
    else {
      // guide §2.6 recommends a small bounded pool — enough in-flight
      // jobs to back-fill each other's tails, not so many they fight
      // for executors (or, here, driver threads per micro-batch)
      val maxInFlight = 6
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.Semaphore(maxInFlight)
      val threads = tasks.map { t =>
        val th = new Thread(() => {
          gate.acquire()
          try t() catch { case e: Throwable => errs.add(e); () }
          finally gate.release()
        })
        th.setDaemon(true)
        th.start()
        th
      }
      threads.foreach(_.join())
      if (!errs.isEmpty) {
        // keep every failure visible: first throwable carries the rest
        val it = errs.iterator()
        val head = it.next()
        while (it.hasNext) head.addSuppressed(it.next())
        throw head
      }
    }

  /** Per-batch state-snapshot write, by default with a SIZE-ADAPTIVE
    * file count (r18, guide §6 "coalesce on write"): the map-side
    * rewrite plans inherit their INPUT frame's file layout, so each
    * batch's snapshot carries the previous snapshot's files plus its
    * union arms — file counts GROW per batch (measured: the amend
    * gate's s2ids 33 → 49 → 57 files over three batches) and every
    * later frame reference pays one scan task per file (~5 900
    * tasks/gate, dominated by per-task deserialize of the growing
    * plans). An AQE REBALANCE before the write packs the output to
    * advisory-sized partitions — ONE file at gate scale, target-sized
    * files at corpus scale — so frame-scan cost stays ∝ bytes, never ∝
    * batch count. Only INSERTED content compounds the count: a
    * pure-delete rewrite sheds rows (measured 1–9 files/frame over the
    * retract replay), so `rebalance = false` skips the pure-overhead
    * shuffle there (r18: plain writes 6.1–6.5 s vs 7.4–8.6 s on
    * q_stream_retract_full). This is the GATE-scale full-snapshot
    * writer only; the 100 TB regime flips to [[partitionedUpsert]]
    * (see the frame-checkpoint posture note on [[streamCrudRun]]),
    * whose layout is handled separately. */
  private def writeSnapshot(df: DataFrame, path: String,
      rebalance: Boolean = true): Unit =
    (if (rebalance) df.hint("rebalance") else df)
      .write.mode("overwrite").parquet(path)

  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Raw parquet schema of events. The stored `ts` encoding varies by
    * driver round (INT64 nanos ⇒ LongType under `nanosAsLong`, or
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false ⇒ TIMESTAMP_NTZ), so
    * the streaming source declares whatever the file actually holds —
    * one batch footer read — and [[graft.sources.Tables.normalizeTs]]
    * converts to session-zone `TimestampType` either way. */
  private def rawSchema(spark: SparkSession, dir: String): StructType = {
    val tsType = spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** The events table as an unbounded stream with microsecond event time. */
  def replayEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.normalizeTs(spark.readStream
      .schema(rawSchema(spark, dir))
      // the file stream source wants a directory; glob-filter to the one
      // table so sibling parquets with other schemas stay invisible
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** Run a streaming transform of the replayed events to completion and
    * return the materialized result.
    *
    * Memory-sink caveat (driver-harness contract, not production
    * posture): the driver calls each query as `(SparkSession, dir) =>
    * DataFrame`, so results materialize through a memory sink on the
    * driver — acceptable here because every replay emits a small
    * aggregate. A production deployment points the same plan at a real
    * sink (`writeStream.format("parquet"/"kafka")` or
    * [[EosSink]]-wrapped `foreachBatch`); nothing in the plans depends
    * on the memory sink. */
  def runToMemory(spark: SparkSession, out: DataFrame,
      mode: OutputMode): DataFrame = {
    val name = s"graft_stream_${sinkId.incrementAndGet()}"
    // Replay-harness state sizing: a stateful operator commits EVERY
    // state-store partition per microbatch (a stream-stream join holds
    // four stores per partition), and the commit cost is per-store
    // constant — at 32 shuffle partitions the single-batch replay pays
    // 128 commits for megabytes of state. Cap the replay's state
    // partitioning at 4 — the SAME posture the driver's correctness
    // harness runs these plans at: identical results — the gates hash the
    // OUTPUT, which never depends on partition count — and the
    // streaming conf is restored right after start() so batch plans in
    // the same session keep the session default. A production
    // deployment sizes this to its cluster, not to a replay.
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val q =
      try {
        spark.conf.set(key, math.min(prev.toInt, 4).toString)
        out.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .start()
      } finally spark.conf.set(key, prev)
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  /** Tumbling 1 h window aggregation with watermark (E29). */
  def tumblingPlan(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("total"))

  def tumblingAgg(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, tumblingPlan(spark, dir), OutputMode.Complete())

  /** Tumbling-window quantile sketch (round 5): the LogHist mergeable
    * quantile aggregate riding the SAME windowed-state machinery as any
    * built-in agg — a TypedImperativeAggregate's buffer serializes into
    * the state store, so per-window price quantiles stream with
    * watermark eviction and no custom state code. The sketch's integer
    * bucket recipe keeps the batch oracle exact (cell-for-cell DuckDB
    * twin, as in the batch gate). */
  def quantilePlan(spark: SparkSession, dir: String): DataFrame = {
    replayEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.GraftFunctions.histQuantiles(
          expr("cast(round(value * 100) as bigint)"), 6,
          Seq(0.5, 0.9)).as("qs"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("qs")(0).as("p50_cents"),
        col("qs")(1).as("p90_cents"))
  }

  def quantileAgg(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, quantilePlan(spark, dir), OutputMode.Complete())

  /** Misra–Gries heavy hitters behind windowed streaming state (round
    * 7): the sketch-aggregate tier composing with streaming, same
    * zero-custom-state argument as [[quantilePlan]] — the MG buffer
    * serializes into the state store like any agg buffer. k=16 exceeds
    * the event-type cardinality, so every window is in the sketch's
    * exact order-independent regime and the gate is a plain per-window
    * count oracle. */
  def heavyHittersPlan(spark: SparkSession, dir: String): DataFrame = {
    replayEvents(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.GraftFunctions.misraGries(
        col("event_type"), 16).as("hh"))
      .select(col("window.start").as("wstart"), posexplode(col("hh")))
      .select(col("wstart"), col("pos").cast("int").as("rank"),
        col("col.key").as("key"), col("col.count").as("cnt"))
  }

  def heavyHittersAgg(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, heavyHittersPlan(spark, dir), OutputMode.Complete())

  /** Windowed distinct users via the KMV sketch riding streaming state
    * (the q_stream_quantiles / heavy-hitters argument, completing the
    * sketch×streaming matrix: quantiles, frequent items, now DISTINCT):
    * per-day unique users. k=256 exceeds the 150-user universe, so the
    * sketch is in its exact sub-k regime — the estimate IS
    * count(DISTINCT) and the gate hashes against the batch twin (the
    * q_kmv_exact recipe, streamed).
    *
    * State-retention note: the GATE replays a finite log in Complete
    * mode, where the watermark does NOT evict window state — fine for
    * a bounded replay whose whole output is re-emitted, wrong for an
    * unbounded stream. The production form of this plan runs in
    * Append/Update mode, where the 1-day watermark drops each closed
    * window's single KMV buffer (state = one ≤k-entry sketch per
    * open window either way). k = 2048 keeps the sketch pigeonhole-
    * EXACT through sf0.1's 1,500 daily distinct users (r15 — the
    * sf0.1 STRICT sweep caught the old k = 256 leaving the exact
    * regime there; sub-k estimates are exact for ANY k, so sf0.01
    * hashes are unchanged). */
  def streamDistinctPlan(spark: SparkSession, dir: String): DataFrame = {
    replayEvents(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.GraftFunctions
        .kmvDistinct(col("user_id").cast("string"), 2048).as("nd"))
      .select(col("window.start").as("wstart"),
        // exact-regime assert: nd ≥ k ⟺ the estimator engaged (the
        // exact path only returns n < k) — a future SF crossing k
        // fails loudly instead of silently drifting off the oracle
        when(col("nd") >= 2048, raise_error(lit(
          "streamDistinct: KMV sketch saturated (distinct >= k=2048)" +
            " — the pigeonhole-exact precondition no longer holds at" +
            " this SF; raise k")))
          .otherwise(col("nd")).cast("long").as("n_distinct"))
  }

  def streamDistinct(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamDistinctPlan(spark, dir),
      OutputMode.Complete())

  /** Per-day distinct users via the own-HLL registers riding windowed
    * streaming state ([[graft.operators.Hll]]) — the mergeable-sketch
    * argument made literal: registers are `max(rho)`, and max composes
    * with ANY windowed grouping, so the state is one ≤256-row register
    * set per open window and late rows fold in for free. The READ
    * applies [[graft.operators.Hll.estimateFromRegisters]] per window
    * over (windows × buckets) rows — events are never rescanned (the
    * streamDrift read shape). Unlike the KMV tier (exact sub-k gate),
    * this gate hashes the ESTIMATOR itself: registers and the harmonic
    * sum are engine-reproducible integers, so the DuckDB twin rebuilds
    * every window's estimate bit-for-bit. Same Complete-mode
    * state-retention note as [[streamDistinctPlan]]. */
  def streamHllPlan(spark: SparkSession, dir: String): DataFrame = {
    val (bucket, rho) = graft.operators.Hll.bucketRho(col("user_id"))
    replayEvents(spark, dir)
      .filter(col("user_id").isNotNull)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), bucket.as("bucket"))
      .agg(max(rho).cast("int").as("r"))
      .select(col("window.start").as("wstart"), col("bucket"), col("r"))
  }

  def streamHll(spark: SparkSession, dir: String): DataFrame = {
    val regs = runToMemory(spark, streamHllPlan(spark, dir),
      OutputMode.Complete())
    graft.operators.Hll.estimateFromRegisters(regs, Seq("wstart"))
  }

  /** Streaming drift monitor: the per-day value-bucket HISTOGRAM rides
    * windowed streaming state (one count per (window, bucket) — the
    * state is already the drift monitor's input), and the drift READ
    * compares each window's histogram to the FIRST window's via
    * [[graft.operators.Drift.psiFromCounts]] — no event is ever
    * rescanned for the comparison, the whole PSI computation runs over
    * (windows × buckets) rows. The production deployment runs the same
    * read in foreachBatch against a stored baseline profile; same
    * state-retention note as [[streamDistinctPlan]] (the finite-replay
    * gate uses Complete mode; Append/Update evicts closed windows). */
  def streamDriftPlan(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"),
        floor(col("value") / 50.0).cast("long").as("bk"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("wstart"), col("bk"), col("cnt"))

  def streamDrift(spark: SparkSession, dir: String): DataFrame = {
    val wc = runToMemory(spark, streamDriftPlan(spark, dir),
      OutputMode.Complete())
    val first = wc.select(min("wstart").as("__w0"))
    val base = wc.join(broadcast(first), col("wstart") === col("__w0"))
      .select(col("bk"), col("cnt"))
    // the baseline histogram expands per window — (windows × buckets)
    // rows, both tiny by construction
    val aCounts = wc.select("wstart").distinct()
      .crossJoin(broadcast(base))
    graft.operators.Drift.psiFromCounts(aCounts, wc,
      Seq("wstart"), "bk", "cnt")
  }

  /** Sliding 1 h window, 30 min hop (E29). */
  def slidingPlan(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"))
      .select(col("window.start").as("wstart"), col("n"), col("total"))

  def slidingAgg(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, slidingPlan(spark, dir), OutputMode.Complete())

  /** Session windows, 30 min gap, per user (E30). */
  def sessionPlan(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n"), col("total"))

  def sessionAgg(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, sessionPlan(spark, dir), OutputMode.Complete())

  /** Streaming deduplication on (user_id, event_type) (E31). */
  def streamDedupPlan(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      // WithinWatermark variant: plain dropDuplicates without the event
      // time column would keep (user, type) state forever; this evicts
      // keys once the watermark passes them
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")

  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamDedupPlan(spark, dir), OutputMode.Append())

  /** Stream-static join: the unbounded event stream enriched against a
    * static dimension table — the static side is re-planned per
    * microbatch, no state store involved. */
  def streamStaticPlan(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    replayEvents(spark, dir)
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"))
  }

  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamStaticPlan(spark, dir), OutputMode.Complete())

  /** Stream-stream inner join: error events joined to purchase events of
    * the same user within the following hour, both sides watermarked so
    * join state expires. The streaming analogue of the batch range join
    * (E11) — state is keyed by user, bounded by the watermark horizon. */
  def streamStreamPlan(spark: SparkSession, dir: String): DataFrame = {
    val ev = replayEvents(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("u1"), col("ts").as("t1"),
        col("event_id").as("err_id"))
      .withWatermark("t1", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("t2"),
        col("event_id").as("buy_id"))
      .withWatermark("t2", "1 hour")
    errors.join(purchases,
      col("u1") === col("u2")
        && col("t2") >= col("t1")
        && col("t2") <= col("t1") + expr("INTERVAL 1 HOUR"))
      .select(col("err_id"), col("buy_id"), col("u1").as("user_id"))
  }

  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamStreamPlan(spark, dir), OutputMode.Append())

  /** Stream-stream LEFT OUTER join: same keys and time bound as
    * [[streamStreamPlan]], but an error with NO purchase in the
    * following hour still emits (null buy_id) — once the watermark
    * passes the end of its match window and the engine can PROVE no
    * match is coming. Carries `t1` so the caller can reason about which
    * unmatched rows the watermark has definitively resolved. */
  def streamStreamLeftPlan(spark: SparkSession, dir: String): DataFrame = {
    val ev = replayEvents(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("u1"), col("ts").as("t1"),
        col("event_id").as("err_id"))
      .withWatermark("t1", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("t2"),
        col("event_id").as("buy_id"))
      .withWatermark("t2", "1 hour")
    errors.join(purchases,
      col("u1") === col("u2")
        && col("t2") >= col("t1")
        && col("t2") <= col("t1") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("err_id"), col("buy_id"), col("u1").as("user_id"),
        col("t1"))
  }

  /** The left-outer replay, restricted to DETERMINISTIC rows: matched
    * pairs always emit, but a null-extended row only emits once the
    * final watermark passes its window's end — an engine-internal
    * boundary (which no-data batch ran last). Both this and the batch
    * oracle therefore keep unmatched rows only when the window closed a
    * full minute before the final watermark; boundary-straddling rows
    * are excluded IDENTICALLY on both sides, so the gate is exact while
    * still proving null-extension semantics. */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val raw = runToMemory(spark, streamStreamLeftPlan(spark, dir),
      OutputMode.Append())
    val ev = graft.sources.Tables.events(spark, dir)
    val horizon = ev.agg(least(
        max(when(col("event_type") === "error", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts"))))
        .as("wmax"))
      .select((col("wmax") - expr("INTERVAL 1 HOUR")
        - expr("INTERVAL 1 MINUTE")).as("cut"))
    raw.crossJoin(broadcast(horizon))
      .filter(col("buy_id").isNotNull ||
        col("t1") + expr("INTERVAL 1 HOUR") <= col("cut"))
      .select("err_id", "buy_id", "user_id")
  }

  /** Stream-stream LEFT SEMI join — "errors that resolved to a purchase
    * within the hour", emitting each error ONCE regardless of match
    * multiplicity. Completes the streaming join matrix (inner, left,
    * full, semi). Semi rows emit when their first match arrives, so the
    * emitted SET is exactly the batch semi join — no watermark-boundary
    * margin needed (the null-extension ambiguity of the outer forms
    * doesn't exist here); watermarks still bound both sides' state. */
  def streamStreamSemiPlan(spark: SparkSession, dir: String): DataFrame = {
    val ev = replayEvents(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("u1"), col("ts").as("t1"),
        col("event_id").as("err_id"))
      .withWatermark("t1", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("t2"),
        col("event_id").as("buy_id"))
      .withWatermark("t2", "1 hour")
    errors.join(purchases,
      col("u1") === col("u2")
        && col("t2") >= col("t1")
        && col("t2") <= col("t1") + expr("INTERVAL 1 HOUR"),
      "left_semi")
      .select(col("err_id"), col("u1").as("user_id"), col("t1"))
  }

  def streamStreamSemiJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamStreamSemiPlan(spark, dir),
      OutputMode.Append())

  /** Stream-stream FULL OUTER join: both directions of
    * [[streamStreamLeftPlan]] — unmatched errors AND unmatched
    * purchases emit null-extended once the watermark closes their
    * windows. A purchase at t2 can still match errors with
    * t1 ∈ [t2 − 1 h, t2], so its side resolves when the watermark
    * passes t2 itself. */
  def streamStreamFullPlan(spark: SparkSession, dir: String): DataFrame = {
    val ev = replayEvents(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("u1"), col("ts").as("t1"),
        col("event_id").as("err_id"))
      .withWatermark("t1", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("t2"),
        col("event_id").as("buy_id"))
      .withWatermark("t2", "1 hour")
    errors.join(purchases,
      col("u1") === col("u2")
        && col("t2") >= col("t1")
        && col("t2") <= col("t1") + expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(col("err_id"), col("buy_id"),
        coalesce(col("u1"), col("u2")).as("user_id"),
        col("t1"), col("t2"))
  }

  /** Deterministic rows of the full-outer replay — the
    * [[streamStreamLeftJoin]] margin recipe applied to BOTH sides:
    * unmatched errors kept when t1 + 1 h, unmatched purchases when t2,
    * closed ≥ 1 min before the final watermark. */
  def streamStreamFullJoin(spark: SparkSession, dir: String): DataFrame = {
    val raw = runToMemory(spark, streamStreamFullPlan(spark, dir),
      OutputMode.Append())
    val ev = graft.sources.Tables.events(spark, dir)
    val horizon = ev.agg(least(
        max(when(col("event_type") === "error", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts"))))
        .as("wmax"))
      .select((col("wmax") - expr("INTERVAL 1 HOUR")
        - expr("INTERVAL 1 MINUTE")).as("cut"))
    raw.crossJoin(broadcast(horizon))
      .filter((col("err_id").isNotNull && col("buy_id").isNotNull) ||
        (col("buy_id").isNull &&
          col("t1") + expr("INTERVAL 1 HOUR") <= col("cut")) ||
        (col("err_id").isNull && col("t2") <= col("cut")))
      .select("err_id", "buy_id", "user_id")
  }

  /** Custom per-key state via flatMapGroupsWithState (E32): running
    * count/sum per user, emitted after each batch. State is BOUNDED: a
    * watermark plus `EventTimeTimeout` evicts a user's state once no
    * event has arrived for `idleFor` past the key's newest event — on a
    * long-running stream the store holds only active keys, never the full
    * key universe (the bug class fixed for streaming dedup in 64a70b0).
    * Expiry is silent (no emission), so batch/stream output equivalence
    * is unchanged. */
  def statefulTransform(ds: Dataset[EventRow],
      idleFor: String = "1 hour"): DataFrame = {
    import ds.sparkSession.implicits._
    // ONE source of truth for the idle horizon: the watermark delay and
    // the timeout are derived from the same parsed interval, so they
    // cannot silently diverge
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(idleFor))
    require(iv.months == 0, s"month-based idle horizon is ambiguous: $idleFor")
    val idleMillis = iv.days * 86400000L + iv.microseconds / 1000L
    val out = ds
      .withWatermark("ts", idleFor)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user: Long, rows: Iterator[EventRow],
            state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed the key's horizon — evict
            Iterator.empty
          } else {
            val (n0, sum0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var total = sum0; var maxTs = Long.MinValue
            rows.foreach { r =>
              n += 1; total += r.value
              if (r.ts.getTime > maxTs) maxTs = r.ts.getTime
            }
            state.update((n, total))
            // must be > current watermark or Spark rejects it; a key whose
            // newest event already trails the watermark expires next batch
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + idleMillis)
            Iterator((user, n, total))
          }
      }
      .toDF("user_id", "n_events", "total_raw")
    out.select(col("user_id"), col("n_events"),
      round(col("total_raw"), 6).as("total_value"))
  }

  def statefulPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds: Dataset[EventRow] = replayEvents(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
    statefulTransform(ds)
  }

  def statefulPerUser(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, statefulPlan(spark, dir), OutputMode.Append())

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents table as an unbounded stream. */
  def replayDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Streaming decontamination: documents arrive as a stream, the
    * benchmark n-gram hash set is a static side (the persisted index
    * artifact), and each microbatch's overlap counts fold into a
    * Complete-mode aggregate — output ≡ the batch q_decontam, proving
    * the decontamination kernel composes with Structured Streaming
    * (stream-static equi join, no stream-side state beyond the
    * per-doc counts). */
  def streamDecontamPlan(spark: SparkSession, dir: String): DataFrame =
    // ONE decontamination kernel: the batch operator works unchanged on
    // a streaming corpus side (stream-static equi join + Complete-mode
    // agg) — no second copy to drift from the batch tier
    graft.operators.Decontam.overlapHashed(
      replayDocuments(spark, dir).filter(col("doc_id") >= 5),
      graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") < 5),
      "doc_id", "text", n = 5)

  def streamDecontam(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamDecontamPlan(spark, dir), OutputMode.Complete())

  /** Streaming blocklist screen: arriving documents pass through the
    * Aho–Corasick kernel ([[graft.functions.GraftFunctions
    * .blockTermHits]]) the moment they land — the at-ingest posture of
    * the batch q_blocklist_hits. The plan is STATELESS (map-only per
    * row, Append mode, no watermark, no state store): the screen adds
    * zero streaming state at any corpus rate, and the ONE automaton
    * kernel serves both tiers, so batch and stream can never disagree
    * on a term. */
  def streamBlocklistPlan(spark: SparkSession, dir: String): DataFrame = {
    val terms = graft.functions.GraftFunctions.BlockTerms
    replayDocuments(spark, dir).select(col("doc_id"),
        graft.functions.GraftFunctions.blockTermHits(
          lower(coalesce(col("text"), lit(""))), terms).as("__h"))
      .select(col("doc_id"), concat_ws("|", col("__h")).as("hits"),
        size(col("__h")).cast("long").as("n_hits"))
  }

  def streamBlocklist(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamBlocklistPlan(spark, dir), OutputMode.Append())

  /** Streaming conformal anomaly screen: arriving events are flagged
    * against the PRE-COMPUTED per-cohort split-conformal threshold
    * ([[graft.operators.Selection.conformalQuantile]] over the at-rest
    * calibration corpus) — the deployment half of the conformal
    * contract (calibrate offline on exchangeable history, screen
    * online with the finite-sample ≥ 1−α guarantee). The plan is
    * STATELESS (one stream-static broadcast equi-join + a map-only
    * compare, Append mode, no watermark, no state store): the
    * threshold table is cohort-sized, so the screen adds zero
    * streaming state at any event rate — the q_stream_blocklist
    * posture with a learned threshold instead of a term list. */
  def streamConformalPlan(spark: SparkSession, dir: String): DataFrame = {
    val cal = graft.operators.Selection.conformalQuantile(
      graft.sources.Tables.events(spark, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10))),
      Seq("cohort"), "value", alpha = 0.05,
      v => floor(v / 10.0))
      .select(col("cohort").as("__c"), col("qhat"))
    replayEvents(spark, dir)
      .withColumn("cohort", pmod(col("user_id"), lit(10)))
      .join(broadcast(cal), col("cohort") === col("__c"))
      .select(col("event_id"), col("cohort"), col("value"), col("qhat"),
        (col("value") > col("qhat")).as("is_anomaly"))
  }

  def streamConformal(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamConformalPlan(spark, dir),
      OutputMode.Append())

  /** Streaming near-dup ingest: arriving documents are flagged against
    * the STATIC persisted MinHash signature index ([[graft.operators
    * .IncrementalDedup]]) — the online half of the daily-ingest loop
    * (the within-batch half is the batch operator's job at rest). The
    * plan is a stateless stream-static equi join on (band, band_hash):
    * signatures and bands are map-only over the stream, the index
    * contributes static hash tables, and the only stream state is the
    * Complete-mode per-doc verdict aggregate. Fixture: the planted
    * two-generation corpus of q_incr_dedup_planted, so the verdicts are
    * closed-form (twins true, fresh docs false). */
  def streamNearDupPlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalDedup
    val seeds = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id").as("b"))
    val t0 = concat_ws(" ", transform(sequence(lit(0), lit(29)),
      j => substring(md5(concat(col("b").cast("string"), lit("_"),
        j.cast("string"))), 1, 8)))
    val xa = substring(md5(concat(col("b").cast("string"), lit("_xa"))), 1, 8)
    val old = seeds.filter(col("b") < 12)
      .select((col("b") * 10).as("doc_id"), t0.as("text"))
    val idxSigs = IncrementalDedup.signatures(old, "doc_id", "text")
    val idxBands = IncrementalDedup.banded(idxSigs)
      .withColumnRenamed("id", "oid")
    // the same planted batch, derived from the streamed table: twins of
    // the index docs (b·10+1) + genuinely fresh docs (seeds 110-119)
    val sb = replayDocuments(spark, dir).select(col("doc_id").as("b"))
    val st0 = concat_ws(" ", transform(sequence(lit(0), lit(29)),
      j => substring(md5(concat(col("b").cast("string"), lit("_"),
        j.cast("string"))), 1, 8)))
    val sxa = substring(md5(concat(col("b").cast("string"), lit("_xa"))), 1, 8)
    val batch = sb.filter(col("b") < 12)
      .select((col("b") * 10 + 1).as("doc_id"),
        concat(st0, lit(" "), sxa).as("text"))
      .unionAll(sb.filter(col("b") >= 110 && col("b") < 120)
        .select((col("b") * 10).as("doc_id"), st0.as("text")))
    val probeSigs = IncrementalDedup.signatures(batch, "doc_id", "text")
    // band expansion inline (banded() projects the signature away, and
    // the verify step here wants it carried through the join)
    val probeBands = probeSigs.select(col("id"), col("sig").as("psig"),
        posexplode(transform(sequence(lit(0), lit(7)),
          j => xxhash64(slice(col("sig"), j * 4 + 1, lit(4))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    // LEFT joins so clean docs surface as explicit false verdicts
    probeBands
      .join(idxBands, Seq("band", "band_hash"), "left")
      .join(idxSigs.select(col("id").as("oid"), col("sig").as("osig")),
        Seq("oid"), "left")
      .withColumn("est",
        graft.operators.Dedup.minhashEstimate(col("psig"), col("osig")))
      .groupBy(col("id").as("doc_id"))
      .agg(coalesce(max(col("est") >= 0.5), lit(false))
        .as("dup_of_index"))
  }

  def streamNearDup(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamNearDupPlan(spark, dir), OutputMode.Complete())

  /** Streaming near-dup INGEST SCREEN against the REAL day-1 corpus
    * artifact (r14 verdict #8): arriving day-2 documents pass the
    * stateless quality filters, then each micro-batch probes the
    * persisted [[graft.operators.IncrementalDedup]] signature index of
    * q_corpus_incremental's day-1 state — the real-time "have we seen
    * this before" answer an ingest front-end wants, row-identical to
    * the batch delta verdicts (`dup_of_index` is a per-doc property of
    * the doc vs the STATIC index, so it is invariant to how the stream
    * is micro-batched — unlike `dup_in_batch`, which belongs to the
    * at-rest batch pass and is deliberately NOT screened here).
    * One caveat to the invariance claim: IncrementalDedup's degenerate
    * -bucket cap counts the COMBINED index+batch bucket population, so
    * a bucket sitting exactly at the cap could flip its verdicts with
    * batching — the gate's fixtures stay far below the cap (lint:
    * maxBucket 300 vs observed ≤ a few dozen), and a production
    * deployment at the cap should pin maxBucket above its hottest
    * expected bucket or accept batch-dependent suppression there.
    *
    * State shape: foreachBatch with an append-only sink — ZERO
    * streaming state at any ingest rate (no watermark, no state
    * store); per batch, the index contributes its (band, band_hash,
    * id) triples and signatures ride only into the verify join, the
    * [[graft.operators.IncrementalDedup.verdicts]] scale contract.
    * Where [[streamNearDupPlan]] pins the kernel on a planted
    * synthetic index, this gate runs the production loop: the SAME
    * artifact the batch chain probes, the SAME quality gate, hashed
    * against the exact-Jaccard from-scratch oracle at 3 SFs. */
  def streamNearDupScreen(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalDedup
    val (sigs1, cut) =
      graft.queries.PipelineQueries.corpusIncrementalIndex(spark, dir)
    sigs1.cache()
    val out = java.nio.file.Files
      .createTempDirectory("graft_screen").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_screen_ckpt").toString
    val arrivals = graft.queries.PipelineQueries.qualityGate(
      replayDocuments(spark, dir).filter(col("doc_id") >= cut))
    val q = arrivals.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batchId-named subdir + overwrite = idempotent under
        // micro-batch RETRY (mode("append") into one flat dir would
        // duplicate a replayed batch's rows and red the hash gate)
        IncrementalDedup.verdicts(sigs1, batch, "doc_id", "text",
            numHashes = 32, bands = 8, threshold = 0.6)
          .select(col("id").as("doc_id"), col("dup_of_index"))
          .hint("rebalance")
          .write.mode("overwrite").parquet(s"$out/b$batchId")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    sigs1.unpersist()
    val parts = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.toString).toSeq
    if (parts.isEmpty)
      // empty delta: no micro-batch ever wrote — return an empty frame
      // DERIVED FROM THE REAL PLAN (the same verdicts projection the
      // per-batch sink writes, over a zero-row batch), not a hand-built
      // schema that silently drifts if verdicts' output ever changes
      // (r16 advice)
      IncrementalDedup.verdicts(sigs1,
          graft.queries.PipelineQueries.qualityGate(
            graft.sources.Tables.documents(spark, dir).limit(0)),
          "doc_id", "text", numHashes = 32, bands = 8, threshold = 0.6)
        .select(col("id").as("doc_id"), col("dup_of_index"))
    else spark.read.parquet(parts: _*)
  }

  /** Streaming chunking: the batch [[graft.operators.Chunking]]
    * operator UNCHANGED on a replayed documents stream — a pure
    * projection + generator, so it runs Append with no state store at
    * all: the shape of a streaming embedding-prep ingest (chunk as
    * documents arrive, embed downstream). Output ≡ the batch
    * q_doc_chunks under the same DuckDB oracle. */
  def streamChunksPlan(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.slidingWindows(
      replayDocuments(spark, dir), "doc_id", "text",
      width = 64, stride = 48)

  def streamChunks(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, streamChunksPlan(spark, dir), OutputMode.Append())

  /** Streaming takedowns (r16 verdict #3): retraction events arrive ON
    * the stream as delete-only batches of the corpus CRUD driver
    * ([[streamCrudRun]]), so each micro-batch applies the bounded-blast
    * retraction delta against the CURRENT at-rest state and rewrites
    * it — the ingest-side posture of q_corpus_retract. A delete carries
    * no payload: a retraction is the upsert with no new content.
    *
    * Order-independence: the final manifest equals ONE batch
    * retraction of the union set because each delta step lands exactly
    * on the from-scratch state of the remaining corpus (the closure
    * property q_corpus_retract/q_corpus_lifecycle gate), and set
    * subtraction commutes — StreamRetractSpec replays the same
    * takedowns in reverse batch order and asserts the identical
    * manifest. */
  private[graft] def streamRetractFrom(spark: SparkSession, dir: String,
      batches: Seq[Seq[Long]]): DataFrame =
    streamCrudRun(spark, dir, batches.map(_.map(CrudEvent.delete)),
      graft.queries.PipelineQueries.noPayload(
        graft.sources.Tables.documents(spark, dir))).manifest

  /** Streaming AMENDMENTS (r16 capstone — the full corpus CRUD state
    * machine driven from a stream): re-crawl events arrive as doc-id
    * micro-batches of upserts; each batch fetches its new content by id
    * (the re-crawl-queue posture: the stream carries identities, the
    * crawler's store carries payloads), applies the atomic upsert
    * delta ([[graft.queries.PipelineQueries.corpusUpsertState]])
    * against the CURRENT at-rest state, and rewrites ALL of it
    * ([[streamCrudRun]]):
    *
    *  - the four membership frames (the lifecycle rules + the insert
    *    side: stolen keepers out of S2/S3, inserted keepers in)
    *  - qmeta gains the amended docs' NEW quality rows (digest /
    *    n_tokens), so later keeper contests see the new content
    *  - the S2 signature index drops amended + stolen ids and GAINS
    *    the re-elected twins' and inserted keepers' signatures (a
    *    later batch's candidate probe must near-dup against CURRENT
    *    content)
    *  - the pair-graph overlay: static pairs are void on any side
    *    whose content was amended away; the batch's fresh-content
    *    pairs accumulate, and prior fresh pairs naming a now-amended
    *    id remap to its re-elected same-text twin or die with the
    *    content
    *  - the documents overlay: later batches' text fetches (candidate
    *    verify, decontam of resurrected docs) read the LATEST text
    *
    * Disjoint-id amendments commute (each delta lands on the
    * from-scratch state of the current world, and set replacement on
    * disjoint ids is order-free) — StreamAmendSpec replays both batch
    * orders; a REDELIVERED event (same id, same payload) is a no-op,
    * the at-least-once tolerance (also spec-gated). */
  private[graft] def streamAmendFrom(spark: SparkSession, dir: String,
      idBatches: Seq[Seq[Long]], amendments: DataFrame): DataFrame =
    streamAmendRun(spark, dir, idBatches, amendments).manifest

  /** One corpus CRUD stream event: `doc_id` is upserted with its row in
    * the payload store as new content, or — `is_delete` — leaves the
    * corpus. A delete carries no payload. */
  private[graft] final case class CrudEvent(doc_id: Long,
      is_delete: Boolean)

  private[graft] object CrudEvent {
    def upsert(id: Long): CrudEvent = CrudEvent(id, is_delete = false)
    def delete(id: Long): CrudEvent = CrudEvent(id, is_delete = true)
  }

  /** A [[streamCrudRun]]'s outcome: the manifest plus the final
    * overlay accounting (|everAmended|, |pairsNew|, folds fired), so
    * the compaction spec can assert a fold actually emptied the
    * overlays — not just that the manifest survived. */
  private[graft] final case class CrudStreamResult(manifest: DataFrame,
      overlayAmended: Long, overlayPairs: Long, folds: Long)

  /** [[streamAmendFrom]] with the overlay lifecycle exposed (r16
    * verdict #3 — the one 100×-scale liability in the r16 code): the
    * driver-held overlays (`everAmended`, `pairsNew`, the latest-text
    * `amendedRows` union in `docsCur`) grow with stream LIFETIME, not
    * batch size. Two controls of [[streamCrudRun]] close that:
    *
    *  - `maxOverlay` — a maxBlast-style LOUD raise on accumulated
    *    overlay cardinality (|everAmended| + |pairsNew|): a long-lived
    *    amendment stream without compaction must fail fast, not
    *    exhaust driver memory slowly (r16 advice).
    *  - `compactEvery` — every N committed batches the overlay FOLDS
    *    into the at-rest artifacts (the day-3 compaction posture) and
    *    resets to empty: the documents store is kept hash-partitioned
    *    (`part = doc_id mod DocStoreParts`, converted ONCE up front —
    *    a production 100 TB table is already stored partitioned), and
    *    a fold rewrites ONLY the partitions its overlay touches
    *    ([[foldDocStore]]). Fold cost is therefore ∝ overlay (touched
    *    partitions), never corpus. The pair graph is id-pair METADATA
    *    (index-sized, no text): its fold is a plain rewrite of the
    *    effective view, the same class of offline work as the day-3
    *    signature-index merge. The overlays are re-derivable from the
    *    per-batch state generations (`everAmended` = the amended
    *    generation's id set; `pairsNew` rides in the pair overlay).
    *
    * The frame-checkpoint scale posture is on [[streamCrudRun]]. */
  private[graft] def streamAmendRun(spark: SparkSession, dir: String,
      idBatches: Seq[Seq[Long]], amendments: DataFrame,
      compactEvery: Int = 0, maxOverlay: Long = 5000000L,
      alsoPerBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : CrudStreamResult =
    streamCrudRun(spark, dir, idBatches.map(_.map(CrudEvent.upsert)),
      amendments, compactEvery, maxOverlay, alsoPerBatch)

  /** Fold a latest-text overlay into a mod-`parts` hash-partitioned
    * documents store: ONLY the partitions holding overlay ids are
    * rewritten (their at-rest rows minus the amended ids, plus the
    * overlay's latest text), staged to `tmp` and swapped in per
    * partition — the commit a real deployment does with
    * FileSystem.rename plus a fold marker. Cost ∝ touched partitions
    * × partition size: with partition size bounded by the store
    * layout (scale `parts` with the corpus, the maxPartitionBytes
    * discipline) and touched ≤ |overlay|, the fold is ∝ overlay,
    * never corpus — the fold_probe drill measures exactly this
    * (fixed overlay, fixed partition size, corpus ×8 ⇒ flat).
    * Returns the number of partitions rewritten. */
  private[graft] def foldDocStore(spark: SparkSession, store: String,
      tmp: String, amendedIds: Set[Long], amendedRows: DataFrame,
      parts: Int): Int =
    partitionedUpsert(spark, store, tmp, "doc_id", amendedIds,
      amendedRows.select("doc_id", "lang", "text"), parts)

  /** Keyed delete-insert over a mod-`parts` hash-partitioned store:
    * rewrite ONLY the partitions holding `touchIds` — their at-rest
    * rows minus the touched ids, plus `addRows` — staged to `tmp` and
    * swapped in per partition (the commit a real deployment brackets
    * with FileSystem.rename + a batch marker; recovery re-runs the
    * swap list from the staged dirs, and the delete-insert is
    * idempotent under a replayed batch because re-adding removed ids
    * lands the identical rows). CONTRACT: `addRows`' ids ⊆ `touchIds`
    * (callers derive both from the same bounded driver delta sets),
    * and `addRows`' columns match the store's data columns by name.
    * Cost ∝ touched partitions × partition size — with partition size
    * bounded by the layout (scale `parts` with the data, the
    * maxPartitionBytes discipline), an upsert is ∝ delta, never
    * corpus. Returns the number of partitions rewritten. */
  private[graft] def partitionedUpsert(spark: SparkSession,
      store: String, tmp: String, idCol: String, touchIds: Set[Long],
      addRows: DataFrame, parts: Int): Int = {
    import spark.implicits._
    val touched = touchIds.map(id => ((id % parts) + parts) % parts)
    if (touched.isEmpty) return 0
    spark.read.parquet(store)
      .filter(col("part").isin(touched.toSeq.map(Long.box): _*))
      .join(graft.queries.PipelineQueries.probe(spark, touchIds, idCol),
        Seq(idCol), "left_anti")
      .drop("part")
      .unionByName(addRows)
      .withColumn("part", pmod(col(idCol), lit(parts)))
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    touched.foreach { k =>
      val dst = java.nio.file.Paths.get(store, s"part=$k")
      deleteTree(dst)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp, s"part=$k"),
        dst)
    }
    touched.size
  }

  /** Delete `p` and everything under it, if it exists. */
  private[streaming] def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { java.nio.file.Files.delete(x); () })
      finally walk.close()
    }

  /** `df` cached, unless its optimized plan is already an empty local
    * relation: caching that would only hide the emptiness from the
    * optimizer's empty-relation propagation. */
  private[streaming] def cacheUnlessPlannedEmpty(df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.data.isEmpty => df
      case _ => df.cache()
    }

  /** THE corpus CRUD stream driver — [[streamRetractFrom]],
    * [[streamRetractFull]], [[streamAmendRun]] and [[streamAmendFrom]]
    * are thin callers. One streaming query, one deterministic state
    * transition per micro-batch: each batch of [[CrudEvent]]s applies
    * ONE atomic [[graft.queries.PipelineQueries.corpusUpsertState]]
    * against the CURRENT state (every event id's old content leaves,
    * the upserts' payload rows enter), rewrites the corpus frames with
    * the shared rules ([[graft.queries.PipelineQueries.upsertRewrite]])
    * and maintains the pair-graph and latest-text overlays (see
    * [[streamAmendFrom]] for what each rewrite carries and
    * [[streamAmendRun]] for the overlay lifecycle).
    *
    * Event contract, enforced loudly before anything commits: an
    * upsert must have a row in `payloads`; a delete needs none; an id
    * named by both ops in one batch raises rather than silently
    * picking one.
    *
    * State ownership: the run keeps ONE temp dir holding the streaming
    * checkpoint, the fold stores and a `b<batchId>` state generation
    * per micro-batch, written in full. A retried batch rewrites the
    * same `b<batchId>` dirs idempotently from the same input frames,
    * and lineage stays flat at any stream length. There is NO resume:
    * a restart replays from the at-rest artifacts. Each superseded
    * generation is deleted once its successor is swapped in; on return
    * the checkpoint and fold stores are deleted and every cached frame
    * is released, so the returned manifest reads the LAST generation
    * from disk (the one dir the run leaves behind).
    *
    * Frame-checkpoint scale posture: at gate scale every batch writes
    * FULL state generations — the frames are small, and the
    * replay/idempotence proofs lean on whole generations. When the
    * frames outgrow full rewrites (the 100 TB regime: qmeta's digests
    * and the 32-int signatures are corpus-scale bytes), the state
    * writer flips to the SAME keyed delete-insert the overlay fold uses
    * ([[partitionedUpsert]]): every per-batch remove/add set is
    * already a bounded DRIVER delta (rIds / stolen / resurrected /
    * insKeepers / doomedNow / newcomers, plus the delta-sized aq /
    * s4new / signature rows), so each frame rewrite prunes to the
    * partitions the delta touches — ∝ delta, never corpus
    * (upsert_probe drills this flat at 8× store size). Correctness is
    * layout-independent: q_stream_amend_compact gates that a
    * partitioned-store rewrite is semantically invisible.
    *
    * @param alsoPerBatch sibling-store hook, called INSIDE each
    *        foreachBatch with (batch ids, batchId) in the same
    *        concurrent wave as the corpus state commit — the
    *        cross-artifact seam: an event that changes the corpus can
    *        atomically reach its other representations (the vector
    *        index, q_stream_amend_full / q_stream_retract_full) in the
    *        SAME micro-batch. */
  private[graft] def streamCrudRun(spark: SparkSession, dir: String,
      events: Seq[Seq[CrudEvent]], payloads: DataFrame,
      compactEvery: Int = 0, maxOverlay: Long = 5000000L,
      alsoPerBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : CrudStreamResult = {
    import graft.queries.{PipelineQueries => PQ}
    import graft.operators.IncrementalDedup
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    var docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "lang", "text")
    // the re-crawl payload store is DELTA-sized by contract (every row
    // is a registered amendment, bounded by the same maxBlast posture
    // as the per-batch collects) and its generating plan — a corpus
    // self-join in the driver fixture — would otherwise re-execute for
    // every per-batch payload fetch, missing-event probe and frame
    // rewrite that touches the batch's text. Materialize it once per
    // run (r17 optimization; guide §5 "caching is worth it when a
    // DataFrame is reused and recomputing is more expensive than the
    // memory pressure" — here the memory is delta-sized). A retraction
    // run's payload (`noPayload`, a `limit(0)`) stays uncached, so the
    // optimizer drops the store probe and the payload joins outright.
    val store = cacheUnlessPlannedEmpty(payloads)
    // r17 optimization: each micro-batch's delta probes scan the
    // at-rest membership frames ~3× and the frame rewrites read them
    // again — keep the CURRENT state generation hot between batches
    // (memory-and-disk), dropping the superseded snapshot as each
    // checkpoint commits, so exactly one generation is ever cached.
    // At 100 TB this is the hot-state-between-micro-batches posture:
    // id/metadata frames, never corpus text (docs stays disk-backed).
    def swapHot(old: DataFrame, next: DataFrame): DataFrame = {
      old.unpersist()
      next.cache()
    }
    var (cur, benchGrams, staticPairs) = PQ.corpusFramesAtRest(spark, dir)
    cur = cur.map(_.cache())
    staticPairs = staticPairs.cache()
    var pairsNew = Seq.empty[(Long, Long)]
    // ids whose at-rest text is void: upserted or deleted since the
    // last fold (amendedRows holds the upserts' latest text)
    var everAmended = Set.empty[Long]
    var amendedRows: DataFrame =
      Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_scrud")
    // the live state generation, once a batch has committed
    var gen = Option.empty[java.nio.file.Path]
    val DocStoreParts = 32
    val docsStore = s"$out/docstore"
    // every store this run writes is read back with the schema it was
    // written with: a parquet read without one runs a footer-inference
    // job per store
    val docsStored =
      docs.withColumn("part", pmod(col("doc_id"), lit(DocStoreParts)))
    var folds = 0L
    if (compactEvery > 0)
      // one-time layout precondition (NOT fold cost): the folding
      // store keeps documents hash-partitioned so each fold's rewrite
      // prunes to the partitions its overlay touches
      docsStored.write.mode("overwrite").partitionBy("part")
        .parquet(docsStore)
    def foldOverlay(): Unit =
      if (everAmended.nonEmpty || pairsNew.nonEmpty) {
        val t0 = System.nanoTime()
        val touched = foldDocStore(spark, docsStore,
          s"$out/foldtmp$folds", everAmended, amendedRows,
          DocStoreParts)
        docs = spark.read.schema(docsStored.schema).parquet(docsStore)
          .select("doc_id", "lang", "text")
        // the pair graph is id-pair metadata — fold = rewrite the
        // effective view (index-sized, the day-3 merge class)
        val pairsDir = s"$out/pairstore$folds"
        val folded = staticPairs
          .join(PQ.probe(spark, everAmended, "id1"), Seq("id1"), "left_anti")
          .join(PQ.probe(spark, everAmended, "id2"), Seq("id2"), "left_anti")
          .unionByName(pairsNew.toDF("id1", "id2"))
        folded.hint("rebalance").write.mode("overwrite").parquet(pairsDir)
        staticPairs = swapHot(staticPairs,
          spark.read.schema(folded.schema).parquet(pairsDir))
        System.err.println(f"[stream-crud] fold ${folds + 1}: " +
          f"${everAmended.size} amended ids over $touched of " +
          f"$DocStoreParts doc partitions, ${pairsNew.size} fresh " +
          f"pairs folded in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        everAmended = Set.empty
        pairsNew = Seq.empty
        amendedRows.unpersist()
        amendedRows = docs.limit(0)
        folds += 1
      }
    val input = MemoryStream[CrudEvent]
    val q = input.toDF().writeStream
      .option("checkpointLocation", s"$out/checkpoint")
      .foreachBatch { (ev: DataFrame, batchId: Long) =>
        val tB0 = System.nanoTime()
        val ids = ev.select("doc_id")
        val upserts = ev.filter(!col("is_delete")).select("doc_id")
        // the batch payload is delta-sized and re-read by ~8 downstream
        // jobs (rIds collect, quality gate, fresh-pair text fetch, the
        // qmeta/sigs/amended frame rewrites) — cache it for the batch's
        // lifetime (r17 optimization), released before the commit ends
        val batch = cacheUnlessPlannedEmpty(store
          .join(upserts, Seq("doc_id"), "left_semi")
          .select("doc_id", "lang", "text"))
        // released in the finally below — a per-batch raise (e.g. the
        // event-contract require) must not leak the cached batch
        try {
        // the event contract: an upsert whose id has no payload would
        // otherwise degrade to a silent takedown, and an id named by
        // both ops would silently take the upsert — a lost or guessed
        // event is a correctness failure, not a skippable row. r18
        // (guide §2.6): the probe depends only on the batch events —
        // overlap it with the delta's own probes and enforce it before
        // anything commits
        val badF = scala.concurrent.Future {
          upserts.join(store.select("doc_id"), Seq("doc_id"), "left_anti")
            .select(col("doc_id"),
              lit("is an upsert with no row in the payload store"))
            .unionAll(upserts
              .join(ev.filter(col("is_delete")), Seq("doc_id"),
                "left_semi")
              .select(col("doc_id"),
                lit("is named by both an upsert and a delete")))
            .limit(1).collect()
        }(scala.concurrent.ExecutionContext.Implicits.global)
        val docsCur = docs
          .join(PQ.probe(spark, everAmended), Seq("doc_id"), "left_anti")
          .unionByName(amendedRows)
        val pairsEff = staticPairs
          .join(PQ.probe(spark, everAmended, "id1"), Seq("id1"), "left_anti")
          .join(PQ.probe(spark, everAmended, "id2"), Seq("id2"), "left_anti")
          .unionByName(pairsNew.toDF("id1", "id2"))
        val st = PQ.corpusUpsertState(docsCur, ids, batch, cur.qmeta,
          cur.s2ids, cur.s3ids, cur.s4meta, benchGrams, pairsEff,
          IncrementalDedup.banded(cur.sigs))
        // the delta phase ends here: corpusUpsertState's bounded
        // collects have materialized every decision set; what follows
        // is plan construction, materialized by the checkpoint writes
        val tDelta = (System.nanoTime() - tB0) / 1e9
        val next = PQ.upsertRewrite(st, cur, batch, docsCur)
        val amendedN = amendedRows
          .join(PQ.probe(spark, st.rIds), Seq("doc_id"), "left_anti")
          .unionByName(batch)
        def remap(p: (Long, Long)): Option[(Long, Long)] = {
          def m(x: Long): Option[Long] =
            if (!st.rIds(x)) Some(x) else st.reElected.get(x)
          for { a <- m(p._1); b <- m(p._2); if a != b }
            yield (math.min(a, b), math.max(a, b))
        }
        val base = out.resolve(s"b$batchId")
        // the batch must be complete before ANY state commits — await
        // the overlapped contract probe at the commit barrier
        val bad = scala.concurrent.Await.result(badF,
          scala.concurrent.duration.Duration.Inf)
        require(bad.isEmpty,
          s"streamCrud: doc_id ${bad.head.getLong(0)} " +
            s"${bad.head.getString(1)} — refusing to drop or guess a " +
            "takedown/re-crawl event")
        val tR0 = System.nanoTime()
        // the six state rewrites are independent plans over disjoint
        // dirs — materialize them concurrently (r17, guide §2.6): each
        // write's task set occupies a fraction of local[32], so the
        // sequential form paid six job-latency tails back to back.
        // r18: the per-batch secondary-store update (alsoPerBatch — the
        // _full gates' IVF-PQ codes rewrite) is the seventh independent
        // write over its own dir; it joins the same concurrent wave
        // instead of running after the frames' tails
        val rebalance = st.inserted.nonEmpty
        runConcurrently((next.named :+ ("amended" -> amendedN)).map {
          case (name, df) =>
            () => writeSnapshot(df, s"$base/$name", rebalance)
        } :+ (() => alsoPerBatch(ids, batchId)))
        cur.named.foreach(_._2.unpersist())
        cur = PQ.CorpusFrames.read(spark, base.toString, Some(next))
          .map(_.cache())
        amendedRows = swapHot(amendedRows,
          spark.read.schema(amendedN.schema).parquet(s"$base/amended"))
        // nothing references the superseded generation once its
        // successor is hot (a retried batch rewrites its own dir)
        gen.filterNot(_ == base).foreach(deleteTree)
        gen = Some(base)
        pairsNew = (pairsNew.flatMap(remap) ++ st.freshPairs).distinct
        everAmended = everAmended ++ st.rIds
        // the accumulated overlay must never silently reach corpus
        // scale on the driver: raise loudly (the maxBlast posture)
        // — a deployment hitting this either compacts more often or
        // has an amendment volume that IS a batch rebuild
        require(everAmended.size.toLong + pairsNew.size <= maxOverlay,
          s"streamCrud: accumulated overlay " +
            s"(${everAmended.size} amended ids + ${pairsNew.size} " +
            s"fresh pairs) exceeds maxOverlay=$maxOverlay — enable " +
            "or tighten compactEvery (the overlay fold) instead of " +
            "letting driver state grow with stream lifetime")
        // per-batch phase attribution (r16 verdict #4): the suite's
        // most expensive gate must decompose in the driver tail —
        // delta (the bounded upsert collects) vs the six state
        // rewrites' materialization + checkpoint I/O
        System.err.println(f"[stream-crud] batch $batchId: delta " +
          f"$tDelta%.2f s, state-rewrite+checkpoint " +
          f"${(System.nanoTime() - tR0) / 1e9}%.2f s " +
          f"(${st.rIds.size} ids, ${st.inserted.size} inserted, " +
          f"${st.freshPairs.size} fresh pairs, overlay now " +
          f"${everAmended.size}+${pairsNew.size})")
        } finally batch.unpersist()
        ()
      }
      .start()
    try events.zipWithIndex.foreach { case (b, i) =>
      input.addData(b); q.processAllAvailable()
      // compaction fires on the driver BETWEEN committed batches (the
      // foreachBatch closure reads the folded vars on its next call)
      if (compactEvery > 0 && (i + 1) % compactEvery == 0) foldOverlay()
    } finally {
      q.stop()
      (cur.named.map(_._2) ++ Seq(staticPairs, amendedRows, store))
        .foreach(_.unpersist())
      // the run owns its dirs: only the last generation outlives it
      if (gen.isEmpty) deleteTree(out)
      else out.toFile.listFiles.map(_.toPath).filterNot(gen.contains)
        .foreach(deleteTree)
    }
    CrudStreamResult(PQ.corpusFinish(cur.s4meta),
      everAmended.size.toLong, pairsNew.size.toLong, folds)
  }

  /** The driver gate: the registered amendment set streamed as id
    * micro-batches (ids ≥ 5, id ≡ 11 mod 23, split by id mod 3),
    * content fetched by id from the registered re-crawl recipe.
    * Hash-equal to ONE atomic batch amendment of the union — i.e. the
    * SAME from-scratch oracle as q_corpus_amend. */
  def streamAmend(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val n = docs.agg(max(col("doc_id"))).head.getLong(0)
    val all = (5L to n).filter(_ % 23 == 11)
    streamAmendFrom(spark, dir,
      (0L to 2L).map(r => all.filter(_ % 3 == r)),
      graft.queries.PipelineQueries.registeredAmendment(docs))
  }

  /** The compaction twin of [[streamAmend]] (r16 verdict #3): the SAME
    * registered amendment stream, but the overlay FOLDS into the
    * at-rest artifacts mid-stream (`compactEvery = 2` — after the
    * second micro-batch), so the third batch's delta runs against the
    * folded documents store and pair graph with EMPTY overlays.
    * Hash-equal to q_stream_amend / q_corpus_amend under the same
    * from-scratch oracle: compaction is a physical re-layout, never a
    * semantic step. StreamAmendCompactSpec additionally asserts the
    * overlays are literally empty post-fold and that fold cost prunes
    * to the touched partitions. */
  def streamAmendCompact(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val n = docs.agg(max(col("doc_id"))).head.getLong(0)
    val all = (5L to n).filter(_ % 23 == 11)
    streamAmendRun(spark, dir,
      (0L to 2L).map(r => all.filter(_ % 3 == r)),
      graft.queries.PipelineQueries.registeredAmendment(docs),
      compactEvery = 2).manifest
  }

  /** Cross-artifact AMENDMENT closure (r17, completing the joint-CRUD
    * matrix [[streamRetractFull]] opened): a re-crawl event names a
    * doc whose content changed — the corpus must serve the new text
    * AND similarity search must find the new embedding under the SAME
    * id, atomically per micro-batch. The [[streamAmendRun]]
    * `alsoPerBatch` seam applies [[graft.operators.IvfPq.update]]
    * (retract∘append under frozen centroids/codebooks) for exactly
    * the batch's ids in the SAME foreachBatch that commits the corpus
    * state; codes checkpoint per batchId like every other frame.
    *
    * Fixture: the registered mod-23 amendment set in TWO micro-batches
    * (the 3-batch commutation/cross-batch machinery is q_stream_amend's
    * claim; this gate's new claim is per-batch JOINT atomicity, and
    * two batches bound the suite tail). Pre-state index holds each
    * doc's OLD-content vector (probe byte-copy at shift 2, keyed
    * doc_id+voff); the re-crawl's NEW embedding is the probe byte-copy
    * at shift 0 — old ≠ new for every id.
    *
    * Output (closed-form booleans vs a literal oracle):
    *  - `corpus_manifest_matches_one_shot` — streamed manifest ==
    *    the single-shot atomic batch amendment (corpusAmendFrom)
    *  - `index_matches_one_shot_update` — final per-probe
    *    (candidate, ADC) sets byte-equal ONE IvfPq.update of the
    *    union (streamed-vs-one-shot closure over the persisted codes;
    *    old-content-gone rides on q_ivfpq_update_planted's gated
    *    restore closure for the one-shot form)
    *  - `probe_<i>_new_content_min_adc` — the new content is FINDABLE:
    *    each probe's top-k contains an updated twin at the minimal
    *    ADC (a stale code row for any of its twins would red this). */
  def streamAmendFull(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.{PipelineQueries => PQ}
    import graft.operators.IvfPq
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val n = docs.agg(max(col("doc_id"))).head.getLong(0)
    val all = (5L to n).filter(_ % 23 == 11)
    val batches = (0L to 1L).map(r => all.filter(_ % 2 == r))
    val amendments = PQ.registeredAmendment(docs)
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 5)
    val voff = emb.agg(max(col("vec_id")).cast("long"))
      .head.getLong(0) + 1
    def twinVecs(shift: Long): DataFrame = all.toDF("doc_id")
      .withColumn("__p", pmod(col("doc_id") + shift, lit(5)).cast("long"))
      .join(broadcast(probes.select(col("vec_id").as("__p"),
        col("embedding"))), Seq("__p"))
      .select((col("doc_id") + voff).as("vec_id"), col("embedding"))
    val oldVecs = twinVecs(2)
    val newVecs = twinVecs(0)
    val base = PQ.ivfPqIndex(spark, dir)
    val out = java.nio.file.Files
      .createTempDirectory("graft_samendf").toString
    var ix = IvfPq.append(base, oldVecs, m = PQ.PqM, k = PQ.PqKCodes)
    writeSnapshot(ix.codes, s"$out/codes_pre")
    ix = IvfPq.Index(ix.centroids, ix.books,
      spark.read.parquet(s"$out/codes_pre"), ix.corpusId)
    val pre = ix
    // r17 optimization (guide §2.6): the ONE-SHOT comparison arms —
    // the atomic batch amendment of the union and the one-shot index
    // update's search — depend only on the at-rest artifacts and the
    // pre-state index, never on the stream's state. Launch them now so
    // they materialize (into their own caches) while the stream
    // replays; the equality actions below then read the cached sides.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val oneShotF = Future {
      val df = PQ.corpusAmendFrom(spark, dir, amendments).cache()
      df.count(); df
    }
    val oneShotIxF = Future {
      val ixU = IvfPq.update(pre, newVecs, m = PQ.PqM, k = PQ.PqKCodes)
      val t = IvfPq.search(ixU, probes, k = 10, nprobe = PQ.IvfPqNprobe,
          m = PQ.PqM, kCodes = PQ.PqKCodes)
        .select("probe_id", "cand_id", "adc").cache()
      t.count(); t
    }
    val res = streamAmendRun(spark, dir, batches, amendments,
      alsoPerBatch = { (ids, batchId) =>
        val nv = newVecs.join(
          ids.select((col("doc_id") + voff).as("vec_id")),
          Seq("vec_id"), "left_semi")
        val ixN = IvfPq.update(ix, nv, m = PQ.PqM, k = PQ.PqKCodes)
        writeSnapshot(ixN.codes, s"$out/b$batchId/codes")
        ix = IvfPq.Index(ix.centroids, ix.books,
          spark.read.parquet(s"$out/b$batchId/codes"), ix.corpusId)
      })
    val streamed = res.manifest
    val oneShot = Await.result(oneShotF, Duration.Inf)
    val mEq = streamed.exceptAll(oneShot)
      .unionAll(oneShot.exceptAll(streamed)).isEmpty
    def top(i: IvfPq.Index) =
      IvfPq.search(i, probes, k = 10, nprobe = PQ.IvfPqNprobe,
        m = PQ.PqM, kCodes = PQ.PqKCodes)
        .select("probe_id", "cand_id", "adc")
    val topOneShot = Await.result(oneShotIxF, Duration.Inf)
    val ixEq = topOneShot.exceptAll(top(ix))
      .unionAll(top(ix).exceptAll(topOneShot)).isEmpty
    val w = Window.partitionBy("probe_id")
    val minTwin = top(ix)
      .withColumn("__min", min(col("adc")).over(w))
      .filter(col("cand_id") >= voff && col("adc") === col("__min"))
      .select(col("probe_id"), lit(true).as("__hit")).distinct()
    val probeRows = probes.select(col("vec_id").as("probe_id"))
      .join(minTwin, Seq("probe_id"), "left")
      .select(concat(lit("probe_"), col("probe_id").cast("string"),
        lit("_new_content_min_adc")).as("check"),
        coalesce(col("__hit"), lit(false)).as("ok"))
    Seq(("corpus_manifest_matches_one_shot", mEq),
        ("index_matches_one_shot_update", ixEq)).toDF("check", "ok")
      .unionByName(probeRows)
  }

  /** The driver gate: the registered streaming takedown set (ids ≥ 5,
    * id ≡ 4 mod 13 — disjoint from the batch gate's mod-17 set) split
    * into three micro-batches by id mod 3, derived arithmetically from
    * max(doc_id) (the streamUpsert fixture contract — no collect).
    * Hash-equal to the from-scratch chain on corpus ∖ union. */
  def streamRetract(spark: SparkSession, dir: String): DataFrame = {
    val n = graft.sources.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0)
    val all = (5L to n).filter(_ % 13 == 4)
    streamRetractFrom(spark, dir,
      (0L to 2L).map(r => all.filter(_ % 3 == r)))
  }

  /** Cross-artifact takedown closure (r16 verdict #5): ONE takedown
    * stream reaches BOTH stores a forget-this-doc event must leave —
    * the corpus membership frames AND the persisted IVF-PQ index —
    * atomically per micro-batch. Deletion that forgets in one store
    * but not the other is a compliance bug at any scale; until now the
    * two retract paths (streamRetract, IvfPq.retract) were each gated
    * alone with nothing proving the joint contract.
    *
    * Fixture: the registered mod-13 takedown set. Each taken-down doc
    * has a registered embedding in the index — a byte-copy of probe
    * (doc_id mod 5), keyed `doc_id + voff` (the pipeline's doc→vector
    * key mapping; voff clears the at-rest vec_id range). Copies score
    * the MINIMAL ADC against their twin probe, so a missed index
    * retraction cannot hide in the tail of the top-k — it flips the
    * probe's verdict. Per batch, the SAME event set drives the
    * bounded-blast frames delta AND the codes anti-join; both
    * checkpoint to batchId-named parquet (idempotent, flat lineage).
    *
    * Output (all closed-form booleans, hash-gated vs a literal):
    *  - `corpus_manifest_matches_one_shot` — the streamed frames land
    *    on the ONE-SHOT batch retraction of the union (an independent
    *    code path: corpusRetractFrom's single delta over the same
    *    at-rest artifacts)
    *  - `probe_<i>_index_identical` — per-probe (candidate, ADC) sets
    *    of the final index are BYTE-identical to the never-appended
    *    base (the q_ivfpq_retract_planted closure, reached through
    *    the stream: one leftover code row reds it). */
  def streamRetractFull(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.{PipelineQueries => PQ}
    import graft.operators.IvfPq
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val n = docs.agg(max(col("doc_id"))).head.getLong(0)
    val all = (5L to n).filter(_ % 13 == 4)
    val batches = (0L to 2L).map(r => all.filter(_ % 3 == r))
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 5)
    val voff = emb.agg(max(col("vec_id")).cast("long"))
      .head.getLong(0) + 1
    val twins = all.toDF("doc_id")
      .withColumn("__p", pmod(col("doc_id"), lit(5)).cast("long"))
      .join(broadcast(probes.select(col("vec_id").as("__p"),
        col("embedding"))), Seq("__p"))
      .select((col("doc_id") + voff).as("vec_id"), col("embedding"))
    val base = PQ.ivfPqIndex(spark, dir)
    val out = java.nio.file.Files
      .createTempDirectory("graft_sretractf").toString
    // the at-rest pre-state a deployment holds when the takedown
    // stream starts: the index CONTAINS the victims' vectors
    var ix = IvfPq.append(base, twins, m = PQ.PqM, k = PQ.PqKCodes)
    writeSnapshot(ix.codes, s"$out/codes_pre")
    ix = IvfPq.Index(ix.centroids, ix.books,
      spark.read.parquet(s"$out/codes_pre"), ix.corpusId)
    // r17 optimization (guide §2.6): the one-shot comparison arms
    // depend only on the at-rest artifacts and the never-appended base
    // index — materialize them concurrently with the stream replay
    // (the streamAmendFull pattern)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val oneShotF = Future {
      val df = PQ.corpusRetractFrom(spark, dir, all.toDF("doc_id"))
        .cache()
      df.count(); df
    }
    val topBaseF = Future {
      val t = IvfPq.search(base, probes, k = 10,
          nprobe = PQ.IvfPqNprobe, m = PQ.PqM, kCodes = PQ.PqKCodes)
        .select("probe_id", "cand_id", "adc").cache()
      t.count(); t
    }
    val streamed = streamCrudRun(spark, dir,
      batches.map(_.map(CrudEvent.delete)), PQ.noPayload(docs),
      alsoPerBatch = { (ids, batchId) =>
        // the SAME events reach the vector store in the SAME batch
        val ixN = IvfPq.retract(ix,
          ids.select((col("doc_id") + voff).as("vec_id")))
        ixN.codes.write.mode("overwrite").parquet(s"$out/b$batchId/codes")
        ix = IvfPq.Index(ix.centroids, ix.books,
          spark.read.parquet(s"$out/b$batchId/codes"), ix.corpusId)
      }).manifest
    val oneShot = Await.result(oneShotF, Duration.Inf)
    val mEq = streamed.exceptAll(oneShot)
      .unionAll(oneShot.exceptAll(streamed)).isEmpty
    def top(i: IvfPq.Index) =
      IvfPq.search(i, probes, k = 10, nprobe = PQ.IvfPqNprobe,
        m = PQ.PqM, kCodes = PQ.PqKCodes)
        .select("probe_id", "cand_id", "adc")
    val topBase = Await.result(topBaseF, Duration.Inf)
    val bad = topBase.exceptAll(top(ix))
      .unionAll(top(ix).exceptAll(topBase))
      .select(col("probe_id"), lit(false).as("__bad")).distinct()
    val probeRows = probes.select(col("vec_id").as("probe_id"))
      .join(bad, Seq("probe_id"), "left")
      .select(concat(lit("probe_"), col("probe_id").cast("string"),
        lit("_index_identical")).as("check"),
        col("__bad").isNull.as("ok"))
    Seq(("corpus_manifest_matches_one_shot", mEq)).toDF("check", "ok")
      .unionByName(probeRows)
  }

  /** Streaming upsert maintenance gate ([[StreamUpsert]]): three
    * sequential CDC delta batches — full insert, then update-%5 /
    * delete-%7, then update-%3 / delete-%11 — stream through the
    * foreachBatch merge sink; returns the final committed snapshot.
    * The fixture's text derives from `md5(doc_id)` so the DuckDB oracle
    * reconstructs the final state closed-form (delete-wins, later
    * upserts replace, deletes resurrect on re-upsert). The delta
    * batches are driver-generated fixture rows (MemoryStream's
    * contract, same as every streaming spec — bounded by the doc-id
    * range); production deltas arrive from a real source and the sink
    * path is identical. */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame =
    upsertFixture(spark, dir, "graft_supsert").current(spark).get

  /** The three CDC batches of [[streamUpsert]] streamed through a fresh
    * [[StreamUpsert]] sink under `prefix` temp dirs; returns the sink
    * with every batch committed. The checkpoint is deleted once the
    * query stops — nothing reads it afterwards. */
  private def upsertFixture(spark: SparkSession, dir: String,
      prefix: String): StreamUpsert = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = graft.sources.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head.getLong(0) + 1
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def base(i: Long) = "d " + md5hex(i.toString)
    val ids = 0L until n
    val b0 = ids.map(i => (i, base(i), false))
    val b1 = ids.filter(_ % 5 == 0).map(i => (i, base(i) + " u2", false)) ++
      ids.filter(_ % 7 == 0).map(i => (i, "", true))
    val b2 = ids.filter(_ % 3 == 0).map(i => (i, base(i) + " u3", false)) ++
      ids.filter(_ % 11 == 0).map(i => (i, "", true))
    val baseDir = java.nio.file.Files.createTempDirectory(prefix).toString
    val ckpt = java.nio.file.Files.createTempDirectory(prefix + "_ckpt")
    val sink = new StreamUpsert(baseDir, "doc_id", "is_delete")
    val input = MemoryStream[(Long, String, Boolean)]
    val q = input.toDF().toDF("doc_id", "text", "is_delete")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch(sink.write _).start()
    try Seq(b0, b1, b2).foreach { b =>
      input.addData(b); q.processAllAvailable()
    } finally { q.stop(); deleteTree(ckpt) }
    sink
  }

  /** Time travel over the [[StreamUpsert]] snapshot store: the same
    * three CDC microbatches as [[streamUpsert]], then ONE
    * order-independent manifest digest per committed version
    * ([[graft.operators.ManifestDigest]] at buckets = 1) — "what did
    * the corpus look like after batch N" answered from immutable
    * committed snapshots, no log replay. The oracle rebuilds each
    * version's state closed-form and reproduces the digest. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val sink = upsertFixture(spark, dir, "graft_ttravel")
    sink.versions().map { v =>
      graft.operators.ManifestDigest
        .manifest(sink.at(spark, v), "doc_id", Seq("text"), buckets = 1)
        .select(lit(v).as("version"), col("n_rows"), col("digest"))
    }.reduce(_ unionByName _)
  }

  /** Streaming COUNT(DISTINCT) IVM ([[StreamIvm]]): three microbatches
    * of signed order deltas — full insert, the %13 deletes, the %17
    * offset-custkey twins — fold into the persisted multiplicity
    * state batch by batch; the gate reads exact per-priority distinct
    * counts off the final committed state. Same post-delta multiset
    * as q_incremental_distinct, restricted to the %4 order subset so
    * the driver-side fixture stays small at every SF. */
  def streamIvm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // gate-fixture construction only (the production sink consumes a
    // real stream) — but a driver collect still gets the repo's loud
    // cap: limit(cap+1) bounds the transfer to one extra row, and the
    // require fails before an oversized fixture OOMs the driver
    val maxFixtureRows = 500000
    val collected = graft.sources.Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 4 === 0)
      .select("o_orderkey", "o_orderpriority", "o_custkey")
      .limit(maxFixtureRows + 1).collect()
    require(collected.length <= maxFixtureRows,
      s"streamIvm gate fixture: > $maxFixtureRows driver rows — the " +
        "fixture subset no longer fits the driver; tighten the % filter")
    val o = collected.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val b0 = o.toSeq.map { case (_, p, c) => (p, c, 1) }
    val b1 = o.toSeq.filter(_._1 % 13 == 0)
      .map { case (_, p, c) => (p, c, -1) }
    val b2 = o.toSeq.filter(_._1 % 17 == 0)
      .map { case (_, p, c) => (p, c + 900000000L, 1) }
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft_sivm").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sivm_ckpt").toString
    val sink = new StreamIvm(baseDir, Seq("o_orderpriority"),
      "o_custkey", "op")
    val input = MemoryStream[(String, Long, Int)]
    val q = input.toDF().toDF("o_orderpriority", "o_custkey", "op")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(sink.write _).start()
    try Seq(b0, b1, b2).foreach { b =>
      input.addData(b); q.processAllAvailable()
    } finally q.stop()
    sink.counts(spark).get
  }

  /** Streaming temporal enrichment ([[graft.operators.TemporalJoin]]
    * per microbatch): the replayed event stream point-in-time joined
    * against a STATIC SCD2 dimension inside foreachBatch — the
    * feature-store "as of event time" read in its streaming form. The
    * sort-merge as-of plan node runs unchanged on each batch (a batch
    * DataFrame), outputs land through the [[EosSink]] marker protocol
    * (idempotent under replay), and the gate reads the committed
    * union. Dimension: per-user validity intervals derived closed-form
    * from the user id (epoch-µs boundaries at `uid%3+1` and `uid%5+2`
    * days with md5 version payloads), so the DuckDB oracle rebuilds
    * dimension AND join exactly. */
  def streamTemporal(spark: SparkSession, dir: String): DataFrame = {
    val dim = temporalDim(spark, dir)
    val out = java.nio.file.Files
      .createTempDirectory("graft_stemporal").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stemporal_ckpt").toString
    val sink = new EosSink(out)
    val q = replayEvents(spark, dir)
      .select("event_id", "user_id", "ts")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val joined = graft.operators.TemporalJoin.pointInTime(
          batch.withColumn("ts_us", unix_micros(col("ts"))),
          dim, "user_id", "ts_us", "valid_from", "valid_to",
          carry = Seq("payload"))
        sink.write(joined, batchId)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    EosSink.readCommitted(spark, out)
      .select("event_id", "user_id", "asof_valid_from", "asof_payload")
  }

  /** Closed-form SCD2 dimension for [[streamTemporal]]: per user two
    * versions — `[start, start+(uid%3+1)d)` then
    * `[start+(uid%3+1)d, start+(uid%3+1+uid%5+2)d)` — then deleted;
    * boundaries in epoch µs, payload = md5(uid, version). */
  private def temporalDim(spark: SparkSession, dir: String): DataFrame = {
    val users = graft.sources.Tables.events(spark, dir)
      .select(col("user_id")).distinct()
    val start = lit(1704067200000000L) // 2024-01-01 UTC, µs
    val d1 = (col("user_id") % 3 + 1) * 86400000000L
    val d2 = (col("user_id") % 5 + 2) * 86400000000L
    val v1 = users.select(col("user_id"),
      start.as("valid_from"), (start + d1).as("valid_to"),
      md5(concat(col("user_id").cast("string"), lit("_v1"))).as("payload"))
    val v2 = users.select(col("user_id"),
      (start + d1).as("valid_from"), (start + d1 + d2).as("valid_to"),
      md5(concat(col("user_id").cast("string"), lit("_v2"))).as("payload"))
    v1.unionByName(v2)
  }

  /** Every streaming replay as (name, plan, mode) — one list for tools
    * (state profiling) so they drive exactly the driver queries' plans. */
  def replayPlans(spark: SparkSession, dir: String)
      : Seq[(String, DataFrame, OutputMode)] = Seq(
    ("stream_window_agg", tumblingPlan(spark, dir), OutputMode.Complete()),
    ("stream_sliding", slidingPlan(spark, dir), OutputMode.Complete()),
    ("stream_session", sessionPlan(spark, dir), OutputMode.Complete()),
    ("stream_dedup", streamDedupPlan(spark, dir), OutputMode.Append()),
    ("stream_stream_join", streamStreamPlan(spark, dir), OutputMode.Append()),
    ("stream_static_join", streamStaticPlan(spark, dir),
      OutputMode.Complete()),
    ("stream_stateful", statefulPlan(spark, dir), OutputMode.Append()),
    ("stream_decontam", streamDecontamPlan(spark, dir),
      OutputMode.Complete()),
    ("stream_chunks", streamChunksPlan(spark, dir), OutputMode.Append()),
    ("stream_neardup", streamNearDupPlan(spark, dir),
      OutputMode.Complete()),
    ("stream_blocklist", streamBlocklistPlan(spark, dir),
      OutputMode.Append()))
}
