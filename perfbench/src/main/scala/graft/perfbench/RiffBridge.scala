package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.UppercaseFunction
import graft.streaming.{Bridge, EosSink}

/** The reference pipeline: riff frames from a MemoryStream through
  * `Bridge.transform(…, UppercaseFunction)` into `EosSink.write`.
  *
  *  - open loop: one generator thread offers the `open` frames at a
  *    fixed rate; each record's latency runs from its due time (the
  *    `due_ns` header) to the EosSink commit of its batch, so a stall
  *    also charges the records queued behind it;
  *  - drain: closed loop, one batch of `drain_batch` frames in flight.
  */
object RiffBridge {

  /** Generator tick: frames due within one tick are offered together. */
  val TickNs = 10000000L

  /** A frame as the generator wrote it, parsed without the engine's
    * decoder so the output check does not trust the code it checks. */
  final case class Frame(headers: Map[String, Seq[String]], payload: Array[Byte]) {
    def seq: Long = headers("seq").head.toLong
    def dueNs: Long = headers("due_ns").head.toLong
  }

  def readFrames(p: Path): Array[Array[Byte]] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(p)))
    try {
      val out = Array.newBuilder[Array[Byte]]
      while (in.available() > 0) {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        out += b
      }
      out.result()
    } finally in.close()
  }

  private val JsonString = "\"([^\"]*)\"".r

  def parse(b: Array[Byte]): Frame = {
    val bb = java.nio.ByteBuffer.wrap(b)
    require(bb.get() == 0xff.toByte, "bad frame marker")
    val n = bb.get().toInt
    val headers = (0 until n).map { _ =>
      val name = new Array[Byte](bb.get().toInt)
      bb.get(name)
      val json = new Array[Byte](bb.getInt())
      bb.get(json)
      new String(name, UTF_8) ->
        JsonString.findAllMatchIn(new String(json, UTF_8)).map(_.group(1)).toSeq
    }.toMap
    val payload = new Array[Byte](bb.remaining())
    bb.get(payload)
    Frame(headers, payload)
  }

  /** A running bridge query writing to its own EosSink directory. */
  final class Pipeline(ctx: Main.Ctx, sinkDir: Path) {
    private val spark = ctx.spark
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    // one input partition per core in every batch, like a topic with one
    // partition per core, however many offers the batch collected
    val input: MemoryStream[Array[Byte]] = MemoryStream[Array[Byte]](ctx.cpus)
    val commitNs = new ConcurrentHashMap[Long, Long]()
    private val sink = new EosSink(sinkDir.toString)
    val query: StreamingQuery = Bridge.transform(ctx.spark, input.toDF().toDF("value"), UppercaseFunction)
      .writeStream
      .option("checkpointLocation", sinkDir.resolveSibling(s"${sinkDir.getFileName}_ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ctx.tracer.span("eos_sink.write")(sink.write(batch, batchId))
        commitNs.put(batchId, System.nanoTime())
        ()
      }
      .start()

    /** Offers one batch and waits until it is committed. */
    def send(frames: Seq[Array[Byte]]): Unit = {
      input.addData(frames)
      query.processAllAvailable()
    }

    /** Closed loop: one batch of `batch` frames in flight; returns the
      * seconds each batch took from offer to commit. */
    def drain(frames: Array[Array[Byte]], batch: Int): Seq[Double] =
      frames.grouped(batch).map { b =>
        val t0 = System.nanoTime()
        send(b.toSeq)
        Main.seconds(t0)
      }.toList
  }

  def run(ctx: Main.Ctx): Unit = {
    val warm = readFrames(ctx.inputs.resolve("warm.bin"))
    val open = readFrames(ctx.inputs.resolve("open.bin"))
    val drain = readFrames(ctx.inputs.resolve("drain.bin"))
    val batch = ctx.int("drain_batch")
    val root = ctx.work.resolve("bridge")

    var pipe: Pipeline = null
    val setup = (0 until ctx.int("setup_reps")).map { r =>
      if (pipe != null) pipe.query.stop()
      val t0 = System.nanoTime()
      ctx.layers("api.session_build_s") = ctx.newSession()
      pipe = new Pipeline(ctx, root.resolve(s"rep$r"))
      pipe.send(warm.toSeq)
      Main.seconds(t0)
    }
    ctx.result("setup_s") = setup
    ctx.layers("functions.register_ms") = RegisterProbe.ms(ctx)
    ctx.layers("sources.artifact_build_s") = 0.0
    val sinkDir = root.resolve(s"rep${setup.size - 1}")

    // open loop at the generator's fixed rate
    ctx.tracer.enabled = ctx.traced
    // the last set-up's warm batch must not count as an open-loop batch
    ctx.tracer.drain(ctx.spark)
    ctx.tracer.takeProgress()
    val before = ctx.tracer.snapshot()
    val due = open.map(parse(_).dueNs)
    val lagNs = new Array[Long](open.length)
    val startNs = System.nanoTime() + 20000000L
    // the generator wakes every TickNs and offers every frame due by then
    val generator = new Thread(() => {
      var i = 0
      var tick = startNs
      while (i < open.length) {
        tick = math.max(tick + TickNs, startNs + due(i))
        val wait = tick - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        val now = System.nanoTime()
        var j = i
        while (j < open.length && startNs + due(j) <= now) j += 1
        if (j > i) {
          pipe.input.addData(open.slice(i, j).toSeq)
          val sent = System.nanoTime()
          for (k <- i until j) lagNs(k) = sent - (startNs + due(k))
          i = j
        }
      }
    }, "bench-generator")
    generator.start()
    generator.join()
    val offeredEndNs = System.nanoTime()
    ctx.attempt("open loop flush", 0)(pipe.query.processAllAvailable())
    val openWall = (System.nanoTime() - startNs) / 1e9
    ctx.tracer.drain(ctx.spark)
    // batch 0 of the query is the set-up's warm batch
    val openBatches = ctx.tracer.takeProgress().filter(p => p.inputRows > 0 && p.batchId > 0)
    if (ctx.traced) {
      Main.sparkLayers(ctx, before, openWall, math.max(1, openBatches.size).toDouble)
      def avg(k: String) = openBatches.map(_.durationMs.getOrElse(k, 0L)).sum.toDouble /
        math.max(1, openBatches.size)
      ctx.layers("streaming.trigger_ms") = avg("triggerExecution")
      ctx.layers("streaming.add_batch_ms") = avg("addBatch")
      ctx.layers("streaming.query_planning_ms") = avg("queryPlanning")
      ctx.layers("streaming.wal_commit_ms") = avg("walCommit")
      ctx.layers("streaming.commit_offsets_ms") = avg("commitOffsets")
      ctx.layers("eos_sink.write_ms") =
        1e3 * ctx.tracer.spanSeconds("eos_sink.write") / math.max(1, openBatches.size)
      ctx.layers("bridge.generator_lag_s") = lagNs.max / 1e9
    }
    ctx.tracer.enabled = false

    // closed-loop drain: throughput from the median batch
    val drainS = ctx.attempt("drain", 0)(pipe.drain(drain, batch)).getOrElse(Nil)
    ctx.result("drain_batch_records") = batch
    ctx.result("drain_batch_s") = drainS
    pipe.query.stop()
    ctx.result("open_batches") = openBatches.size
    ctx.result("open_batch_trigger_ms") = openBatches.map(_.durationMs.getOrElse("triggerExecution", 0L))
    ctx.result("open_batch_rows") = openBatches.map(_.inputRows)
    ctx.result("open_wall_s") = openWall

    // output check: every seq committed exactly once, payload uppercased,
    // headers preserved; latency from due time to the batch's commit
    val expected = (warm ++ open ++ drain).map(parse)
    ctx.attempted += expected.length
    val bySeq = expected.map(f => f.seq -> f).toMap
    val BatchDir = ".*/batch_(\\d+)/.*".r
    val committed = EosSink.readCommitted(ctx.spark, sinkDir.toString)
      .select(col("_metadata.file_path").as("path"), col("value")).collect()
    val seen = new java.util.HashMap[Long, Integer]()
    val commitOf = new Array[Long](open.length)
    var backlog = 0L
    committed.foreach { r =>
      val msg = graft.serde.RiffWire.decode(r.getAs[Array[Byte]]("value"))
      val seq = msg.headers.get("seq").flatMap(_.headOption).map(_.toLong).getOrElse(-1L)
      seen.merge(seq, 1, (a, b) => a + b)
      bySeq.get(seq) match {
        case None => ctx.fail(s"unexpected seq $seq")
        case Some(f) =>
          val upper = new String(f.payload, UTF_8).toUpperCase(java.util.Locale.ROOT).getBytes(UTF_8)
          if (!java.util.Arrays.equals(msg.payload, upper)) ctx.fail(s"seq $seq: payload not uppercased")
          else if (msg.headers != f.headers) ctx.fail(s"seq $seq: headers changed")
          else if (seq < open.length) {
            val BatchDir(id) = r.getAs[String]("path")
            val commit = pipe.commitNs.get(id.toLong)
            commitOf(seq.toInt) = commit - startNs
            if (commit > offeredEndNs) backlog += 1
          }
      }
    }
    bySeq.keys.foreach { s =>
      val n = Option(seen.get(s)).map(_.intValue).getOrElse(0)
      if (n != 1) ctx.fail(s"seq $s committed $n times")
    }
    // per open-loop record, relative to the phase start: when it was
    // due, when the generator offered it, when its batch committed
    ctx.result("open_due_s") = due.map(_ / 1e9)
    ctx.result("open_sent_s") = due.indices.map(i => (due(i) + lagNs(i)) / 1e9)
    ctx.result("open_commit_s") = commitOf.map(c => if (c == 0L) Double.NaN else c / 1e9)
    Hygiene.measureAndClean(ctx)
    if (ctx.traced) {
      ctx.layers("bridge.backlog_end_records") = backlog.toDouble
      // tracing overhead on a drain of its own sink (no output check)
      val probe = new Pipeline(ctx, root.resolve("overhead"))
      probe.send(warm.toSeq)
      Main.traceOverhead(ctx)(probe.drain(drain.take(4 * batch), batch))
      probe.query.stop()
      // the single-thread baseline: the first 14 drain batches on local[1]
      ctx.newSession("local[1]", 1)
      val single = new Pipeline(ctx, root.resolve("local1"))
      single.send(warm.toSeq)
      ctx.layers("bridge.local1_records_per_s") =
        batch / Main.median(single.drain(drain.take(14 * batch), batch))
      single.query.stop()
    }
  }
}

/** Function-registry cost: registering the engine's functions on a
  * fresh child session of the current one. */
object RegisterProbe {
  def ms(ctx: Main.Ctx): Double = {
    val s = ctx.spark.newSession()
    val t0 = System.nanoTime()
    ctx.tracer.span("functions.register")(graft.functions.GraftFunctions.register(s))
    Main.seconds(t0) * 1e3
  }
}
