package graft.perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Decontam, Dedup, SetSimJoin}
import graft.queries.{PipelineQueries => PQ}
import graft.sources.Tables
import graft.streaming.StreamOps

/** The corpus lifecycle on a generated corpus with planted duplicates
  * and contamination: the day-1 build of the at-rest artifacts, the
  * chain from scratch, the day-2 incremental path, then K amendment
  * micro-batches and K retraction micro-batches streamed through the
  * corpus state machine. Set-up is the session and the corpus read. */
object CorpusCycle {

  def run(ctx: Main.Ctx): Unit = {
    val src = ctx.inputs.resolve("corpus")
    val batches = Files.readAllLines(ctx.inputs.resolve("crud_batches.txt")).asScala.toList
      .map(_.trim.split(" ").toList).filter(_.size > 1)
    def idBatches(kind: String) = batches.filter(_.head == kind).map(_.tail.map(_.toLong))
    val amendBatches = idBatches("amend")
    val retractBatches = idBatches("retract")

    val setup = (0 until ctx.int("setup_reps")).map { _ =>
      val t0 = System.nanoTime()
      ctx.layers("api.session_build_s") = ctx.newSession()
      Tables.documents(ctx.spark, src.toString).count()
      Main.seconds(t0)
    }
    ctx.result("setup_s") = setup
    ctx.layers("functions.register_ms") = RegisterProbe.ms(ctx)

    val spark = ctx.spark
    val dir = src.toString
    val docs = Tables.documents(spark, dir)
    val amendments = spark.read.parquet(ctx.inputs.resolve("amendments.parquet").toString)

    ctx.tracer.enabled = ctx.traced
    ctx.tracer.takeProgress()
    // day 1: the at-rest artifacts the incremental and streamed paths
    // read, built from scratch (the run's index directory starts empty)
    val failedBefore = ctx.failed
    val a0 = System.nanoTime()
    ctx.attempt("artifact build") {
      ctx.tracer.span("sources.artifact_build") {
        PQ.ensureCorpusIncrementalArtifacts(spark, dir)
        PQ.ensureCorpusRetractArtifacts(spark, dir)
      }
    }
    val artifactWall = Main.seconds(a0)
    ctx.layers("sources.artifact_build_s") = artifactWall
    ctx.result("artifact_s") = artifactWall
    Main.note(f"corpus artifacts: $artifactWall%.1f s")

    var snap = ctx.tracer.snapshot()
    val t0 = System.nanoTime()
    val chain = ctx.attempt("chain") {
      val t = System.nanoTime()
      val rows = ctx.tracer.span("queries.corpus_end2end")(PQ.corpusEnd2EndFrom(docs, None).collect())
      (rows, Main.seconds(t))
    }
    val daily = ctx.attempt("incremental") {
      val t = System.nanoTime()
      val rows = ctx.tracer.span("queries.corpus_incremental")(PQ.corpusIncremental(spark, dir).collect())
      (rows, Main.seconds(t))
    }
    val chainWall = Main.seconds(t0)
    Main.note(f"corpus chain and incremental: $chainWall%.1f s")
    if (ctx.traced) Main.sparkLayers(ctx, snap, chainWall, 2.0)
    val chainLayers = ctx.layers.filter(_._1.startsWith("catalyst.exchanges")).toMap

    // the streamed CRUD phases: per-batch latency from StreamingQueryProgress
    snap = ctx.tracer.snapshot()
    val s0 = System.nanoTime()
    val amended = ctx.attempt("stream amend", amendBatches.size) {
      ctx.tracer.span("streaming.amend_run") {
        StreamOps.streamAmendRun(spark, dir, amendBatches, amendments).manifest
      }
    }
    ctx.tracer.drain(spark)
    val amendProgress = ctx.tracer.takeProgress().filter(_.inputRows > 0)
    val retracted = ctx.attempt("stream retract", retractBatches.size) {
      ctx.tracer.span("streaming.retract_run")(StreamOps.streamRetractFrom(spark, dir, retractBatches))
    }
    ctx.tracer.drain(spark)
    val retractProgress = ctx.tracer.takeProgress().filter(_.inputRows > 0)
    val streamWall = Main.seconds(s0)
    Main.note(f"corpus streamed amend and retract: $streamWall%.1f s")
    if (ctx.traced) {
      val nb = math.max(1, amendProgress.size + retractProgress.size).toDouble
      Main.sparkLayers(ctx, snap, streamWall, nb)
      ctx.layers ++= chainLayers
      ctx.layers("streaming.trigger_ms") =
        (amendProgress ++ retractProgress).map(_.durationMs.getOrElse("triggerExecution", 0L)).sum / nb
    }
    ctx.tracer.enabled = false

    def batchSeconds(ps: Seq[BatchProgress]) =
      ps.map(_.durationMs.getOrElse("triggerExecution", 0L) / 1e3)
    chain.foreach(c => ctx.result("chain_s") = c._2)
    daily.foreach(d => ctx.result("daily_s") = d._2)
    ctx.result("amend_batch_s") = batchSeconds(amendProgress)
    ctx.result("retract_batch_s") = batchSeconds(retractProgress)
    if (amended.isDefined && amendProgress.size != amendBatches.size)
      ctx.fail(s"amend: ${amendProgress.size} progress events for ${amendBatches.size} batches")
    if (retracted.isDefined && retractProgress.size != retractBatches.size)
      ctx.fail(s"retract: ${retractProgress.size} progress events for ${retractBatches.size} batches")
    // the whole cycle, its three phases end to end, when none of it failed
    if (ctx.failed == failedBefore) ctx.result("cycle_s") = artifactWall + chainWall + streamWall

    // output checks, in run.py: DuckDB replays the registered from-scratch
    // oracle of q_corpus_end2end over the generated corpus (for the chain
    // and the incremental manifest) and over the corpus each stream leaves
    // behind (for the streamed amend and retract manifests)
    val oracleSql = graft.SparkEntry.oracleSql("q_corpus_end2end")
    def forOracle(name: String, world: String, rows: => Array[Row]): Option[(String, Any)] =
      ctx.attempt(s"$name manifest", 0) {
        val out = ctx.work.resolve(s"${name}_manifest").toString
        val manifest = rows
        spark.createDataFrame(java.util.Arrays.asList(manifest: _*), manifestSchema(docs))
          .coalesce(1).write.mode("overwrite").parquet(out)
        name -> Map("sql" -> oracleSql, "tables" -> ctx.inputs.resolve(world).toString, "output" -> out)
      }
    ctx.result("oracle") = (chain.toSeq.flatMap(c => forOracle("chain", "corpus", c._1)) ++
      daily.toSeq.flatMap(d => forOracle("incremental", "corpus", d._1)) ++
      amended.toSeq.flatMap(m => forOracle("stream_amend", "world_amend", m.collect())) ++
      retracted.toSeq.flatMap(m => forOracle("stream_retract", "world_retract", m.collect()))).toMap
    Main.note("corpus checks done")
    Hygiene.measureAndClean(ctx)
    if (ctx.traced) {
      stageProbe(ctx, docs)
      // the day-2 run, its cached delta dropped first so each pass does the work
      Main.traceOverhead(ctx) { spark.catalog.clearCache(); PQ.corpusIncremental(spark, dir).collect() }
    }
  }

  private def manifestSchema(docs: DataFrame) = PQ.corpusEnd2EndFrom(docs.limit(0), None).schema

  /** Each chain stage through its public function, on materialized
    * inputs, so a stage's time excludes the stages before it. */
  private def stageProbe(ctx: Main.Ctx, docs: DataFrame): Unit = {
    def timed(name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = ctx.tracer.span(s"corpus.stage.$name")(df.cache())
      out.count()
      ctx.layers(s"corpus.stage.${name}_s") = Main.seconds(t0)
      out
    }
    val input = docs.cache()
    input.count()
    val quality = timed("quality")(PQ.qualityGate(input))
    val keep = timed("exact_dedup")(Dedup.exactByContent(quality, "doc_id", "text"))
    val s2 = quality.join(keep.select(col("keep_id").as("doc_id")), "doc_id").cache()
    val tokens = s2.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("tk")).cache()
    tokens.count()
    val pairs = timed("near_dup")(SetSimJoin.joinByJaccard(tokens, "doc_id", "tk", minJaccard = 0.6))
    val s3 = s2.join(pairs.select(col("id2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .filter(col("doc_id") >= 5).cache()
    s3.count()
    val bench = input.filter(col("doc_id") < 5).cache()
    bench.count()
    val cont = timed("decontam")(Decontam.overlapHashed(s3, bench, "doc_id", "text", n = 5))
    val s4 = s3.join(cont.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens").cache()
    s4.count()
    timed("finish")(PQ.corpusFinish(s4))
    ctx.spark.catalog.clearCache()
  }
}
