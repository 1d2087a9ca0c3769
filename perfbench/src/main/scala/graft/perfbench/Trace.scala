package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, start and end (ns), the span it
  * ran inside (-1 at top level) and the run it belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, runId: String)

/** One committed micro-batch as `StreamingQueryProgress` reports it. */
final case class BatchProgress(batchId: Long, inputRows: Long, durationMs: Map[String, Long])

/** In-memory spans and counters of one run. Spark-native listeners feed
  * the counters; nothing in the engine is instrumented. While `enabled`
  * is false spans and listener counters record nothing, which is the
  * untraced configuration. Streaming progress is always kept: the
  * corpus workload's per-batch latency comes from it. */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  // job-busy accounting: time with at least one traced job running
  private val runningJobs = scala.collection.mutable.Set.empty[Int]
  private var busySince = 0L
  private var busyNs = 0L

  def add(key: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = spans.synchronized { spans += null; spans.size - 1 }
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans(id) = Span(id, name, t0, t1, parent, runId) }
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Summed duration (s) of finished spans with this name. */
  def spanSeconds(name: String): Double =
    allSpans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Counter values plus the job-busy time up to now. */
  def snapshot(): Map[String, Double] = synchronized {
    val busy = busyNs + (if (runningJobs.nonEmpty) System.nanoTime() - busySince else 0L)
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap +
      ("spark.job_busy_s" -> busy / 1e9)
  }

  def takeProgress(): Seq[BatchProgress] = {
    val out = progress.asScala.toList
    progress.clear()
    out
  }

  private def jobStarted(id: Int): Unit = synchronized {
    if (runningJobs.isEmpty) busySince = System.nanoTime()
    runningJobs += id
  }

  private def jobEnded(id: Int): Unit = synchronized {
    if (runningJobs.remove(id) && runningJobs.isEmpty) busyNs += System.nanoTime() - busySince
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) { add("spark.jobs", 1); jobStarted(e.jobId) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnded(e.jobId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled) {
        add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("spark.task_run_s", m.executorRunTime / 1e3)
          add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
          add("spark.gc_s", m.jvmGCTime / 1e3)
          add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        add("catalyst.queries", 1)
        add("catalyst.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
        val nodes = Tracer.nodes(qe.executedPlan)
        add("catalyst.exchanges", nodes.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        }.toDouble)
        nodes.foreach {
          case w: DataWritingCommandExec =>
            w.metrics.get("numFiles").foreach(m => add("sql.files_written", m.value.toDouble))
            w.metrics.get("numOutputBytes").foreach(m => add("sql.bytes_written", m.value.toDouble))
          case _ => ()
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      add("catalyst.failed_queries", 1)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(BatchProgress(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Attaches the three listeners to a freshly built session. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

object Tracer {
  /** Every physical node of a plan, looking through adaptive plans and
    * query stages; a reused exchange counts once, where it was built. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
