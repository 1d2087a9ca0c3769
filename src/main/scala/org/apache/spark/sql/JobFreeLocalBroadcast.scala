package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, LocalTableScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric

/** Job-free broadcasts of driver-held rows. `BroadcastExchangeExec`
  * gathers its child through `executeCollectIterator`, which
  * `LocalTableScanExec` does not override, so every
  * `broadcast(ids.toSeq.toDF(...))` probe used to run a
  * parallelize-and-collect job for rows the driver already holds. This
  * query-stage prep rule (injected by `graft.api.GraftExtensions`; AQE
  * runs it after `EnsureRequirements` has placed the exchanges) swaps a
  * non-streaming local scan under a broadcast for [[LocalRowsExec]],
  * which hands the scan's rows over in place. The broadcast itself
  * stays: executors still hold one copy each, so a large delta set
  * never turns into per-task literals. Without AQE, or on a session
  * that attached the surface late, the rule does not run and the
  * broadcast pays its job as before. */
object JobFreeLocalBroadcast extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case b: BroadcastExchangeExec => b.child match {
      case scan: LocalTableScanExec if scan.stream.isEmpty =>
        val leaf = LocalRowsExec(scan)
        // AQE links each new query stage to the logical plan through the
        // first tagged node below its exchange: keep the scan's link
        leaf.copyTagsFrom(scan)
        b.withNewChildren(Seq(leaf))
      case _ => b
    }
  }
}

/** A local scan whose collects return its rows without a job; any other
  * use executes the scan itself. */
case class LocalRowsExec(scan: LocalTableScanExec) extends LeafExecNode {
  override def output: Seq[Attribute] = scan.output
  override lazy val metrics: Map[String, SQLMetric] = scan.metrics
  protected override def doExecute(): RDD[InternalRow] = scan.execute()
  override def executeCollect(): Array[InternalRow] = scan.executeCollect()
  override def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val rows = scan.executeCollect()
    (rows.length.toLong, rows.iterator)
  }
}
