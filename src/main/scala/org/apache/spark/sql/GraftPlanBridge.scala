package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Bridge into `private[sql]` plan constructors, so graft's custom logical
  * operators (graft.plans.*) can surface as ordinary DataFrames. Lives in
  * the org.apache.spark.sql package solely for access; contains no logic. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Materialize what a SparkSessionExtensions module would inject —
    * `build*` accessors are `private[sql]`, this exposes them to tests. */
  def buildExtensionParts(f: SparkSessionExtensions => Unit,
      spark: SparkSession): (Seq[org.apache.spark.sql.execution.SparkStrategy],
        Seq[Rule[LogicalPlan]]) = {
    val exts = new SparkSessionExtensions
    f(exts)
    val cs = spark.asInstanceOf[classic.SparkSession]
    (exts.buildPlannerStrategies(cs), exts.buildOptimizerRules(cs))
  }

  /** Late attach: append the strategies and rules `f` would inject at
    * session build to the session's runtime `experimental` hooks.
    * Query-stage rules have no runtime hook, so they stay out. */
  def attach(f: SparkSessionExtensions => Unit, spark: SparkSession): Unit = {
    val (strategies, rules) = buildExtensionParts(f, spark)
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.experimental.extraStrategies = cs.experimental.extraStrategies ++
      strategies.filterNot(cs.experimental.extraStrategies.contains)
    cs.experimental.extraOptimizations = cs.experimental.extraOptimizations ++
      rules.filterNot(cs.experimental.extraOptimizations.contains)
  }

  /** Every logical rule the session's optimizer runs, injected and
    * experimental ones included. */
  def optimizerRules(spark: SparkSession): Seq[Rule[LogicalPlan]] =
    spark.asInstanceOf[classic.SparkSession].sessionState.optimizer
      .batches.flatMap(_.rules)

  /** The query-stage prep rules the session's adaptive planner runs
    * beyond Spark's own (fixed when the session state is built; a late
    * attach cannot add to them). */
  def queryStagePrepRules(spark: SparkSession)
      : Seq[Rule[org.apache.spark.sql.execution.SparkPlan]] =
    spark.asInstanceOf[classic.SparkSession].sessionState
      .adaptiveRulesHolder.queryStagePrepRules
}
