package graft.api

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.GraftFunctions

/** The whole engine surface as one session extension: every function of
  * the [[GraftFunctions]] table, the planner strategies for the custom
  * TopKPerGroup / AsOfJoin nodes, the filter pushdown rules through them,
  * the materialized-summary rewrite and the query-stage rule that makes a
  * broadcast of driver-held rows job-free
  * ([[org.apache.spark.sql.JobFreeLocalBroadcast]]). `Engine.builder`
  * applies it; on a cluster
  * `--conf spark.sql.extensions=graft.api.GraftExtensions` does the same
  * with no driver code. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.builders.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopKPerGroup)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    e.injectOptimizerRule(s => graft.plans.RewriteAggregateToSummary(s))
    e.injectQueryStagePrepRule(_ =>
      org.apache.spark.sql.JobFreeLocalBroadcast)
  }
}

/** The one way a session is built. A graft session comes from
  * `Engine.session` / `Engine.builder`, from the
  * `spark.sql.extensions=graft.api.GraftExtensions` conf, or from
  * [[GraftFunctions.register]] on a session built elsewhere; library code
  * assumes one of the three and registers nothing on the fly.
  *
  * The config block is the 100 TB posture scaled to one machine — on a
  * cluster only the master/memory lines change. */
object Engine {

  /** The common posture plus [[GraftExtensions]]; callers add their own
    * `.config` lines. `withExtensions` composes with a user's own
    * `spark.sql.extensions`. */
  def builder(master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet INT64 TIMESTAMP(NANOS); set at session build
      // so a user reading events before any Tables call can't race the
      // runtime flag Tables.events also sets (see USAGE.md)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table artifacts (Layout) land here, not in cwd; static
      // conf, so it binds when this builder creates the session
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  def session(master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession =
    builder(master, shufflePartitions).getOrCreate()
}
