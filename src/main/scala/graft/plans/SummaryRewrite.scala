package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Transparent materialized-summary rewrite — the serving half of the
  * engine's IVM story: [[graft.operators.IncrementalAgg]] keeps a
  * per-group rollup current under deltas; this optimizer rule makes
  * queries USE it without being rewritten by hand. An
  * `Aggregate(G, aggs, base)` whose grouping is a subset of a
  * registered summary's grouping and whose aggregates are derivable
  * (COUNT(*) → SUM(cnt), SUM(x) → SUM(sum_x), MIN/MAX(x) →
  * MIN/MAX(min_x/max_x)) re-targets the summary relation — at 100 TB
  * that is the difference between scanning the fact table and
  * scanning a few thousand rollup rows.
  *
  * Sound by construction: the rule rewrites ONLY when every grouping
  * expression, every aggregate, and every residual filter (over group
  * columns only) maps onto the summary; anything else — expressions
  * in GROUP BY, DISTINCT aggregates, FILTER clauses, AVG, non-column
  * aggregate children — leaves the plan untouched. Output attribute
  * ids are preserved (aliases re-use the original exprIds), so parent
  * operators resolve unchanged. Derived SUM re-aggregates the
  * summary's exact per-group partials, so results are identical when
  * the summed type is exact at both levels (longs, decimals,
  * integer-valued doubles) — the registrant owns that contract, and
  * FRESHNESS of the summary (the IncrementalAgg refresh loop).
  *
  * The rule rides [[graft.api.GraftExtensions]], so every graft session
  * carries it; `register` raises on a session that does not.
  */
object SummaryRewrite {

  /** @param groupCols summary grouping columns (same names as base)
    * @param cnt   summary column with per-group COUNT(*)
    * @param sums  base column → summary per-group SUM column
    * @param mins  base column → summary per-group MIN column
    * @param maxs  base column → summary per-group MAX column */
  final case class SummaryDef(groupCols: Set[String], cnt: String,
      sums: Map[String, String], mins: Map[String, String],
      maxs: Map[String, String], summary: LogicalRelation)

  // keyed by the base relation's root-path set (order-insensitive)
  private val registry = new ConcurrentHashMap[Set[String], SummaryDef]()

  private def rootPaths(plan: LogicalPlan): Option[Set[String]] =
    plan.collectFirst { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.map(_.toString).toSet
    }

  /** Register `summaryDf` (a plain parquet read of the rollup) as the
    * summary of `base`'s relation. */
  def register(spark: SparkSession, base: DataFrame, summaryDf: DataFrame,
      groupCols: Seq[String], cnt: String,
      sums: Map[String, String] = Map.empty,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty): Unit = {
    val baseKey = rootPaths(base.queryExecution.analyzed).getOrElse(
      throw new IllegalArgumentException(
        "summary base must be a file-source relation"))
    val rel = summaryDf.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l
    }.getOrElse(throw new IllegalArgumentException(
      "summary must be a plain file-source read (no transforms)"))
    val missing = (Seq(cnt) ++ sums.values ++ mins.values ++ maxs.values ++
      groupCols).filterNot(c => rel.output.exists(_.name == c))
    require(missing.isEmpty, s"summary lacks columns: ${missing.mkString(",")}")
    require(GraftPlanBridge.optimizerRules(spark)
        .exists(_.isInstanceOf[RewriteAggregateToSummary]),
      "this session does not carry RewriteAggregateToSummary: build it " +
        "with graft.api.Engine.session, or attach the engine surface " +
        "with graft.functions.GraftFunctions.register")
    registry.put(baseKey, SummaryDef(groupCols.toSet, cnt, sums, mins,
      maxs, rel))
  }

  /** Drop all registrations (tests). */
  def clear(): Unit = registry.clear()

  private[plans] def lookup(paths: Set[String]): Option[SummaryDef] =
    Option(registry.get(paths))
}

/** The rewrite rule — see [[SummaryRewrite]]. */
case class RewriteAggregateToSummary(spark: SparkSession)
    extends Rule[LogicalPlan] {
  import SummaryRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(group, aggExprs, child, _) =>
      rewrite(group, aggExprs, child).getOrElse(agg)
  }

  /** child shapes served: rel | Project(attrs, rel) | Filter(c, rel) |
    * Project(attrs, Filter(c, rel)). */
  private def unwrap(child: LogicalPlan)
      : Option[(LogicalRelation, Option[Expression])] = child match {
    case rel: LogicalRelation => Some((rel, None))
    case Project(ps, rel: LogicalRelation)
        if ps.forall(_.isInstanceOf[AttributeReference]) =>
      Some((rel, None))
    case Filter(c, rel: LogicalRelation) => Some((rel, Some(c)))
    case Project(ps, Filter(c, rel: LogicalRelation))
        if ps.forall(_.isInstanceOf[AttributeReference]) =>
      Some((rel, Some(c)))
    case _ => None
  }

  private def rewrite(group: Seq[Expression], aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    // a GLOBAL (no GROUP BY) aggregate diverges under the rewrite on an
    // empty base: COUNT(*) returns one row of 0, but SUM(cnt) over zero
    // summary rows returns NULL (and flips output nullability). Grouped
    // aggregates are safe — every emitted group has >= 1 summary row.
    if (group.isEmpty) return None
    val (baseRel, filter) = unwrap(child) match {
      case Some(x) => x
      case None => return None
    }
    val paths = baseRel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
      case _ => return None
    }
    val sd = lookup(paths).getOrElse(return None)
    // grouping must be bare columns within the summary's grouping
    val groupAttrs = group.map {
      case a: AttributeReference if sd.groupCols(a.name) => a
      case _ => return None
    }
    // residual filter may touch group columns only
    filter.foreach { c =>
      if (!c.references.forall(r => sd.groupCols(r.name))) return None
    }
    val rel = sd.summary.newInstance()
    def sCol(name: String): AttributeReference =
      rel.output.find(_.name == name).get.asInstanceOf[AttributeReference]
    def derived(fn: AggregateFunction): Option[AggregateFunction] = fn match {
      case Count(Seq(l: Literal)) if l.value != null => Some(Sum(sCol(sd.cnt)))
      case s: Sum => s.child match {
        case a: AttributeReference if sd.sums.contains(a.name) =>
          Some(Sum(sCol(sd.sums(a.name))))
        case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference if sd.mins.contains(a.name) =>
          Some(Min(sCol(sd.mins(a.name))))
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference if sd.maxs.contains(a.name) =>
          Some(Max(sCol(sd.maxs(a.name))))
        case _ => None
      }
      case _ => None
    }
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if sd.groupCols(a.name) =>
        Alias(sCol(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _),
          name) =>
        derived(fn) match {
          case Some(d) =>
            Alias(AggregateExpression(d, Complete, isDistinct = false),
              name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val newGroup = groupAttrs.map(a => sCol(a.name))
    val newChild = filter match {
      case Some(c) =>
        Filter(c.transform {
          case a: AttributeReference => sCol(a.name) }, rel)
      case None => rel
    }
    Some(Aggregate(newGroup, newAggs, newChild))
  }
}
