package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}

import graft.plans.TopKPerGroupNode

/** Public face of the custom top-k-per-group operator (see
  * [[graft.plans.TopKPerGroupNode]] for the execution strategy and why it
  * beats the window row_number formulation at scale). */
object TopK {

  /** Top `k` rows per group under (orderCol desc/asc, tieBreak asc...).
    * Supply a unique tie-break column for deterministic output. */
  def perGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
      k: Int, desc: Boolean = true, tieBreak: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val child = GraftPlanBridge.logicalPlan(df)
    val resolve = child.output.map(a => a.name -> a).toMap
    def attr(n: String) = resolve.getOrElse(n,
      throw new IllegalArgumentException(s"no column $n in ${df.columns.mkString(",")}"))
    val order =
      SortOrder(attr(orderCol), if (desc) Descending else Ascending) +:
        tieBreak.map(c => SortOrder(attr(c), Ascending))
    GraftPlanBridge.ofRows(spark,
      TopKPerGroupNode(groupCols.map(attr), order, k, child))
  }
}
