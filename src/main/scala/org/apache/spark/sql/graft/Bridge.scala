package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made ExpressionUtils
  * private[sql]; this shim lives in the org.apache.spark.sql namespace
  * solely to re-export the two conversions the graft expression
  * library needs (the extension-library pattern — no Spark internals
  * are modified).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A sort column's key, whether it ascends, and whether nulls come
    * first (`col.desc` builds a SortOrder node the public Column API
    * does not take apart); a bare column sorts ascending, nulls first.
    */
  def sortKey(c: Column): (Column, Boolean, Boolean) = c.node match {
    case org.apache.spark.sql.internal.SortOrder(child, dir, nulls, _) =>
      (new Column(child),
        dir == org.apache.spark.sql.internal.SortOrder.Ascending,
        nulls == org.apache.spark.sql.internal.SortOrder.NullsFirst)
    case _ => (c, true, true)
  }

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows went
    * private[sql] in Spark 4) — needed to hand custom logical nodes
    * (graft.plans.TopKPerKey) back to the public Dataset API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session planner's full strategy list (sessionState is
    * private[sql]) — lets callers check whether a custom strategy is
    * already wired in (via extensions OR experimental) before
    * appending another copy.
    */
  def plannerStrategies(
      spark: org.apache.spark.sql.SparkSession): Seq[Any] =
    spark.sessionState.planner.strategies
}
