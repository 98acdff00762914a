package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made these helpers private[sql];
  * this shim (in a subpackage of org.apache.spark.sql, the standard
  * extension-library practice) is the single place the engine crosses that
  * boundary to expose its native Catalyst expressions as Columns.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `plan` (`classic.Dataset.ofRows`, private[sql]). */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Decompose a `.asc`/`.desc` Column into
    * `(child, isDescending, isDefaultNullOrdering)`; None for a plain
    * value column. Works on the internal ColumnNode (Spark 4 builds
    * SortOrder lazily — it is NOT visible through [[expression]] until
    * plan resolution). The default null ordering is nulls-first for
    * ascending and nulls-last for descending (Spark's own); explicit
    * deviations (`asc_nulls_last`, `desc_nulls_first`) surface as
    * `false` so callers can refuse orders they cannot honor.
    */
  def sortOrder(c: Column): Option[(Column, Boolean, Boolean)] = c.node match {
    case org.apache.spark.sql.internal.SortOrder(child, dir, no, _) =>
      val desc = dir == org.apache.spark.sql.internal.SortOrder.Descending
      val defaultNulls =
        if (desc) no == org.apache.spark.sql.internal.SortOrder.NullsLast
        else no == org.apache.spark.sql.internal.SortOrder.NullsFirst
      Some((new Column(child), desc, defaultNulls))
    case _ => None
  }

  /** Register a SQL function on an already-running session (extensions via
    * `spark.sql.extensions` only apply at session construction).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
}
