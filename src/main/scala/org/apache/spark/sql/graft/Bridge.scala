package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression conversions — the
  * standard technique for extension libraries that ship native Catalyst
  * expressions with a Column-level API (Spark 4 removed the public
  * `new Column(expr)` constructor in favor of ColumnNode).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree into a real catalyst Expression
    * (UnresolvedFunction nodes included, which the analyzer then resolves).
    * `ExpressionUtils.expression` instead wraps the node lazily in a
    * ColumnNodeExpression, which fails codegen if it reaches execution —
    * necessary for FunctionBuilder-injected composite functions.
    */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The DataFrame of a logical plan — how a custom Catalyst node such as
    * [[graft.core.MrScan]] enters the Dataset API.
    */
  def ofRows(spark: org.apache.spark.sql.classic.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)
}
