package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{SparkSqlAstBuilder, SparkSqlParser}
import org.apache.spark.sql.internal.SQLConf

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

  private val literalParser = new ThreadLocal[ParserInterface]

  /** `body` with every [[parser]] call on this thread keeping backslashes in
    * string literals literal (Spark's legacy `escapedStringLiterals` rule,
    * the Flink/standard-SQL one) without writing the session's conf: the
    * rule lives in a copy of `spark`'s conf that only this thread's parser
    * reads, so plain `spark.sql` and other threads keep Spark's default.
    */
  def withLiteralStrings[T](spark: SparkSession)(body: => T): T = {
    val literal = spark.sessionState.conf.clone()
    // put, not set: setting the deprecated key logs a WARN on every call
    literal.settings.put(SQLConf.ESCAPED_STRING_LITERALS.key, "true")
    val prev = literalParser.get()
    literalParser.set(new SparkSqlParser {
      override val astBuilder: SparkSqlAstBuilder = new SparkSqlAstBuilder {
        override def conf: SQLConf = literal
      }
    })
    try body finally literalParser.set(prev)
  }

  /** The parser for statement text: the literal-string one inside
    * [[withLiteralStrings]], else `spark`'s own.
    */
  def parser(spark: SparkSession): ParserInterface =
    Option(literalParser.get()).getOrElse(spark.sessionState.sqlParser)

  /** `text` as a query of `spark`, parsed by [[parser]]. */
  def sql(spark: SparkSession, text: String): DataFrame =
    ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], parser(spark).parsePlan(text))

  /** `text` as a column expression, parsed by [[parser]]. */
  def expr(spark: SparkSession, text: String): Column = column(parser(spark).parseExpression(text))
}
