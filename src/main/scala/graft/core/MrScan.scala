package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.StructType

/** A per-key sequential scan as ONE Catalyst node — the execution shape of
  * both MATCH_RECOGNIZE scans ([[graft.operators.MatchRecognize.scanPattern]]
  * and [[graft.operators.Behavior.skipPastSelect]]).
  *
  * The node states what the scan needs of its input — every row of a key in
  * one partition, ordered by (keys, order) ascending — and EnsureRequirements
  * plans the hash exchange and the sort, or reuses an upstream window's when
  * it already provides them. The scan body then streams each partition's
  * internal rows in that order. The query stays one plan: one EXPLAIN shows
  * the exchange and sort under `MrScanExec`, AQE sees through the scan, and
  * building the DataFrame runs no Spark job.
  *
  * `body` reads the child's rows laid out as `child.output`, emits rows laid
  * out as `output`, and ships to executors, so it must be serializable.
  */
case class MrScan(keys: Seq[Expression], order: Seq[Expression], output: Seq[Attribute],
                  body: Iterator[InternalRow] => Iterator[InternalRow], child: LogicalPlan)
    extends UnaryNode with MultiInstanceRelation {
  // the body reads child columns by position: column pruning must never
  // narrow the child beneath it
  override def references: AttributeSet = child.outputSet
  // fresh output ids when one scan meets itself (a self-join)
  override def newInstance(): MrScan = copy(output = output.map(_.newInstance()))
  override protected def stringArgs: Iterator[Any] = Iterator(keys, order)
  override protected def withNewChildInternal(c: LogicalPlan): MrScan = copy(child = c)
}

case class MrScanExec(keys: Seq[Expression], order: Seq[Expression], output: Seq[Attribute],
                      body: Iterator[InternalRow] => Iterator[InternalRow], child: SparkPlan)
    extends UnaryExecNode {
  override def nodeName: String = "MrScanExec"
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys ++ order).map(SortOrder(_, Ascending)) :: Nil
  override protected def stringArgs: Iterator[Any] = Iterator(keys, order)

  override protected def doExecute(): RDD[InternalRow] = {
    val (scan, outSchema) = (body, schema)
    child.execute().mapPartitions(it => scan(it).map(UnsafeProjection.create(outSchema)))
  }

  override protected def withNewChildInternal(c: SparkPlan): MrScanExec = copy(child = c)
}

object MrScan {
  /** `df` scanned per key by `body`, whose rows have `schema`. */
  def of(df: DataFrame, keys: Seq[Column], order: Seq[Column], schema: StructType)(
      body: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    // key and order columns resolved against df's own plan
    val Project(cols, child) = df.select(keys ++ order: _*).queryExecution.analyzed
    val (keyExprs, orderExprs) = cols.map { case Alias(e, _) => e; case e => e }.splitAt(keys.size)
    val output = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    Planner.ofRows(df.sparkSession, MrScan(keyExprs, orderExprs, output, body, child))
  }
}
