package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** A global running sum as ONE Catalyst node — the numbering step of every
  * operator that numbers rows over a global order without the single-task
  * window ([[graft.operators.Ids.contiguousRowIds]],
  * [[graft.operators.Layout.totalSort]],
  * [[graft.llmops.Curation.packByTokenBudget]],
  * [[graft.llmops.Packing.packSequences]]).
  *
  * It appends two long columns to its child's rows: `before`, Σ weight over
  * all EARLIER rows in `order`, and `total`, Σ weight over all rows. The exec
  * asks for its child range-partitioned and sorted on `order`, so
  * EnsureRequirements plans the range exchange and the sort (or reuses a
  * caller's `repartitionByRange(n, order)`), and one EXPLAIN shows them.
  * Execution is two passes over the ONE child RDD: pass 1 ships one sum per
  * partition to the driver, pass 2 numbers each partition from the sum of
  * all partitions before it. Both passes read the same range shuffle, so the
  * result is bit-identical to a single-task window at any partition count
  * PROVIDED `order` is total (include a unique tie-break): within ties, tie
  * order is partition order, the caveat `row_number` has too. Building the
  * DataFrame runs no Spark job.
  */
case class RunningSum(order: Seq[SortOrder], weight: Expression, before: Attribute,
                      total: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ before :+ total
  override def producedAttributes: AttributeSet = AttributeSet(before :: total :: Nil)
  override protected def withNewChildInternal(c: LogicalPlan): RunningSum = copy(child = c)
}

case class RunningSumExec(order: Seq[SortOrder], weight: Expression, before: Attribute,
                          total: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ before :+ total
  override def producedAttributes: AttributeSet = AttributeSet(before :: total :: Nil)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = child.execute() // both passes read this one RDD: one range shuffle
    val (in, w, out) = (child.output, weight, output)
    // a null weight reads as 0 from the projected row, as SUM skips nulls
    val sums = rows.mapPartitions { it =>
      val weigh = UnsafeProjection.create(w :: Nil, in)
      var s = 0L
      while (it.hasNext) s += weigh(it.next()).getLong(0)
      Iterator(s)
    }.collect() // in partition order
    val starts = sums.scanLeft(0L)(_ + _)
    rows.mapPartitionsWithIndex { (pid, it) =>
      val weigh = UnsafeProjection.create(w :: Nil, in)
      val append = UnsafeProjection.create(out, out)
      val sumsRow = new GenericInternalRow(Array[Any](starts(pid), starts.last))
      val joined = new JoinedRow
      it.map { r =>
        val o = append(joined(r, sumsRow))
        sumsRow.setLong(0, sumsRow.getLong(0) + weigh(r).getLong(0))
        o
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): RunningSumExec = copy(child = c)
}

object RunningSum {
  val Before = "__before"
  val Total = "__total"

  /** `df` plus [[Before]] (Σ `weight` over the rows before each row in
    * `order`) and [[Total]] (Σ `weight` over all rows), both longs.
    */
  def of(df: DataFrame, order: Seq[Column], weight: Column): DataFrame = {
    require(order.nonEmpty, "a running sum needs at least one order column")
    // order and weight resolved against df's own plan
    val sorted = df.sortWithinPartitions(order: _*).queryExecution.analyzed.asInstanceOf[Sort]
    val Project(Seq(w), _) = df.select(weight.cast(LongType)).queryExecution.analyzed
    val node = RunningSum(sorted.order, w match { case Alias(e, _) => e; case e => e },
      AttributeReference(Before, LongType, nullable = false)(),
      AttributeReference(Total, LongType, nullable = false)(), sorted.child)
    Planner.ofRows(df.sparkSession, node)
  }
}
