package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.RunningSum

/** Physical-layout operators: total-order sorting with exact global
  * positions (the terasort pattern — range shuffle, never a single-task
  * window) and Z-order multi-column clustering (interleaved-bit locality for
  * multi-dimensional pruning, the OPTIMIZE ZORDER BY pattern).
  *
  * Both exist because a 100 TB corpus is not "a DataFrame" to downstream
  * consumers — it is files on disk, and WHICH rows share a file decides how
  * much of it every later query reads. Total sort gives deterministic
  * training order + contiguous shards; Z-order gives multi-column locality
  * so min/max file statistics prune on either column.
  */
object Layout {

  /** Total-order sort with an exact, gap-free 1-based `global_pos` and (when
    * `numShards > 0`) an equal-width `shard` assignment.
    *
    * The naive formulation — `row_number() OVER (ORDER BY …)` — moves the
    * whole corpus through ONE task. This is the distributed form: the shared
    * [[graft.core.RunningSum]] node counts the rows before each row over a
    * range shuffle on the sort key, so `global_pos` = that count + 1. The
    * result is bit-identical to the single-task window at any partition
    * count. `shard = ((global_pos-1) * numShards) div N` — contiguous,
    * equal-width (±1) shards in sort order, reproducible across engines
    * (pure integer arithmetic).
    *
    * `order` must reach a total order (include a unique tie-break column) or
    * positions within ties are layout-dependent.
    */
  def totalSort(df: DataFrame, order: Seq[Column], numShards: Int = 0,
                numPartitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "totalSort needs at least one sort column")
    val ranged = if (numPartitions > 0) df.repartitionByRange(numPartitions, order: _*) else df
    val pos = RunningSum.of(ranged, order, lit(1L))
      .withColumn("global_pos", col(RunningSum.Before) + 1L)
    // coalesce only keeps shard typed non-null: `div` is typed nullable,
    // and a divisor >= 1 never yields null
    val shard = expr(s"(${RunningSum.Before} * $numShards) div greatest(${RunningSum.Total}, 1)")
    (if (numShards > 0) pos.withColumn("shard", coalesce(shard, lit(0L))) else pos)
      .drop(RunningSum.Before, RunningSum.Total)
  }

  /** Z-order value: interleave the low `bits` bits of each column's
    * min/max-normalized integer bucket, first column taking the MOST
    * significant bit of each round. Rows close in `zval` are close in every
    * input dimension, so sorting files by `zval` lets min/max column
    * statistics prune scans on ANY of the clustered columns — the reason
    * OPTIMIZE ZORDER exists.
    *
    * This is the ENGINE-EXACT n-column form (pure integer bucketing —
    * reproducible bit-for-bit across engines/layouts, the form the q143
    * oracle checks); [[graft.sources.ZOrderLayout]] owns the file-layout
    * write pass (16-bit double scaling is fine there — only footer stats
    * consume the value). Materialize a layout from THIS value with
    * `repartitionByRange + sortWithinPartitions` on it, or use
    * ZOrderLayout.write.
    *
    * Bucketing is `((x - min) * 2^bits) div (max - min + 1)` — pure integer
    * arithmetic on the casted-to-long inputs, reproducible across engines
    * (no quantile estimation: one tiny min/max agg is broadcast back as
    * literals). Skewed columns therefore get skewed buckets; for rank-even
    * buckets feed a pre-ranked column instead. The projection itself is
    * row-local codegen — zero shuffle until a `repartitionByRange(zval)` (or
    * ZOrderLayout.write) materializes the layout.
    *
    * Cap: `bits * cols.size <= 62` (zval stays a positive long).
    */
  def zValue(df: DataFrame, cols: Seq[Column], bits: Int = 8): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits * cols must fit a positive long, got $bits x ${cols.size}")
    val k = cols.size
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(c.cast("long")).as(s"mn$i"), max(c.cast("long")).as(s"mx$i"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    def intDiv(a: Column, b: Column): Column =
      Bridge.column(IntegralDivide(Bridge.expression(a), Bridge.expression(b)))
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val mn = stats.getLong(2 * i); val mx = stats.getLong(2 * i + 1)
      // (x - min) * 2^bits div (max - min + 1): exact integer arithmetic
      // (never a double round-trip), range-safe for |x| < 2^53/2^bits
      intDiv((c.cast("long") - lit(mn)) * lit(1L << bits), lit(mx - mn + 1L)).cast("long")
    }
    (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (bc, i) =>
        // bit b of column i lands at position b*k + (k-1-i)
        shiftleft(shiftright(bc, b).bitwiseAND(lit(1L)), b * k + (k - 1 - i))
      }
    }.reduce(_ + _)
  }

}
