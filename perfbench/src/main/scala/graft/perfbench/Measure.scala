package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order statistics with an explicit sample-count rule: a percentile is
  * reported only when at least `minBeyond` samples lie above it; otherwise
  * the highest percentile that has that many is reported instead, together
  * with the percentile actually used and the sample count.
  */
object Stats {
  final case class Pct(value: Double, pctUsed: Double, n: Int)

  /** Nearest-rank percentile of a non-empty sample, `p` in [0, 1]. */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** Highest percentile (in whole percent) that leaves `minBeyond` samples above it. */
  def highestValid(n: Int, minBeyond: Int = 10): Double =
    if (n <= minBeyond) 0.0
    else math.floor(100.0 * (n - minBeyond) / n) / 100.0

  def pct(xs: Seq[Double], p: Double, minBeyond: Int = 10): Pct = {
    val used = math.min(p, highestValid(xs.length, minBeyond))
    Pct(nearestRank(xs, used), used, xs.length)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Full materialization of a result: row count plus an order-independent
  * hash of every column (the sum of per-row xxhash64 values). Map columns,
  * which Spark cannot hash, enter through their key-sorted entry arrays.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: java.math.BigDecimal) {
    override def toString: String = s"$rows:$hash"
  }

  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _          => c
  }

  def of(df: DataFrame): Fp = withPlan(df)._1

  /** The fingerprint and the aggregate that computed it (for its final plan). */
  def withPlan(df: DataFrame): (Fp, DataFrame) = {
    val cols = df.schema.fields.toSeq.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    val agg = df.select(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(struct(cols: _*)).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("h"))
    val r = agg.head()
    (Fp(r.getLong(0), r.getDecimal(1)), agg)
  }
}

/** Process and machine readings: CPU time, heap peak, load and the CPU
  * share taken by other processes (the /proc readings `graft.Bench` stamps).
  */
object Machine {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of per-pool peaks since the last reset, in MB (an upper bound on the
    * simultaneous peak; pools peak at different times). */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def firstLine(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
      .linesIterator.next()

  final case class CpuStat(load1: Double, busyJiffies: Long, stealJiffies: Long, selfJiffies: Long,
                           wallNs: Long)

  def cpuStat(): CpuStat = {
    val load1 = firstLine("/proc/loadavg").split("\\s+")(0).toDouble
    val f = firstLine("/proc/stat").split("\\s+").drop(1).map(_.toLong)
    val steal = if (f.length > 7) f(7) else 0L
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + steal
    CpuStat(load1, busy, steal, graft.Bench.selfJiffies(firstLine("/proc/self/stat")), System.nanoTime())
  }

  /** CPU time the hypervisor gave to other guests between two readings, as a
    * share of the machine: host load the guest cannot see as processes. */
  def stealFrac(a: CpuStat, b: CpuStat, clkTck: Double = 100.0): Double =
    (b.stealJiffies - a.stealJiffies) / clkTck / ((b.wallNs - a.wallNs) / 1e9 * nproc)

  /** CPU used by other processes between two readings, as a share of the machine. */
  def extCpuFrac(a: CpuStat, b: CpuStat, clkTck: Double = 100.0): Double = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    math.max(0.0, ((b.busyJiffies - a.busyJiffies) - (b.selfJiffies - a.selfJiffies)) /
      clkTck / (wall * nproc))
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b.append("\\\"")
      case '\\'         => b.append("\\\\")
      case '\n'         => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c            => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null                  => "null"
    case s: String             => str(s)
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                => n.toString
    case n: Long               => n.toString
    case b: Boolean            => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(render).mkString("[", ",", "]")
    case o                     => str(o.toString)
  }
}
