package graft.perfbench

import org.apache.spark.sql.functions._

/** Self-tests for the benchmark's own pieces: the percentile rule, the
  * fingerprint's order independence, and the listener aggregation.
  * Exits non-zero on the first failed check.
  *
  * Run: python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var checks = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"[selftest] FAIL: $what"); sys.exit(1) }
    System.err.println(s"[selftest] ok: $what")
  }

  def main(args: Array[String]): Unit = {
    // percentile rule: the highest percentile with at least 10 samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples is the 90th value") { Stats.pct(xs, 0.9) == Stats.Pct(90.0, 0.9, 100) }
    check("p99 of 100 samples falls back to p90") { Stats.pct(xs, 0.99).pctUsed == 0.9 }
    check("p50 of 25 samples is kept, p90 falls back to p60") {
      Stats.pct(xs.take(25), 0.5).pctUsed == 0.5 && Stats.pct(xs.take(25), 0.9).pctUsed == 0.6
    }
    check("10 or fewer samples report the minimum") { Stats.pct(xs.take(10), 0.5) == Stats.Pct(1.0, 0.0, 10) }
    check("median of an even sample averages the middle pair") { Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 }

    val spark = graft.Bench.session("2")
    import spark.implicits._
    try {
      // fingerprint: order- and partitioning-independent, value-sensitive
      val df = (1 to 500).map(i => (i.toLong, s"r$i", i * 0.5)).toDF("k", "s", "d")
      val fp = Fingerprint.of(df)
      check("fingerprint ignores row order") { Fingerprint.of(df.orderBy(col("k").desc)) == fp }
      check("fingerprint ignores partitioning") { Fingerprint.of(df.repartition(7)) == fp }
      check("fingerprint sees a changed value") {
        Fingerprint.of(df.withColumn("d", when(col("k") === 42, 0.0).otherwise(col("d")))) != fp
      }
      check("fingerprint sees a dropped row") { Fingerprint.of(df.filter(col("k") =!= 7)) != fp }
      check("fingerprint counts rows") { fp.rows == 500 }
      val m1 = Seq((1, Map("a" -> 1, "b" -> 2))).toDF("id", "m")
      val m2 = Seq((1, Map("b" -> 2, "a" -> 1))).toDF("id", "m")
      check("map columns hash by content, not insertion order") { Fingerprint.of(m1) == Fingerprint.of(m2) }

      // listener aggregation: only traced queries count, keyed by query
      val tracer = new Tracer(spark)
      tracer.active = false
      tracer.query("untraced") { spark.range(0, 1000, 1, 4).repartition(4).count() }
      tracer.active = true
      tracer.query("traced") { spark.range(0, 1000, 1, 4).repartition(4).count() }
      tracer.active = false
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val t = tracer.sparkAgg.totals()
      check("traced query's jobs are counted, untraced ones are not") { t.jobs >= 1 && t.jobs <= 3 }
      check("traced query's tasks and shuffle are counted") { t.tasks >= 8 && t.shuffleWrite > 0 }
      check("driver gap is within the query's wall time") {
        val g = tracer.sparkAgg.driverGapS(); g >= 0 && g < 60
      }
      check("interval union: overlapping tasks cover once") {
        SparkAgg.uncoveredMs((0L, 100L), Seq((10L, 30L), (20L, 40L), (60L, 70L), (90L, 200L))) == 100 - 30 - 10 - 10
      }
    } finally spark.stop()
    System.err.println(s"[selftest] all $checks checks passed")
  }
}
