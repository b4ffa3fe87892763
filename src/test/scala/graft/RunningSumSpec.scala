package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The global numbering operators (contiguous ids, total sort, token-budget
  * and sequence packing) build lazily and stay one Catalyst plan: the
  * RunningSum node over a range exchange, never a single-task window or an
  * RDD round trip.
  */
class RunningSumSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val numbering = Seq("q53_token_packing", "q114_contiguous_ids",
    "q129_sorted_neighborhood", "q141_total_sort", "q155_curriculum_order",
    "q159_sequence_packing")

  test("building a numbering query runs at most the parquet footer job") {
    // jobs are counted by job group; a marker job in the same group, started
    // after the build, proves every earlier job event reached the listener
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val marker = new java.util.concurrent.ConcurrentHashMap[String, Boolean]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          if (e.properties.getProperty("spark.job.description") == "marker") marker.put(g, true)
          else jobs.merge(g, 1, (a: Integer, b: Integer) => a + b)
        }
    }
    sc.addSparkListener(listener)
    try {
      val counts = numbering.map { name =>
        sc.setJobGroup(name, "build")
        graft.queries.Catalog.queries(name)(spark, sfDir)
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
        sc.setJobDescription(null)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!marker.containsKey(name) && System.nanoTime() < deadline) Thread.sleep(10)
        assert(marker.containsKey(name), s"$name: marker job never seen")
        name -> Option(jobs.get(name)).map(_.intValue).getOrElse(0)
      }
      assert(counts.forall(_._2 <= 1), s"build-time jobs per query: ${counts.mkString(", ")}")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("each numbering plan is the RunningSum node over a range exchange") {
    def firstExchange(p: SparkPlan): Option[ShuffleExchangeLike] = p match {
      case e: ShuffleExchangeLike => Some(e)
      case _ => p.children.headOption.flatMap(firstExchange)
    }
    numbering.foreach { name =>
      val plan = graft.queries.Catalog.queries(name)(spark, sfDir).queryExecution.executedPlan
      val text = plan.toString
      val nodes = collect(plan) { case n if n.nodeName == "RunningSum" => n }
      assert(nodes.nonEmpty, s"$name: no RunningSum node in\n$text")
      nodes.foreach { n =>
        assert(firstExchange(n.children.head).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
          s"$name: RunningSum must sit over a range exchange in\n$text")
      }
      assert(!text.contains("Window"), s"$name: the single-task window is the anti-pattern")
      assert(!text.contains("Scan ExistingRDD"), s"$name: numbering must not leave Catalyst")
    }
  }

  test("before and total equal the SUM windows, a null weight counting 0, at any partitioning") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.core.RunningSum
    val df = (1 to 300).map(i => (i.toLong, if (i % 7 == 0) None else Some((i % 5).toLong)))
      .toDF("id", "w").repartition(5)
    val earlier = Window.orderBy(col("id").desc).rowsBetween(Window.unboundedPreceding, -1)
    val want = df.select(col("id"), coalesce(sum("w").over(earlier), lit(0L)),
        coalesce(sum("w").over(Window.partitionBy()), lit(0L)))
      .as[(Long, Long, Long)].collect().toSet
    for (ranged <- Seq(df, df.repartitionByRange(3, col("id").desc))) {
      val got = RunningSum.of(ranged, Seq(col("id").desc), col("w"))
        .select(col("id"), col(RunningSum.Before), col(RunningSum.Total))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want)
    }
    assert(RunningSum.of(df.filter(lit(false)), Seq(col("id")), col("w")).count() == 0)
  }
}
