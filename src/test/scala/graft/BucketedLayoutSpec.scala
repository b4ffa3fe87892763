package graft

import org.apache.spark.sql.functions._

import graft.sources.BucketedLayout

class BucketedLayoutSpec extends SparkSpec {

  test("co-bucketed join plans with zero Exchange; point lookup prunes to one bucket") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val orders = graft.core.Tables(spark, sfDir, "orders")
    val customer = graft.core.Tables(spark, sfDir, "customer")
    try {
      BucketedLayout.write(orders, "b_orders", s"$dir/orders", "o_custkey", 8,
        sortCols = Seq("o_custkey"))
      BucketedLayout.write(customer, "b_customer", s"$dir/customer", "c_custkey", 8,
        sortCols = Seq("c_custkey"))
      // forbid the broadcast fallback so the test proves BUCKET co-location
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketedLayout.table(spark, "b_orders")
        .join(BucketedLayout.table(spark, "b_customer"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$p")
      // rows must equal the plain (shuffling) join
      val plain = orders.join(customer, col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == plain)

      // filter-only queries drop the bucketed scan under autoBucketedScan
      // (no join/agg to profit) — turn it off to exercise bucket PRUNING
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val point = BucketedLayout.table(spark, "b_orders").filter(col("o_custkey") === 7L)
      val pp = point.queryExecution.executedPlan.toString
      assert(pp.contains("SelectedBucketsCount: 1 out of 8"),
        s"point lookup must prune to a single bucket:\n$pp")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      BucketedLayout.drop(spark, "b_orders")
      BucketedLayout.drop(spark, "b_customer")
    }
  }

  test("z-order clustering shrinks per-file bounding boxes on BOTH dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val orders = graft.core.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")

    graft.sources.ZOrderLayout.write(orders, s"$dir/z", "o_custkey", "o_totalprice", files = 16)
    // baseline: single-column range sort — b-dimension spans every file
    orders.repartitionByRange(16, col("o_custkey")).sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$dir/single")

    val frame = orders.agg(
      min("o_custkey").cast("double"), max("o_custkey").cast("double"),
      min("o_totalprice"), max("o_totalprice")).head()
    val (aLo, aHi, bLo, bHi) = (frame.getDouble(0), frame.getDouble(1), frame.getDouble(2), frame.getDouble(3))
    def avgExtents(path: String): (Double, Double) = {
      val files = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
      assert(files.length >= 8, s"expected many files, got ${files.length}")
      val ext = files.map { f =>
        val s = spark.read.parquet(f.getAbsolutePath).agg(
          min("o_custkey").cast("double"), max("o_custkey").cast("double"),
          min("o_totalprice"), max("o_totalprice")).head()
        (((s.getDouble(1) - s.getDouble(0)) / (aHi - aLo)),
          ((s.getDouble(3) - s.getDouble(2)) / (bHi - bLo)))
      }
      (ext.map(_._1).sum / ext.length, ext.map(_._2).sum / ext.length)
    }
    // the point of z-order: at the SAME file count, the single-column sort
    // leaves dimension b unprunable (every file spans ~its full range) while
    // the Morton layout bounds BOTH dimensions — a predicate on either column
    // now skips most files (the trade: a-pruning degrades 1/16 -> ~1/4)
    val (zA, zB) = avgExtents(s"$dir/z")
    val (sA, sB) = avgExtents(s"$dir/single")
    assert(sB > 0.8, s"baseline must leave b unprunable (got $sB)")
    assert(zB < 0.5 * sB, s"z-order must bound the b dimension: z=$zB single=$sB")
    assert(zA < 0.5, s"z-order must still bound the a dimension usefully: z=$zA (single=$sA)")
    // layout change must not change content: reconciliation checksum equal
    val cols = Seq(col("o_orderkey").cast("string"), col("o_custkey").cast("string"))
    def sum(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Reconcile.checksum(df, lit("all"), cols)
        .head().getLong(2)
    assert(sum(spark.read.parquet(s"$dir/z")) == sum(orders))
  }
}
