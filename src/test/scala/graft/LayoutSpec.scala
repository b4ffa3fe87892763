package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

class LayoutSpec extends SparkSpec {

  test("totalSort positions are bit-identical to the single-task window at any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 2000).map(i => (i.toLong, rnd.nextInt(50))).toDF("id", "v")
      .repartition(7) // scattered input layout
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    // numPartitions = 0: the range exchange is planned 200 wide and AQE
    // coalesces it
    for ((parts, width) <- Seq(1 -> shuffle, 3 -> shuffle, 8 -> shuffle, 0 -> "200")) {
      spark.conf.set("spark.sql.shuffle.partitions", width)
      val fast =
        try Layout.totalSort(df, Seq(col("v").desc, col("id")), numShards = 4,
            numPartitions = parts)
          .select("id", "global_pos", "shard").as[(Long, Long, Long)].collect()
          .map { case (k, p, s) => ((k, p), s) }.toMap
        finally spark.conf.set("spark.sql.shuffle.partitions", shuffle)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v").desc, col("id"))
      val slow = df.withColumn("global_pos", row_number().over(w).cast("long"))
        .withColumn("shard", expr("((global_pos - 1) * 4) DIV 2000"))
        .select("id", "global_pos", "shard").as[(Long, Long, Long)].collect()
        .map { case (k, p, s) => ((k, p), s) }.toMap
      assert(fast == slow, s"diverged at numPartitions=$parts")
    }
  }

  test("totalSort shards are contiguous in sort order and equal width") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "v")
    val out = Layout.totalSort(df, Seq(col("v"), col("id")), numShards = 4, numPartitions = 3)
      .select("global_pos", "shard").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (1L to 100L))                      // gap-free
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.toSeq)        // contiguous
    val widths = out.groupBy(_._2).map(_._2.length).toSet
    assert(widths == Set(25))                                        // equal width
  }

  test("zValue interleaves bits, first column most significant") {
    import spark.implicits._
    // values already spanning [0, 16): with bits=4 the bucket IS the value
    val df = (0 until 16).flatMap(x => (0 until 16).map(y => (x, y))).toDF("x", "y")
    val out = df.withColumn("z", Layout.zValue(df, Seq(col("x"), col("y")), bits = 4))
      .as[(Int, Int, Long)].collect()
    def interleave(x: Int, y: Int): Long =
      (0 until 4).map(b => (((x >> b) & 1).toLong << (2 * b + 1)) |
                           (((y >> b) & 1).toLong << (2 * b))).sum
    out.foreach { case (x, y, z) => assert(z == interleave(x, y), s"($x,$y)") }
    // distinct inputs -> distinct z (it is a bijection on the grid)
    assert(out.map(_._3).distinct.length == 256)
  }

  test("z-ordered files carry tight min/max ranges on BOTH columns") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (1 to 4096).map(_ => (rnd.nextInt(1000), rnd.nextInt(1000))).toDF("x", "y")
    val clustered = df.withColumn("zval", Layout.zValue(df, Seq(col("x"), col("y")), bits = 8))
      .repartitionByRange(16, col("zval")).sortWithinPartitions("zval")
    val spans = clustered.withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(((max("x") - min("x")) + (max("y") - min("y"))).as("span"))
      .agg(avg("span")).as[Double].head()
    // a single-column sort leaves the OTHER column's span ~full-range (~1000,
    // so x+y span ~1060); z-order splits the budget across both dimensions
    val linear = df.repartitionByRange(16, col("x"))
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(((max("x") - min("x")) + (max("y") - min("y"))).as("span"))
      .agg(avg("span")).as[Double].head()
    assert(spans < linear * 0.75, s"z-span $spans not tighter than linear $linear")
  }
}
