package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed table layout — the storage-level half of shuffle elimination.
  *
  * A fact⋈dim or fact⋈fact join on a key both sides are BUCKETED by (same
  * column, same bucket count) needs no Exchange at all: each task reads the
  * matching bucket files from both sides and joins in place. At 100 TB this
  * converts the recurring dominant cost of every co-keyed join/agg on the
  * table into a one-time cost at WRITE time — the standard layout for fact
  * tables that are joined on the same key by many downstream queries (the
  * `repartition()` alternative re-pays the shuffle per query; bucketing pays
  * it once). `sortBy` additionally pre-sorts within buckets so sort-merge
  * joins skip their per-task sort when Spark can prove single-file buckets.
  *
  * Point lookups on the bucket column also prune: a `key = v` filter reads
  * exactly 1 of n bucket file groups (`SelectedBucketsCount` in the scan).
  *
  * Tables are written as EXTERNAL parquet (explicit `path`), so the layout
  * lives with the data, not the session-local warehouse.
  */
object BucketedLayout {

  def write(df: DataFrame, name: String, path: String, bucketCol: String, buckets: Int,
            sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet").option("path", path)
      .bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  def drop(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")
}
