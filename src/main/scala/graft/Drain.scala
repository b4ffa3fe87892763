package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The drain kit the scale-evidence mains share: one event-time feed, one
  * kill-and-relight wait loop, one parity check and one JSON report line.
  *
  * Bounded-stream contract: a bounded file stream's watermark never passes
  * its last window or match, so a standing statement's output must be a
  * subset of its batch twin's, missing at most one open tail per key, and
  * equal on everything else. [[parity]] checks exactly that with symmetric
  * `exceptAll` counts; nothing is collected to the driver.
  *
  * Every BASELINE.md drain and timer row re-runs from these commands
  * (`runMain graft.<main> …`; `SPARK_GRAFT_CPUS` sets the cores):
  *
  * {{{
  * old command                                           new command
  * SpotStreamingMr <sf> [slices]                         SpotStreamingMr <sf> [slices]          (mode q164)
  * SpotStreamingMr2Key <sf> [slices] [restartAfter]      SpotStreamingMr <sf> [slices] 2key [restartAfter]
  * SpotStreamingMrRows <sf> [slices] [mode]              SpotStreamingMr <sf> [slices] [mode]
  *   [restartAfter] [engine] [dumpDir]                     [restartAfter] [dumpDir]
  * SpotStreamingChain <sf> [slices] [restartAfter] [mode]  unchanged
  * SpotStreamingLabs <sf> [ann]                          unchanged
  * NearDupMaintenanceSpot <sf>                           unchanged
  * QTime <sf> qa qb …        (QTIME_REPEATS=n)           QTIME_REPEATS=n Smoke <sf> only=qa,qb,…
  * SpotTime <sf> qa qb …                                 QTIME_REPEATS=1 Smoke <sf> only=qa,qb,…
  * OptProbe / OptProbe2 <sf>                             perfbench's --trace 1 stage spans
  * }}}
  *
  * SpotStreamingMrRows' default mode was q173; SpotStreamingMr's is q164,
  * so name the mode when re-running a SpotStreamingMrRows row. The
  * `[mrdrain]` line names SpotStreamingMr/Mr2Key's old `extra`,
  * `missingFinal` and `compositeKeys` as `extraSpans`, `missingFinalSpans`
  * and `keys`; `streamMatches`/`batchMatches` count matches in every mode.
  * QTime (5 repeats by default) timed `count()`; Smoke times the
  * full-materialization consume.
  */
object Drain {

  /** An event-time feed: every slice is cut and written once, up front, and
    * stays invisible until [[publish]] renames its one parquet file into
    * `dir`. Slice i holds the rows with event time in [cut(i), cut(i+1)), so
    * later slices carry later event time and an equal-timestamp group never
    * straddles two slices. Staged files carry increasing modification times,
    * the order the file source reads them in.
    */
  final class Feed(root: Path, val schema: StructType, staged: IndexedSeq[Path], fs: FileSystem) {
    val dir: String = s"$root/feed"

    def publish(i: Int): Unit =
      require(fs.rename(staged(i), new Path(f"$dir/slice_$i%03d.parquet")),
        s"could not publish feed slice $i")

    def publishAll(): Unit = staged.indices.foreach(publish)

    /** The feed as a stream, one slice per micro-batch. */
    def stream(spark: SparkSession): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

    /** Remove the feed's files, published or not. */
    def delete(): Unit = fs.delete(root, true): Unit
  }

  /** Cut `data` into `slices` event-time slices of about equal size
    * (approximate quantiles of `tsCol`) in a new temp directory named after
    * `prefix`; nothing is published yet.
    */
  def feed(data: DataFrame, tsCol: String, slices: Int, prefix: String): Feed = {
    val spark = data.sparkSession
    val root = new Path(java.nio.file.Files.createTempDirectory(prefix).toUri)
    val withUs = data.withColumn("__us", unix_micros(col(tsCol).cast("timestamp")))
    val bounds = withUs.stat.approxQuantile("__us",
      (1 until slices).map(_.toDouble / slices).toArray, 0.0001)
    val cuts = (Long.MinValue +: bounds.map(_.toLong).toSeq) :+ Long.MaxValue
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtime0 = System.currentTimeMillis() - slices * 1000L
    val staged = cuts.sliding(2).zipWithIndex.map { case (pair, i) =>
      val out = new Path(root, f"slice_$i%03d")
      withUs.filter(col("__us") >= pair.head && col("__us") < pair.last).drop("__us")
        .coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = fs.listStatus(out).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.setTimes(part, mtime0 + i * 1000L, -1)
      part
    }.toIndexedSeq
    val feed = new Feed(root, spark.read.parquet(staged.head.getParent.toString).schema, staged, fs)
    fs.mkdirs(new Path(feed.dir))
    feed
  }

  /** Kill the standing statement `name` mid-drain and relight it from its own
    * checkpoint: wait until it has committed batch `afterBatch`, stop it, and
    * resume it through [[graft.sql.StatementCatalog.relightStanding]]. A
    * statement that fails first rethrows its exception here; one that never
    * gets there gives up after 30 minutes.
    */
  def relight(name: String, afterBatch: Int): StreamingQuery = {
    val q = standing(name)
    val deadline = System.nanoTime() + 30L * 60 * 1000 * 1000 * 1000
    while (Option(q.lastProgress).forall(_.batchId < afterBatch.toLong)) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        sys.error(s"'$name' reached no batch $afterBatch in 30 min " +
          s"(last batch: ${Option(q.lastProgress).map(_.batchId)})")
      Thread.sleep(200)
    }
    q.stop()
    println(s"[drain] stopped '$name' after batch ${q.lastProgress.batchId}; relighting from checkpoint")
    graft.sql.StatementCatalog.relightStanding(name)
  }

  /** The running query of the standing statement `name`. */
  def standing(name: String): StreamingQuery =
    graft.sql.StatementCatalog.get(name).collect {
      case s: graft.sql.StatementCatalog.Standing => s.query
    }.getOrElse(sys.error(s"'$name' is not a standing statement"))

  /** Symmetric multiset difference of a streamed result and its batch twin. */
  final case class Parity(streamed: Long, batch: Long, extra: Long, missing: Long,
                          allowedMissing: Long) {
    def ok: Boolean = streamed > 0 && extra == 0 && missing <= allowedMissing
  }

  /** Row counts and `exceptAll` counts both ways; at most `allowedMissing`
    * batch rows may be absent from the stream (the open tails).
    */
  def parity(streamed: DataFrame, batch: DataFrame, allowedMissing: Long = 0L): Parity =
    Parity(streamed.count(), batch.count(), streamed.exceptAll(batch).count(),
      batch.exceptAll(streamed).count(), allowedMissing)

  /** The latest value of every accumulator whose name starts with one of
    * `prefixes`, read from completed stages' accumulables. Attach it before
    * the work it measures and detach it with [[stop]].
    */
  final class Accumulables(spark: SparkSession, prefixes: String*) extends SparkListener {
    private val latest = scala.collection.concurrent.TrieMap[(String, Long), Long]()
    spark.sparkContext.addSparkListener(this)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.accumulables.values.foreach { a =>
        (a.name, a.value) match {
          case (Some(n), Some(v: Long)) if prefixes.exists(n.startsWith) => latest((n, a.id)) = v
          case _ =>
        }
      }

    private def values(prefix: String): Iterable[Long] =
      latest.collect { case ((n, _), v) if n.startsWith(prefix) => v }

    def max(prefix: String): Long = values(prefix).foldLeft(0L)(math.max)
    def sum(prefix: String): Long = values(prefix).sum
    def stop(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** One drain's result: `[tag] {json}` on stdout, `ok` as the last field. */
  final case class Report(tag: String, fields: Seq[(String, Any)], ok: Boolean) {
    def line: String = (fields :+ ("ok" -> ok)).map { case (k, v) =>
      val json = v match {
        case s: String => "\"" + s.replaceAll("[\"\\\\]", "") + "\""
        case d: Double => String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
        case x => x.toString
      }
      s""""$k":$json"""
    }.mkString(s"[$tag] {", ",", "}")
  }

  /** Print the report line and return the report. */
  def report(tag: String, ok: Boolean)(fields: (String, Any)*): Report = {
    val r = Report(tag, fields, ok)
    println(r.line)
    r
  }

  /** Stop the session; exit 1 unless every report is ok. */
  def exit(spark: SparkSession, reports: Report*): Unit = {
    spark.stop()
    if (!reports.forall(_.ok)) sys.exit(1)
  }
}
