package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TableRegistry
import graft.sql.{SqlFrontend, StatementCatalog}

/** A standing statement's micro-batch commit starts no child process: the
  * session's checkpoint manager renames through `FileSystem.rename` (no
  * `readlink` link probes) and its `file:` filesystem sets permissions in
  * process (no `chmod`). JFR's `jdk.ProcessStart` event counts every
  * process the JVM starts.
  */
class CheckpointForkSpec extends SparkSpec {
  import CheckpointForkSpec._

  test("a standing TUMBLE + ML_DETECT_ANOMALIES statement commits without forking readlink or chmod") {
    val feed = claimsFeed(spark, "fork_claims", slices = 6)
    try {
      feed.publish(0) // the file-stream source needs one file at plan time
      val (batches, forked) = forks {
        SqlFrontend.execute(spark, s"CREATE TABLE fork_spikes AS ${spikesSelect("fork_claims")}")
        val q = Drain.standing("fork_spikes")
        q.processAllAvailable()
        (1 until 6).foreach { i => feed.publish(i); q.processAllAvailable() }
        q.lastProgress.batchId + 1
      }
      println(s"[forks] $batches micro-batches, child processes by program: $forked " +
        s"(Spark's own rm -rf of RocksDB snapshot dirs: ${forked.getOrElse("rm", 0)})")
      assert(batches >= 5, s"only $batches micro-batches ran")
      assert(!forked.contains("readlink"), forked)
      assert(!forked.contains("chmod"), forked)
    } finally {
      if (TableRegistry.exists("fork_spikes")) SqlFrontend.execute(spark, "DROP TABLE fork_spikes")
      TableRegistry.dropTable("fork_claims")
      feed.delete()
      StatementCatalog.reset()
    }
  }
}

object CheckpointForkSpec {
  /** Spark's key naming the streaming checkpoint manager class. */
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `body`'s result and the child processes the JVM started while it ran,
    * counted by program name (the command's first word, without its path).
    */
  def forks[A](body: => A): (A, Map[String, Int]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(file)
      val programs = RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
        e.getString("command").trim.split("\\s+").head.split('/').last
      }
      (out, programs.groupBy(identity).map { case (p, ps) => p -> ps.size })
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** A STREAM table `name` (watermark on `ts`, one minute late) over a feed
    * of `slices` event-time slices: three cities, three claims per city and
    * hour over 18 hours, and one claim of city `zz_end` three hours past the
    * rest, in the last slice, whose watermark closes every other window.
    */
  def claimsFeed(spark: SparkSession, name: String, slices: Int): Drain.Feed = {
    import spark.implicits._
    val rows = for {
      h <- 0 until 18; c <- Seq("ams", "ber", "cph"); m <- Seq(5, 25, 45)
    } yield (c, new Timestamp((h * 3600L + m * 60L) * 1000L),
      if (c == "ber" && h == 13) 900.0 else 10.0 + (h * 7 + m) % 5)
    val end = ("zz_end", new Timestamp(21 * 3600L * 1000L), 0.0)
    val feed = Drain.feed((rows :+ end).toDF("city", "ts", "amount"), "ts", slices, name)
    TableRegistry.createTable(TableRegistry.TableDef(name, Some(feed.schema),
      watermarkCol = Some("ts"), watermarkDelay = Some("1 minute"),
      load = s => s.read.schema(feed.schema).parquet(feed.dir),
      loadStream = Some(s => s.readStream.schema(feed.schema).parquet(feed.dir))))
    feed
  }

  /** The lab4 spike stage over `table`: hourly sums per city, then the
    * anomaly band over each city's series.
    */
  def spikesSelect(table: String): String =
    s"""WITH windowed AS (
       |  SELECT window_time, city, SUM(amount) AS total
       |  FROM TABLE(TUMBLE(TABLE $table, DESCRIPTOR(ts), INTERVAL '1' HOUR))
       |  GROUP BY window_start, window_end, window_time, city),
       |det AS (
       |  SELECT city, window_time, total,
       |    ML_DETECT_ANOMALIES(total, window_time, JSON_OBJECT(
       |      'minTrainingSize' VALUE 4, 'maxTrainingSize' VALUE 50))
       |    OVER (PARTITION BY city ORDER BY window_time
       |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
       |  FROM windowed)
       |SELECT city, window_time, total, a.is_anomaly AS is_anomaly FROM det""".stripMargin

  /** The spike stage's rows, without the `zz_end` window a bounded stream
    * never closes.
    */
  def closed(df: DataFrame): DataFrame = df.where("city <> 'zz_end'")
}
