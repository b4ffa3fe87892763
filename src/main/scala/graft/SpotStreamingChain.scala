package graft

import org.apache.spark.sql.functions._

import graft.sql.{SqlFrontend, StatementCatalog}
import graft.sources.TableRegistry

/** sf-scale drain of the lab4-shaped THREE-STAGE chained standing-statement
  * topology (r16, VERDICT r15 #2) — the reference's topic-per-stage design
  * (scripts/lab4_datagen.py:296-304) through the FULL SQL lifecycle surface:
  *
  *   cq_claims (watermarked file stream, the topic stand-in)
  *     -> s1 `cq_norm`   CTAS projection        (claims normalize stage)
  *     -> s2 `cq_spikes` CTAS 6h TUMBLE + ML_DETECT_ANOMALIES spike filter
  *                       (the lab4 stage-1 shape; watermark on the chained
  *                        sink table via the walkthrough's own ALTER TABLE
  *                        MODIFY WATERMARK DDL, LAB3-Walkthrough.md:493-496)
  *     -> s3 `cq_queue`  CTAS interval join back to the static claims
  *                       snapshot (lab4's pinned-snapshot discipline)
  *
  * The feed replays the events table as `slices` event-time-ordered parquet
  * slices (one micro-batch each); `restartAfter > 0` STOPs the MIDDLE stage
  * after that slice, feeds another slice while it is down (the upstream
  * keeps committing), then RESUMEs it from its own checkpoint — recovery
  * through the relight surface, mid-chain, with state (the anomaly
  * detector's per-city training window) in flight.
  *
  * Gate: the terminal queue must be row-identical (symmetric exceptAll = 0)
  * to the BATCH twin built with q35's machinery (Tumble + sumMoney +
  * AnomalyDetector.detectBatch cfg(8,50,95) + IntervalJoin) over the same
  * feed. One per-city SENTINEL claim (amount 0, ts = max + 7h) rides the
  * LAST slice so the watermark closes every real window; the sentinel's own
  * window never closes (open-tail contract) and cannot spike into the
  * compared output on either path (total 0 is never ABOVE an upper band,
  * and no real claim lies in its window).
  *
  * Usage: runMain graft.SpotStreamingChain <sfDir> [slices] [restartAfter] [mode]
  * (restartAfter = 0 -> unbroken run; the BASELINE row pairs a restarted and
  * an unbroken reading, both ≡ batch, hence ≡ each other. mode `restart`
  * (default) STOPs/RESUMEs the middle stage; mode `resubmit` RE-SUBMITS the
  * middle stage's CTAS mid-drain instead — the r16 cascade surface at scale:
  * the re-submission rotates `cq_spikes`'s sink under the RUNNING `cq_queue`
  * statement, the planner cascades a re-plan of `cq_queue` automatically,
  * and the re-planned pair recomputes from the upstream sink's full
  * committed history, so the terminal queue must STILL equal the batch
  * twin — the chain heals itself where pre-r16 the downstream would have
  * silently drained a dead directory forever.)
  */
object SpotStreamingChain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val slices = args.lift(1).map(_.toInt).getOrElse(8)
    val restartAfter = args.lift(2).map(_.toInt).getOrElse(0)
    val mode = args.lift(3).getOrElse("restart")
    require(restartAfter < slices, s"restartAfter $restartAfter must be < slices $slices")
    require(mode == "restart" || mode == "resubmit", s"unknown mode '$mode'")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import graft.core.Tables

    val t0 = System.nanoTime()
    val claims = Tables(spark, sfDir, "events").select(
        col("event_id").as("claim_id"), col("event_type").as("city"),
        col("ts").cast("timestamp").as("ts"), col("value").as("amount"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxTs = claims.agg(max(col("ts"))).head().getTimestamp(0)
    val cities = claims.select("city").distinct().collect().map(_.getString(0)).sorted
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 7L * 3600 * 1000)
    import spark.implicits._
    val sentinels = cities.zipWithIndex.map { case (c, i) => (-1L - i, c, sentinelTs, 0.0) }
      .toSeq.toDF("claim_id", "city", "ts", "amount")
    // the sentinels carry the latest event time, so they land in the last slice
    val feed = Drain.feed(claims.unionByName(sentinels), "ts", slices, "chainfeed")
    val feedDir = feed.dir

    val schema = feed.schema
    TableRegistry.createTable(TableRegistry.TableDef("cq_claims", Some(schema),
      watermarkCol = Some("ts"), watermarkDelay = Some("1 minute"),
      load = s => s.read.schema(schema).parquet(feedDir),
      loadStream = Some(s => s.readStream.schema(schema).parquet(feedDir))))
    // chain_claims_static: the REAL claims snapshot both twins join back to
    claims.createOrReplaceTempView("cq_claims_static")

    feed.publish(0) // the file-stream source needs at least one file at plan time
    // rows cq_spikes' anomaly stage drops behind a city's last window
    val late = new Drain.Accumulables(spark, "anomaly_late_rows_")
    SqlFrontend.execute(spark,
      "CREATE TABLE cq_norm AS SELECT claim_id, city, ts, amount FROM cq_claims")
    // the chained sink table declares its OWN event-time watermark — the
    // walkthrough's ALTER DDL, the analog of the per-topic WATERMARK clause
    SqlFrontend.execute(spark,
      "ALTER TABLE cq_norm MODIFY (WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)")
    val spikesDdl =
      """CREATE TABLE cq_spikes AS
        |WITH windowed AS (
        |  SELECT window_time, city,
        |         CAST(SUM(CAST(amount AS DECIMAL(25, 2))) AS DOUBLE) AS total
        |  FROM TABLE(TUMBLE(TABLE cq_norm, DESCRIPTOR(ts), INTERVAL '6' HOUR))
        |  GROUP BY window_start, window_end, window_time, city),
        |det AS (
        |  SELECT city, window_time, total,
        |    ML_DETECT_ANOMALIES(total, window_time, JSON_OBJECT(
        |      'minTrainingSize' VALUE 8, 'maxTrainingSize' VALUE 50,
        |      'confidencePercentage' VALUE 95.0, 'enableStl' VALUE FALSE))
        |    OVER (PARTITION BY city ORDER BY window_time
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anomaly_result
        |  FROM windowed)
        |SELECT city, window_time, total FROM det
        |WHERE anomaly_result.is_anomaly = true AND total > anomaly_result.upper_bound""".stripMargin
    SqlFrontend.execute(spark, spikesDdl)
    SqlFrontend.execute(spark,
      """CREATE TABLE cq_queue AS
        |SELECT c.claim_id, s.city, s.window_time
        |FROM cq_claims_static c
        |INNER JOIN cq_spikes s
        |  ON c.city = s.city
        | AND c.ts >= s.window_time - INTERVAL '6' HOUR
        | AND c.ts <= s.window_time""".stripMargin)

    def q(name: String) = Drain.standing(name)
    def drainAll(): Unit = {
      q("cq_norm").processAllAvailable()
      if (q("cq_spikes").isActive) q("cq_spikes").processAllAvailable()
      q("cq_queue").processAllAvailable()
    }

    drainAll()
    var restarted = false
    for (i <- 1 until slices) {
      if (restartAfter > 0 && i == restartAfter && mode == "restart") {
        SqlFrontend.execute(spark, "STOP STATEMENT 'cq_spikes'")
        println(s"[chain] STOPPED cq_spikes after slice ${i - 1}")
      }
      feed.publish(i)
      if (restartAfter > 0 && i == restartAfter) {
        if (mode == "restart") {
          // the upstream stage keeps committing while the middle one is down
          q("cq_norm").processAllAvailable()
          SqlFrontend.execute(spark, "RESUME STATEMENT 'cq_spikes'")
          println(s"[chain] RESUMED cq_spikes (relight on its own checkpoint)")
        } else {
          // the r16 cascade at scale: re-submit the MIDDLE stage's CTAS —
          // its sink rotates under the RUNNING cq_queue reader, and the
          // planner must cascade a re-plan of cq_queue automatically; both
          // re-planned stages recompute from the upstream's full committed
          // history on fresh checkpoints
          q("cq_norm").processAllAvailable()
          SqlFrontend.execute(spark, spikesDdl)
          require(StatementCatalog.status("cq_queue") == "RUNNING",
            "cascade must leave cq_queue RUNNING on a re-planned instance")
          println(s"[chain] RE-SUBMITTED cq_spikes after slice ${i - 1} " +
            "(cascade re-planned cq_queue)")
        }
        restarted = true
      }
      drainAll()
      if (i % 2 == 0 || i == slices - 1) println(s"[chain] slice $i drained")
    }
    val drainSec = (System.nanoTime() - t0) / 1e9

    // ---- batch twin: q35's machinery over the same feed (with sentinels)
    val feedAll = spark.read.schema(schema).parquet(feedDir)
    val cfg = graft.anomaly.AnomalyDetector.Config(
      minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 95.0)
    val windowedB = graft.operators.Tumble(feedAll, "ts", "6 hours", col("city"))(
      "total" -> graft.functions.Scalars.sumMoney(col("amount")))
    val spikesB = graft.anomaly.AnomalyDetector.detectBatch(windowedB, col("total"),
        Seq(col("city")), Seq(col("window_start")), cfg)
      .filter(col("is_anomaly") === true && col("total") > col("upper_bound"))
      .select(col("city"), col("window_time"), col("total"))
    val batchQueue = graft.operators.IntervalJoin(
        claims.withColumnRenamed("city", "claim_city"), spikesB, "claim_city", "city",
        "ts", "window_time", "'-6' HOUR", "'0' HOUR")
      .select(col("claim_id"), col("claim_city").as("city"),
        col("window_time").cast("string").as("wt"))
    val chainQueue = SqlFrontend.execute(spark,
        "SELECT claim_id, city, window_time FROM cq_queue")
      .select(col("claim_id"), col("city"), col("window_time").cast("string").as("wt"))

    val p = Drain.parity(chainQueue, batchQueue)
    val report = Drain.report("chain", p.ok)("chain" -> "lab4-3stage", "sf" -> sfDir,
      "slices" -> slices, "restartAfter" -> restartAfter, "mode" -> mode, "restarted" -> restarted,
      "chainRows" -> p.streamed, "batchRows" -> p.batch, "missing" -> p.missing, "extra" -> p.extra,
      "anomalyLateRows" -> late.sum("anomaly_late_rows_"),
      "drainSec" -> drainSec, "totalSec" -> (System.nanoTime() - t0) / 1e9)
    late.stop()

    // drop the standing statements and remove the multi-GB feed/sink dirs
    Seq("cq_queue", "cq_spikes", "cq_norm").foreach(t =>
      SqlFrontend.execute(spark, s"DROP TABLE $t"))
    TableRegistry.dropTable("cq_claims")
    feed.delete()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_streams/${spark.sparkContext.applicationId}"))
    Drain.exit(spark, report)
  }
}
