package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TableRegistry
import graft.sql.{SqlFrontend, StatementCatalog}

/** The lab4-shaped three-stage standing-SQL chain (the topology
  * `graft.SpotStreamingChain` drains), fed seeded event-time slices:
  *
  *   cq_claims (file stream) -> cq_norm (CTAS projection)
  *     -> cq_spikes (6 h TUMBLE + ML_DETECT_ANOMALIES spike filter)
  *     -> cq_queue (interval join back to the static claims snapshot)
  *
  * Every slice is written with the inputs and published into the feed
  * directory by an atomic rename. Set-up submits the statements and drains
  * slice 0; untimed warm-up rounds drain a slice each; an
  * open-loop phase then has one feeder thread publish slices on a fixed
  * schedule while the statements run on their own triggers; a closed-loop
  * phase publishes the rest one slice per round and drains each round through
  * all three stages. Result latency is read after the run from the terminal sink's
  * commit log; the terminal rows must equal the batch twin's.
  */
object ChainWorkload {
  /** Slice 0 for set-up, one per warm-up round, `openSlices` for the open
    * loop, one per closed-loop round. */
  final case class Plan(warmup: Int, openSlices: Int, periodS: Double, rounds: Int) {
    def total: Int = 1 + warmup + openSlices + rounds
  }

  private val statements = Seq("cq_queue", "cq_spikes", "cq_norm")

  private val spikesDdl =
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

  private val queueDdl =
    """CREATE TABLE cq_queue AS
      |SELECT c.claim_id, s.city, s.window_time
      |FROM cq_claims_static c
      |INNER JOIN cq_spikes s
      |  ON c.city = s.city
      | AND c.ts >= s.window_time - INTERVAL '6' HOUR
      | AND c.ts <= s.window_time""".stripMargin

  private def query(name: String) = StatementCatalog.get(name).collect {
    case s: StatementCatalog.Standing => s.query
  }.getOrElse(sys.error(s"'$name' is not standing"))

  /** Drains everything published so far through the three stages, in order. */
  private def drainAll(): Unit = statements.reverse.foreach(n => query(n).processAllAvailable())

  def run(spark: SparkSession, cfg: Main.Config, sessionS: Double, tracer: Tracer,
          o: Main.Outcome): Unit = {
    // the feed, staged with the inputs (gen_data.stage_slices): one file per
    // slice and a manifest of the open loop's period and each slice's role,
    // row count and latest event time, in publishing order
    val staging = Paths.get(cfg.data, "chain-staged")
    val manifest = Files.readAllLines(staging.resolve("slices.tsv")).asScala.map(_.split('\t')).toSeq
    val slices = manifest.tail
    def count(role: String) = slices.count(_(1) == role)
    val plan = Plan(warmup = count("warmup"), openSlices = count("open"),
      periodS = manifest.head(1).toDouble, rounds = count("closed"))
    require(slices.map(_(1)) == Seq("setup") ++ Seq.fill(plan.warmup)("warmup") ++
      Seq.fill(plan.openSlices)("open") ++ Seq.fill(plan.rounds)("closed"), "slices out of order")
    val staged = (0 until plan.total).map(i => staging.resolve(f"slice-$i%05d.parquet"))
    val sliceRows = slices.map(_(2).toLong)
    val sliceMaxTs = slices.map(_(3).toLong)

    val base = Paths.get(cfg.out, "chain").toAbsolutePath
    val claims = spark.read.parquet(s"${cfg.data}/claims.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    claims.createOrReplaceTempView("cq_claims_static")
    val schema = claims.schema

    var feed: Path = null
    def publish(i: Int, copy: Boolean): Unit = {
      val target = feed.resolve(f"slice-$i%05d.parquet")
      if (copy) {
        val tmp = feed.resolve(f".slice-$i%05d.tmp")
        Files.copy(staged(i), tmp)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } else Files.move(staged(i), target, StandardCopyOption.ATOMIC_MOVE)
    }

    // set-up (timed): register the source, submit the statements, drain slice 0
    def setupOnce(rep: Int, last: Boolean): Double = {
      feed = base.resolve(s"feed-$rep")
      Files.createDirectories(feed)
      publish(0, copy = !last)
      val feedDir = feed.toString
      Main.timed {
        TableRegistry.createTable(TableRegistry.TableDef("cq_claims", Some(schema),
          watermarkCol = Some("ts"), watermarkDelay = Some("1 minute"),
          load = s => s.read.schema(schema).parquet(feedDir),
          loadStream = Some(s => s.readStream.schema(schema).parquet(feedDir))))
        Seq("CREATE TABLE cq_norm AS SELECT claim_id, city, ts, amount FROM cq_claims",
          "ALTER TABLE cq_norm MODIFY (WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)",
          spikesDdl, queueDdl).foreach { stmt =>
          tracer.span("sql.execute", "sql") { SqlFrontend.execute(spark, stmt) }
        }
        drainAll()
      }._2
    }
    def teardown(): Unit = {
      statements.foreach(t => SqlFrontend.execute(spark, s"DROP TABLE $t"))
      TableRegistry.dropTable("cq_claims")
    }
    val reps = 2
    val setupS = mutable.ArrayBuffer[Double]()
    val periodMs = (plan.periodS * 1000).toLong
    val dueMs = mutable.Map[Int, Long]()
    val lagS = mutable.ArrayBuffer[Double]()
    val drainS = mutable.ArrayBuffer[Double]()
    val tracedDrainS = mutable.ArrayBuffer[Double]()
    val cpuS = mutable.ArrayBuffer[Double]()
    var drainedEvents = 0L
    tracer.active = cfg.trace
    // one traced operation: the statements' stream threads inherit its job group
    tracer.query("chain-stream") {
      (0 until reps).foreach { r =>
        setupS += setupOnce(r, last = r == reps - 1)
        if (r < reps - 1) teardown()
      }
      (1 to plan.warmup).foreach { i => publish(i, copy = false); drainAll() }

      // open loop: one feeder thread publishes on a fixed schedule
      Machine.resetHeapPeak()
      val startMs = System.currentTimeMillis() + 200
      val feeder = new Thread(() => {
        (1 to plan.openSlices).foreach { k =>
          val i = plan.warmup + k
          val due = startMs + (k - 1) * periodMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          publish(i, copy = false)
          val lag = (System.currentTimeMillis() - due) / 1000.0
          dueMs.synchronized { dueMs(i) = due; lagS += lag }
        }
      }, "perfbench-feeder")
      feeder.start()
      feeder.join()
      drainAll()

      // closed loop: each round publishes one slice and drains it
      (0 until plan.rounds).foreach { r =>
        val traced = cfg.trace && r % 2 == 1
        tracer.active = traced
        val i = 1 + plan.warmup + plan.openSlices + r
        val cpu0 = Machine.processCpuS()
        val t0 = System.nanoTime()
        dueMs(i) = System.currentTimeMillis()
        publish(i, copy = false)
        drainAll()
        val d = (System.nanoTime() - t0) / 1e9
        if (traced) tracedDrainS += d
        else {
          drainS += d
          cpuS += Machine.processCpuS() - cpu0
          drainedEvents += sliceRows(i)
        }
      }
    }
    tracer.active = false
    val heapMb = Machine.heapPeakMb()

    // result latency from the terminal sink's commit log: each spike window's
    // rows commit in some batch; its due time is that of the first slice
    // whose events move the watermark past the window's end. Every slice
    // published after set-up counts, open-loop and closed-loop alike: at one
    // slice per 5 s the statements are idle when a slice lands in either
    // phase, and three open-loop slices alone left the median to the
    // windows of one or two slices.
    val sink = TableRegistry.resolve("cq_queue").options("graft.sink-path")
    val commits = sinkCommits(sink)
    val windows = spark.read.parquet(sink).select(col("window_time"), input_file_name().as("f"))
      .distinct().collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)))
    val windowLatency = windows.groupBy(_._1).toSeq.flatMap { case (wt, rows) =>
      val commit = rows.flatMap(r => commits.get(fileKey(r._2))).minOption
      val closeAt = wt + 1 + 60 * 1000 // window end plus the watermark delay
      val closing = sliceMaxTs.indexWhere(_ >= closeAt)
      for (c <- commit; due <- dueMs.get(closing)) yield closing -> (c - due) / 1000.0
    }
    val latencies = windowLatency.map(_._2)

    // correctness: the terminal queue equals the batch twin over the same feed
    val (ok, detail) = tracer.span("verify", "harness") { verifyAgainstTwin(spark, feed.toString, claims) }
    o.attempted = plan.total
    if (!ok) { o.failed = plan.total; o.failures += s"chain != batch twin: $detail" }

    o.put("setup_s", sessionS + Stats.median(setupS.toSeq), "s", setupS.length)
    o.put("pass_s", Stats.median(drainS.toSeq), "s", drainS.length)
    if (latencies.nonEmpty) {
      o.putPct("latency_s_p50", Stats.pct(latencies, 0.5), "s")
      o.putPct("latency_s_p90", Stats.pct(latencies, 0.9), "s")
    }
    o.put("cpu_s_per_pass", Stats.median(cpuS.toSeq), "s", cpuS.length)
    o.put("events_per_s", drainedEvents / drainS.sum, "1/s", drainS.length)
    o.put("feed_lag_s", Stats.median(lagS.toSeq), "s", lagS.length)
    o.put("driver_heap_peak_mb", heapMb, "MB")
    o.details("chain") = detail
    o.details("setup_s_each") = setupS.toSeq
    o.details("drain_s_each") = drainS.toSeq
    o.details("latency_s_by_slice") = scala.collection.immutable.ListMap(windowLatency.groupBy(_._1)
      .toSeq.sortBy(_._1).map { case (i, ls) => s"$i" -> Stats.median(ls.map(_._2)) }: _*)
    o.details("slices") = plan.total
    o.details("events") = sliceRows.sum
    if (tracedDrainS.nonEmpty) tracer.overhead(Stats.median(tracedDrainS.toSeq), Stats.median(drainS.toSeq))
    tracer.report(o, 1)
    statements.foreach(t => SqlFrontend.execute(spark, s"DROP TABLE $t"))
    TableRegistry.dropTable("cq_claims")
    // the statements' sinks and checkpoints live under the JVM's temp dir
    rmrf(new java.io.File(s"${System.getProperty("java.io.tmpdir")}/graft_streams/" +
      spark.sparkContext.applicationId))
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(): Unit
  }

  private def fileKey(path: String): String = Paths.get(new java.net.URI(path).getPath).getFileName.toString

  /** Sink file name -> commit time (ms) of the batch that first listed it. */
  def sinkCommits(sink: String): Map[String, Long] = {
    val meta = Paths.get(sink, "_spark_metadata")
    val logs = Files.list(meta).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.stripSuffix(".compact").forall(_.isDigit))
      .sortBy(_.getFileName.toString.stripSuffix(".compact").toLong)
    val out = mutable.LinkedHashMap[String, Long]()
    logs.foreach { p =>
      val t = Files.getLastModifiedTime(p).toMillis
      Files.readAllLines(p).asScala.drop(1).foreach { line =>
        val i = line.indexOf("\"path\":\"")
        if (i >= 0) {
          val path = line.substring(i + 8, line.indexOf('"', i + 8))
          val k = fileKey(path)
          if (!out.contains(k)) out(k) = t
        }
      }
    }
    out.toMap
  }

  /** The chain's terminal rows against the batch twin built from the
    * library's batch operators (Tumble, AnomalyDetector.detectBatch,
    * IntervalJoin) over the same feed. */
  def verifyAgainstTwin(spark: SparkSession, feed: String, claims: DataFrame): (Boolean, String) = {
    val feedAll = spark.read.schema(claims.schema).parquet(feed)
    val cfg = graft.anomaly.AnomalyDetector.Config(
      minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 95.0)
    val windowed = graft.operators.Tumble(feedAll, "ts", "6 hours", col("city"))(
      "total" -> graft.functions.Scalars.sumMoney(col("amount")))
    val spikes = graft.anomaly.AnomalyDetector.detectBatch(windowed, col("total"),
        Seq(col("city")), Seq(col("window_start")), cfg)
      .filter(col("is_anomaly") === true && col("total") > col("upper_bound"))
      .select(col("city"), col("window_time"), col("total"))
    val batch = graft.operators.IntervalJoin(
        claims.withColumnRenamed("city", "claim_city"), spikes, "claim_city", "city",
        "ts", "window_time", "'-6' HOUR", "'0' HOUR")
      .select(col("claim_id"), col("claim_city").as("city"), col("window_time").cast("string").as("wt"))
    val chain = SqlFrontend.execute(spark, "SELECT claim_id, city, window_time FROM cq_queue")
      .select(col("claim_id"), col("city"), col("window_time").cast("string").as("wt"))
    // multiset equality through the order-independent fingerprint
    val (fc, fb) = (Fingerprint.of(chain), Fingerprint.of(batch))
    (fc.rows > 0 && fc == fb, s"chain=$fc batch=$fb")
  }
}
