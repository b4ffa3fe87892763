package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.anomaly.AnomalyDetector
import graft.operators.MatchRecognize
import graft.streaming.{KafkaIO, StreamingAnomaly, StreamingOps}

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming sliding windows assign each row to both overlapping windows") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(Timestamp, String)]
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "zone")
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("zone"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("zone"), col("cnt"))
    val q = df.writeStream.format("memory").queryName("slide_sink").outputMode("append").start()
    try {
      mem.addData((ts("2024-03-01 00:07:00"), "a"))
      q.processAllAvailable()
      mem.addData((ts("2024-03-01 01:00:00"), "a")) // watermark closes both windows
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("slide_sink")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
    // 00:07 lands in [00:00,00:10) and [00:05,00:15)
    assert(got.contains(("2024-03-01 00:00:00.0", 1L)) && got.contains(("2024-03-01 00:05:00.0", 1L)),
      s"each event must appear in exactly its two overlapping windows, got $got")
  }

  test("streaming cumulate equals batch Cumulate on closed windows; holds open ones") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(Timestamp, String, Double)]
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingOps.cumulate(mem.toDF().toDF("ts", "k", "v"),
      "ts", "5 seconds", "30 minutes", "2 hours", col("k"))(
      "cnt" -> count(lit(1)), "sv" -> sum(col("v").cast("decimal(25,2)")).cast("double"))
    val q = agg.writeStream.format("memory").queryName("cum_sink").outputMode("append").start()
    val main = Seq(
      (ts("2024-03-01 00:10:00"), "a", 1.5),
      (ts("2024-03-01 00:40:00"), "a", 2.0),
      (ts("2024-03-01 01:55:00"), "b", 4.0))
    try {
      mem.addData(main: _*)
      q.processAllAvailable()
      assert(spark.table("cum_sink").count() == 0,
        "cumulative windows must stay open until the watermark passes their end")
      mem.addData((ts("2024-03-02 12:00:00"), "z", 0.0)) // advances watermark past day 1
      q.processAllAvailable()
    } finally q.stop()

    import spark.implicits._
    val batch = graft.operators.Cumulate(
      main.toDF("ts", "k", "v"), "ts", "30 minutes", "2 hours", "k")(
      slice = Seq("c" -> count(lit(1)), "s" -> sum(col("v").cast("decimal(25,2)"))),
      merge = Seq("cnt" -> sum(col("c")), "sv" -> sum(col("s")).cast("double")))
      .select("window_start", "window_end", "window_time", "k", "cnt", "sv")
    val streamed = spark.table("cum_sink")
      .filter(col("window_start") < ts("2024-03-02 00:00:00")) // sentinel's own windows excluded
      .select("window_start", "window_end", "window_time", "k", "cnt", "sv")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "closed streaming cumulate windows must equal the batch operator")
    assert(streamed.count() == batch.count() && batch.count() > 0)
  }

  test("streaming sequenceMatch equals batch, including matches spanning micro-batches") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Long)]
    val pattern = Seq("A", "B", "C")
    val matches = graft.streaming.StreamingSequenceMatchQ(
      mem.toDF().toDF("u", "t", "ts", "id"), "u", "t", "ts", "id",
      pattern.map(graft.streaming.StreamingSequenceMatchQ.QTok(_, 1, 1)), 7200L * 1000000L)
      .drop("matched_len")
    val q = matches.writeStream.format("memory").queryName("seq_sink").outputMode("append").start()
    val rows = Seq(
      ("u1", "A", ts("2024-01-01 00:00:00"), 1L), ("u1", "B", ts("2024-01-01 00:01:00"), 2L),
      ("u1", "C", ts("2024-01-01 00:02:00"), 3L),   // in-batch match
      ("u2", "A", ts("2024-01-01 00:00:00"), 4L), ("u2", "B", ts("2024-01-01 00:01:00"), 5L),
      // u2's C arrives in the NEXT micro-batch — the trail must carry over
      ("u2", "C", ts("2024-01-01 00:05:00"), 6L),
      // u3: gap event breaks contiguity across the boundary
      ("u3", "A", ts("2024-01-01 00:00:00"), 7L), ("u3", "B", ts("2024-01-01 00:01:00"), 8L),
      ("u3", "x", ts("2024-01-01 00:02:00"), 9L), ("u3", "C", ts("2024-01-01 00:03:00"), 10L),
      // u4: valid shape but outside the 2h bound
      ("u4", "A", ts("2024-01-01 00:00:00"), 11L), ("u4", "B", ts("2024-01-01 00:30:00"), 12L),
      ("u4", "C", ts("2024-01-01 02:00:01"), 13L))
    try {
      val (b1, b2) = rows.splitAt(5)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    import spark.implicits._
    val batch = graft.operators.Behavior.sequenceMatch(
      rows.toDF("u", "t", "ts", "id"), "u", "t", "ts", "id", pattern, 7200L * 1000000L)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"), col("start_tie"))
    val streamed = spark.table("seq_sink")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming sequence matches must equal the batch operator")
    assert(streamed.count() == 2 &&
      streamed.select("key").as[String].collect().toSet == Set("u1", "u2"))
  }

  test("streaming session windows merge rows within the gap and close on watermark") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(Timestamp, String)]
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "user")
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("ss"), col("user"), col("cnt"))
    val q = df.writeStream.format("memory").queryName("sess_sink").outputMode("append").start()
    try {
      // two rows 4 min apart merge; a third 30 min later starts a new session
      mem.addData((ts("2024-03-01 00:00:00"), "u1"), (ts("2024-03-01 00:04:00"), "u1"))
      q.processAllAvailable()
      mem.addData((ts("2024-03-01 00:34:00"), "u1"))
      q.processAllAvailable()
      mem.addData((ts("2024-03-01 02:00:00"), "u1")) // close everything
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_sink")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
    assert(got.contains(("2024-03-01 00:00:00.0", 2L)), s"merged session expected in $got")
    assert(got.contains(("2024-03-01 00:34:00.0", 1L)), s"separate later session expected in $got")
  }

  test("streaming tumble emits a window only after the watermark passes its end") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(Timestamp, String, Double)]
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "zone", "price")
    val agg = StreamingOps.tumble(df, "ts", "5 seconds", "5 minutes", col("zone"))(
      "cnt" -> count(lit(1)))
    val q = agg.writeStream.format("memory").queryName("tumble_out").outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 00:01:00"), "z1", 1.0),
        (ts("2024-01-01 00:02:00"), "z1", 2.0))
      q.processAllAvailable()
      assert(spark.table("tumble_out").count() == 0, "window must stay open until watermark passes")
      // event past window end + 5s delay closes the first window
      mem.addData((ts("2024-01-01 00:05:06"), "z1", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumble_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("cnt") == 2)
      assert(rows.head.getAs[Timestamp]("window_start") == ts("2024-01-01 00:00:00"))
      assert(rows.head.getAs[Timestamp]("window_time") == ts("2024-01-01 00:04:59.999"))
    } finally q.stop()
  }

  test("late rows below the watermark are dropped (reference drop semantics)") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(Timestamp, String, Double)]
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingOps.tumble(mem.toDF().toDF("ts", "zone", "price"), "ts", "5 seconds", "5 minutes", col("zone"))(
      "cnt" -> count(lit(1)))
    val q = agg.writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 00:01:00"), "z1", 1.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:30:00"), "z1", 1.0)) // advances watermark far ahead
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:02:00"), "z1", 99.0)) // below watermark → dropped
      q.processAllAvailable()
      val w1 = spark.table("late_out").filter(col("window_start") === ts("2024-01-01 00:00:00")).collect()
      assert(w1.length == 1 && w1.head.getAs[Long]("cnt") == 1, "late row must not re-open the window")
    } finally q.stop()
  }

  test("streaming anomaly matches the pure-Scala detector across triggers") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Double)]
    val cfg = AnomalyDetector.Config(minTrainingSize = 3, maxTrainingSize = 5, confidencePercentage = 95.0)
    val values = Seq(10.0, 11.0, 10.0, 11.0, 10.0, 100.0, 10.0, 11.0)
    val mem = MemoryStream[(String, Timestamp, Double)]
    val det = StreamingAnomaly(mem.toDF().toDF("key", "ts", "value"), "key", "ts", "value", cfg)
    val q = det.writeStream.format("memory").queryName("anom_out").outputMode("append").start()
    try {
      val points = values.zipWithIndex.map { case (v, i) =>
        ("k1", ts(f"2024-01-01 00:${i}%02d:00"), v)
      }
      val (first, second) = points.splitAt(4) // two triggers → state must carry over
      mem.addData(first: _*); q.processAllAvailable()
      mem.addData(second: _*); q.processAllAvailable()
      val got = spark.table("anom_out").orderBy("ts")
        .select("forecast_value", "is_anomaly").collect()
      val want = AnomalyDetector.detectSeries(values, cfg)
      assert(got.length == want.length)
      got.zip(want).foreach { case (row, (f, _, _, anom)) =>
        (f, if (row.isNullAt(0)) None else Some(row.getDouble(0))) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9)
          case (None, None)       => ()
          case other              => fail(s"forecast mismatch: $other")
        }
        assert(row.getBoolean(1) == anom)
      }
      assert(got.count(_.getBoolean(1)) >= 1, "the 100.0 spike must be flagged")
    } finally q.stop()
  }

  test("the standing stateful operators refuse a static frame and name its batch route") {
    import spark.implicits._
    import graft.operators.MatchRecognize.MrTok
    val static = Seq(("k1", ts("2024-01-01 00:00:00"), 1L, 1.0)).toDF("key", "ts", "id", "value")
    val cfg = AnomalyDetector.Config(minTrainingSize = 3, maxTrainingSize = 5, confidencePercentage = 95.0)
    val anom = intercept[IllegalArgumentException](
      StreamingAnomaly(static, "key", "ts", "value", cfg))
    assert(anom.getMessage.contains("AnomalyDetector.detectBatch"), anom.getMessage)
    val mr = intercept[IllegalArgumentException](graft.streaming.StreamingMatchRecognize(
      static, "key", Seq("value"), "ts", "id", Seq(MrTok("A", 1, Some(1))), Seq(None)))
    assert(mr.getMessage.contains("MatchRecognize.scanPattern"), mr.getMessage)
  }

  test("streaming ARIMA anomaly is bit-identical to the pure-Scala twin across triggers") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Double)]
    val cfg = AnomalyDetector.Config(minTrainingSize = 6, maxTrainingSize = 12,
      confidencePercentage = 99.0, forecast = "arima", arOrder = 2)
    val rnd = new scala.util.Random(91)
    val values = Seq.fill(30)(if (rnd.nextBoolean()) 1.0 else -1.0).scanLeft(50.0)(_ + _)
    val mem = MemoryStream[(String, Timestamp, Double)]
    val det = StreamingAnomaly(mem.toDF().toDF("key", "ts", "value"), "key", "ts", "value", cfg)
    val q = det.writeStream.format("memory").queryName("arima_out").outputMode("append").start()
    try {
      val points = values.zipWithIndex.map { case (v, i) =>
        ("k1", ts(f"2024-01-01 00:${i}%02d:00"), v)
      }
      val (first, second) = points.splitAt(9) // mid-warm-up trigger boundary
      mem.addData(first: _*); q.processAllAvailable()
      mem.addData(second: _*); q.processAllAvailable()
      val got = spark.table("arima_out").orderBy("ts")
        .select("forecast_value", "upper_bound", "is_anomaly").collect()
      val want = AnomalyDetector.detectSeries(values, cfg)
      assert(got.length == want.length)
      got.zip(want).foreach { case (row, (f, hi, _, anom)) =>
        (f, if (row.isNullAt(0)) None else Some(row.getDouble(0))) match {
          case (Some(a), Some(b)) => assert(a == b, "bit-identical forecast")
          case (None, None)       => ()
          case other              => fail(s"forecast mismatch: $other")
        }
        (hi, if (row.isNullAt(1)) None else Some(row.getDouble(1))) match {
          case (Some(a), Some(b)) => assert(a == b, "bit-identical band")
          case (None, None)       => ()
          case other              => fail(s"band mismatch: $other")
        }
        assert(row.getBoolean(2) == anom)
      }
    } finally q.stop()
  }

  test("streaming auto-period STL infers the season from timestamps and matches the twin") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Double)]
    // period-4 sawtooth on a 6-hour cadence → auto infers period 4 (day/6h)
    val pattern = Array(10.0, 30.0, 50.0, 30.0)
    val values = (0 until 24).map(t => pattern(t % 4) + (t % 3) * 0.3) :+ 50.0 // final phase break
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50,
      confidencePercentage = 99.0, enableStl = true) // seasonalPeriod = 0 → auto
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val mem = MemoryStream[(String, Timestamp, Double)]
    val det = StreamingAnomaly(mem.toDF().toDF("key", "ts", "value"), "key", "ts", "value", cfg)
    val q = det.writeStream.format("memory").queryName("stl_auto_out").outputMode("append").start()
    try {
      val points = values.zipWithIndex.map { case (v, i) =>
        ("k1", new Timestamp(base + i * 6L * 3600 * 1000), v)
      }
      val (first, second) = points.splitAt(10) // period must survive the state round-trip
      mem.addData(first: _*); q.processAllAvailable()
      mem.addData(second: _*); q.processAllAvailable()
      val got = spark.table("stl_auto_out").orderBy("ts")
        .select("forecast_value", "is_anomaly").collect()
      // pure twin with the period auto would infer
      val want = AnomalyDetector.detectSeries(values, cfg, inferredPeriod = 4)
      got.zip(want).foreach { case (row, (f, _, _, anom)) =>
        assert((if (row.isNullAt(0)) None else Some(row.getDouble(0))) == f)
        assert(row.getBoolean(1) == anom)
      }
      assert(got.last.getBoolean(1), "the anti-seasonal break must be flagged")
      assert(got.init.count(_.getBoolean(1)) == 0, "in-pattern points stay inside the band")
    } finally q.stop()
  }

  test("streaming interval join matches batch semantics") {
    implicit val sq = spark.sqlContext
    implicit val encL = Encoders.product[(Long, Timestamp)]
    val left = MemoryStream[(Long, Timestamp)]
    val right = MemoryStream[(Long, Timestamp)]
    val joined = StreamingOps.intervalJoin(
      left.toDF().toDF("k", "lts"), right.toDF().toDF("k2", "rts"),
      "k", "k2", "lts", "rts", "10 seconds", "'0' SECOND", "'60' SECOND")
    val q = joined.writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      right.addData((1L, ts("2024-01-01 00:00:00")))
      left.addData((1L, ts("2024-01-01 00:00:30")), (1L, ts("2024-01-01 00:02:00")), (2L, ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      val rows = spark.table("ij_out").collect()
      assert(rows.length == 1, s"exactly the in-range same-key row joins, got ${rows.length}")
      assert(rows.head.getAs[Long]("k") == 1L)
      assert(rows.head.getAs[Timestamp]("lts") == ts("2024-01-01 00:00:30"))
    } finally q.stop()
  }

  test("upsert sink keeps the latest row per key") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Long, Double)]
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/sink"
    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamingOps.upsertParquet(mem.toDF().toDF("zone", "version", "price"),
      dir, Seq("zone"), "version")
      .option("checkpointLocation", dir + "_ckpt").start()
    try {
      mem.addData(("z1", 1L, 10.0), ("z2", 1L, 20.0)); q.processAllAvailable()
      mem.addData(("z1", 2L, 11.0)); q.processAllAvailable()
      val rows = spark.read.parquet(dir).orderBy("zone").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq(("z1", 2L, 11.0), ("z2", 1L, 20.0)))
    } finally q.stop()
  }

  test("Confluent wire-format framing round-trips") {
    val body = "payload-bytes".getBytes("UTF-8")
    val framed = KafkaIO.confluentFrame(100007, body)
    assert(framed(0) == 0.toByte && framed.length == body.length + 5)
    val (id, out) = KafkaIO.confluentUnframe(framed)
    assert(id == 100007 && out.toSeq == body.toSeq)
    intercept[IllegalArgumentException](KafkaIO.confluentUnframe(Array[Byte](1, 2, 3, 4, 5, 6)))
  }

  test("quarantine routing works unchanged on a stream (stateless row-local tagging)") {
    import graft.operators.Expectations.{Rule, quarantine}
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(Long, Option[Int])]
    val mem = MemoryStream[(Long, Option[Int])]
    val tagged = quarantine(mem.toDF().toDF("id", "v"),
      Seq(Rule("positive", col("v") > 0, 1.0)))
    val q = tagged.writeStream.format("memory").queryName("quar_sink")
      .outputMode("append").start()
    try {
      mem.addData((1L, Some(5)), (2L, Some(-1)), (3L, None))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("quar_sink").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "", 2L -> "positive", 3L -> "positive"),
      s"streaming rows must tag exactly like batch: $got")
  }

  test("streaming quantified sequence match equals SQL MATCH_RECOGNIZE; decides across micro-batches") {
    import graft.streaming.StreamingSequenceMatchQ
    import graft.streaming.StreamingSequenceMatchQ.QTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Long)]
    val pattern = Seq(QTok("A", 1, 1), QTok("B", 1, 2), QTok("C", 0, 1))
    val matches = StreamingSequenceMatchQ(
      mem.toDF().toDF("u", "t", "ts", "id"), "u", "t", "ts", "id", pattern, 7200L * 1000000L)
    val q = matches.writeStream.format("memory").queryName("seqq_sink").outputMode("append").start()
    val b1 = Seq(
      ("u1", "A", ts("2024-01-01 00:00:00"), 1L), ("u1", "B", ts("2024-01-01 00:01:00"), 2L),
      ("u1", "B", ts("2024-01-01 00:02:00"), 3L), ("u1", "C", ts("2024-01-01 00:03:00"), 4L),
      // u2: A B matched, but A B B / A B C still open -> UNDECIDED this batch
      ("u2", "A", ts("2024-01-01 00:00:00"), 5L), ("u2", "B", ts("2024-01-01 00:01:00"), 6L),
      // u3: no B at all -> no match
      ("u3", "A", ts("2024-01-01 00:00:00"), 7L), ("u3", "C", ts("2024-01-01 00:01:00"), 8L),
      // u4: shape ok but B beyond the 2h within bound; longer branches stay
      // open until the sentinel breaks them
      ("u4", "A", ts("2024-01-01 00:00:00"), 9L), ("u4", "B", ts("2024-01-01 02:30:00"), 10L))
    val b2 = Seq( // sentinels break every open candidate -> decisions emit NOW
      ("u2", "x", ts("2024-01-01 00:05:00"), 11L),
      ("u4", "x", ts("2024-01-01 03:00:00"), 12L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      val afterB1 = spark.table("seqq_sink").collect().map(_.getString(0)).toSet
      assert(afterB1 == Set("u1"), s"u2 must stay undecided while a longer alternative is open: $afterB1")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    import spark.implicits._
    val streamed = spark.table("seqq_sink")
      .select(col("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))
    val got = streamed.collect().map(r => (r.getString(0), r.getInt(3))).toSet
    // u1 greedy takes B B C (len 4); u2 settles on A B (len 2) at the sentinel;
    // u4's within violation kills every alternative
    assert(got == Set(("u1", 4), ("u2", 2)), got.toString)

    // the SQL MATCH_RECOGNIZE over the closed stream agrees on (key, start)
    (b1 ++ b2).toDF("u", "t", "ts", "id").createOrReplaceTempView("seqq_events")
    val sqlRows = graft.sql.SqlFrontend.execute(spark,
      """SELECT * FROM seqq_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts
        |    MEASURES A.ts AS match_start_ts
        |    ONE ROW PER MATCH
        |    AFTER MATCH SKIP TO NEXT ROW
        |    PATTERN (A B{1,2} C?) WITHIN INTERVAL '2' HOUR
        |    DEFINE A AS A.t = 'A', B AS B.t = 'B', C AS C.t = 'C'
        |  )""".stripMargin)
      .select(col("u").as("key"), col("match_start_ts"))
    val streamedStarts = streamed.select("key", "match_start_ts")
    assert(streamedStarts.exceptAll(sqlRows).isEmpty && sqlRows.exceptAll(streamedStarts).isEmpty,
      "closed-stream quantified matches must equal the SQL rewrite")

    // third surface: the batch DataFrame operator agrees column-for-column
    val batchQ = graft.operators.Behavior.sequenceMatchQ(
      (b1 ++ b2).toDF("u", "t", "ts", "id"), "u", "t", "ts", "id", pattern, 7200L * 1000000L)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))
    assert(streamed.exceptAll(batchQ).isEmpty && batchQ.exceptAll(streamed).isEmpty,
      "batch sequenceMatchQ must equal the streaming operator on the closed stream")
  }

  test("streaming UNBOUNDED quantifier (A+): greedy run decides at the breaking event; equals batch + SQL") {
    import graft.streaming.StreamingSequenceMatchQ
    import graft.streaming.StreamingSequenceMatchQ.QTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Long)]
    val pattern = Seq(QTok("A", 1, QTok.Unbounded)) // A+
    val matches = StreamingSequenceMatchQ(
      mem.toDF().toDF("u", "t", "ts", "id"), "u", "t", "ts", "id", pattern,
      skipPast = true)
    val q = matches.writeStream.format("memory").queryName("seqq_unb_sink")
      .outputMode("append").start()
    // k1: A A A | A A x — the greedy run stays OPEN across the batch split
    //     (a future event may extend it); the x decides one len-5 match.
    // k2: A x | A A y — the x decides len-1; then a len-2 run at the y.
    val b1 = Seq(
      ("k1", "A", ts("2024-01-01 00:00:01"), 1L), ("k1", "A", ts("2024-01-01 00:00:02"), 2L),
      ("k1", "A", ts("2024-01-01 00:00:03"), 3L),
      ("k2", "A", ts("2024-01-01 00:00:01"), 6L), ("k2", "x", ts("2024-01-01 00:00:02"), 7L))
    val b2 = Seq(
      ("k1", "A", ts("2024-01-01 00:00:04"), 4L), ("k1", "A", ts("2024-01-01 00:00:05"), 5L),
      ("k1", "x", ts("2024-01-01 00:00:06"), 9L),
      ("k2", "A", ts("2024-01-01 00:00:03"), 8L), ("k2", "A", ts("2024-01-01 00:00:04"), 10L),
      ("k2", "y", ts("2024-01-01 00:00:05"), 11L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      val afterB1 = spark.table("seqq_unb_sink").collect()
        .map(r => (r.getString(0), r.getAs[Long]("start_tie"))).toSet
      assert(afterB1 == Set(("k2", 6L)),
        s"k1's open greedy run must NOT emit before a breaking event: $afterB1")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    import spark.implicits._
    val streamed = spark.table("seqq_unb_sink")
      .select(col("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))
    val got = streamed.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getInt(3))).toSet
    assert(got == Set(
      ("k1", ts("2024-01-01 00:00:01"), 5),
      ("k2", ts("2024-01-01 00:00:01"), 1), ("k2", ts("2024-01-01 00:00:03"), 2)), got.toString)

    // batch surface (sequenceMatchSkipPast routes unbounded tokens to the
    // NFA scan) agrees column-for-column on the closed stream
    val df = (b1 ++ b2).toDF("u", "t", "ts", "id")
    val batch = graft.operators.Behavior.sequenceMatchSkipPast(
      df, "u", "t", "ts", "id", pattern)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "batch unbounded skip-past must equal the streaming operator")

    // SQL surface: PATTERN (A+), default skip strategy
    df.createOrReplaceTempView("seqq_unb_events")
    val sqlRows = graft.sql.SqlFrontend.execute(spark,
      """SELECT * FROM seqq_unb_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts, id
        |    MEASURES FIRST(A.ts) AS match_start_ts, LAST(A.ts) AS match_end_ts
        |    ONE ROW PER MATCH
        |    PATTERN (A+)
        |    DEFINE A AS A.t = 'A'
        |  )""".stripMargin)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"))
    val streamedSpan = streamed.select("key", "match_start_ts", "match_end_ts")
    assert(streamedSpan.exceptAll(sqlRows).isEmpty && sqlRows.exceptAll(streamedSpan).isEmpty,
      "SQL A+ must equal the streaming operator on the closed stream")

    // the WITHIN horizon decides an open run with no breaking event: two As
    // then a third far past the bound — the start decides at the horizon
    val mem2 = MemoryStream[(String, String, Timestamp, Long)]
    val m2 = StreamingSequenceMatchQ(
      mem2.toDF().toDF("u", "t", "ts", "id"), "u", "t", "ts", "id",
      Seq(QTok("A", 2, QTok.Unbounded)), withinMicros = 7200L * 1000000L, skipPast = true)
    val q2 = m2.writeStream.format("memory").queryName("seqq_unb_within")
      .outputMode("append").start()
    try {
      mem2.addData(("w1", "A", ts("2024-01-01 00:00:00"), 1L),
        ("w1", "A", ts("2024-01-01 00:30:00"), 2L)); q2.processAllAvailable()
      assert(spark.table("seqq_unb_within").isEmpty, "run still open inside the bound")
      mem2.addData(("w1", "A", ts("2024-01-01 05:00:00"), 3L)); q2.processAllAvailable()
      val w = spark.table("seqq_unb_within").collect()
        .map(r => (r.getString(0), r.getInt(4))).toSet
      assert(w == Set(("w1", 2)), s"the 5h event is past WITHIN: the open run decides len-2: $w")
    } finally q2.stop()
  }

  test("streaming RELUCTANT quantifier (A+?): shortest completion decides IMMEDIATELY; equals batch + SQL") {
    import graft.streaming.StreamingSequenceMatchQ
    import graft.streaming.StreamingSequenceMatchQ.QTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Long)]
    val pattern = Seq(QTok("A", 1, QTok.Unbounded, reluctant = true)) // A+?
    val matches = StreamingSequenceMatchQ(
      mem.toDF().toDF("u", "t", "ts", "id"), "u", "t", "ts", "id", pattern,
      skipPast = true)
    val q = matches.writeStream.format("memory").queryName("seqq_lazy_sink")
      .outputMode("append").start()
    val b1 = Seq(
      ("k1", "A", ts("2024-01-01 00:00:01"), 1L), ("k1", "A", ts("2024-01-01 00:00:02"), 2L),
      ("k1", "A", ts("2024-01-01 00:00:03"), 3L))
    val b2 = Seq(("k1", "x", ts("2024-01-01 00:00:04"), 4L),
      ("k1", "A", ts("2024-01-01 00:00:05"), 5L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      // the greedy form stays OPEN here (previous test); LAZY needs no
      // breaking event — the shortest completion (one A) exists the moment
      // each A arrives, so all three decide in THIS micro-batch
      val afterB1 = spark.table("seqq_lazy_sink").collect()
        .map(r => (r.getAs[Long]("start_tie"), r.getInt(4))).toSet
      assert(afterB1 == Set((1L, 1), (2L, 1), (3L, 1)),
        s"lazy A+? must decide len-1 per A without waiting for a break: $afterB1")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    import spark.implicits._
    val streamed = spark.table("seqq_lazy_sink")
      .select(col("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))
    assert(streamed.count() == 4) // the b2 A decides too

    // batch + SQL surfaces agree on the closed stream
    val df = (b1 ++ b2).toDF("u", "t", "ts", "id")
    val batch = graft.operators.Behavior.sequenceMatchSkipPast(df, "u", "t", "ts", "id", pattern)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "batch lazy skip-past must equal the streaming operator")
    df.createOrReplaceTempView("seqq_lazy_events")
    val sqlRows = graft.sql.SqlFrontend.execute(spark,
      """SELECT * FROM seqq_lazy_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts, id
        |    MEASURES FIRST(A.ts) AS match_start_ts, LAST(A.ts) AS match_end_ts
        |    ONE ROW PER MATCH
        |    PATTERN (A+?)
        |    DEFINE A AS A.t = 'A'
        |  )""".stripMargin)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"))
    val streamedSpan = streamed.select("key", "match_start_ts", "match_end_ts")
    assert(streamedSpan.exceptAll(sqlRows).isEmpty && sqlRows.exceptAll(streamedSpan).isEmpty,
      "SQL A+? must equal the streaming operator on the closed stream")
  }

  test("streaming VALUE CEP with a cross-variable cap: buffered-run reads across micro-batches") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    def ev(m: Int, v: Double) = ("k1", "tick", ts(s"2024-01-01 00:0$m:00"), v)
    // S D+ U+ with the r10 interpreted cap: U rises only while BELOW the
    // anchor's value — FIRST(S.v) is a cross-variable read of the attempt's
    // buffered rows, and the down-run spans the micro-batch boundary
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "t", "ts", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "v", // ties never collide in this fixture
      tokens = Seq(MrTok("S", 1, Some(1)), MrTok("D", 1, None), MrTok("U", 1, None)),
      defs = Seq(None, Some("D.v < PREV(D.v)"),
        Some("U.v > PREV(U.v) AND U.v < FIRST(S.v)")),
      skip = MatchRecognize.SkipPastLastRow)
    val q = matches.writeStream.format("memory").queryName("mrv_sink")
      .outputMode("append").start()
    try {
      mem.addData(ev(0, 10.0), ev(1, 8.0), ev(2, 7.0)); q.processAllAvailable()
      assert(spark.table("mrv_sink").isEmpty, "open run must not emit at the batch boundary")
      mem.addData(ev(3, 9.0), ev(4, 12.0), ev(5, 11.0), ev(6, 13.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mrv_sink").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getInt(4))).toSeq
    // the cap cuts the rise at 9 (12 >= 10): match = rows 00:00..00:03, len 4
    assert(got == Seq(("k1", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:03:00"), 4)),
      got.mkString(";"))
  }

  test("streaming VALUE CEP over TWO numeric columns: closed-stream parity with batch SQL") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double, Double)]
    // the r10 route refused this (ONE numeric + <=1 string); r11 buffers the
    // projected row set, so `D.price < PREV(D.price) AND D.volume > 1000`
    // runs as a standing query
    val rows = Seq(
      ("k1", ts("2024-01-01 00:00:00"), 1L, 100.0, 500.0),
      ("k1", ts("2024-01-01 00:01:00"), 2L, 90.0, 2000.0),
      ("k1", ts("2024-01-01 00:02:00"), 3L, 80.0, 1500.0),
      ("k1", ts("2024-01-01 00:03:00"), 4L, 85.0, 3000.0), // price rises: breaks D
      ("k2", ts("2024-01-01 00:00:00"), 5L, 100.0, 9999.0),
      ("k2", ts("2024-01-01 00:01:00"), 6L, 90.0, 500.0)) // volume too thin: D fails
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "price", "volume"), "u",
      condCols = Seq("price", "volume"), tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("S", 1, Some(1)), MrTok("D", 1, None)),
      defs = Seq(None, Some("D.price < PREV(D.price) AND D.volume > 1000")),
      skip = MatchRecognize.SkipPastLastRow)
    val q = matches.writeStream.format("memory").queryName("mrv2_sink")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("mrv2_sink")
      .select(col("key"), col("match_start_ts"), col("match_end_ts"))
    import spark.implicits._
    rows.toDF("u", "ts", "id", "price", "volume").createOrReplaceTempView("mrv2_events")
    val batch = graft.sql.SqlFrontend.execute(spark,
      """SELECT * FROM mrv2_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts
        |    MEASURES FIRST(S.ts) AS match_start_ts, LAST(D.ts) AS match_end_ts
        |    ONE ROW PER MATCH
        |    PATTERN (S D+)
        |    DEFINE D AS D.price < PREV(D.price) AND D.volume > 1000
        |  )""".stripMargin)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"))
    assert(streamed.count() == 1 && batch.count() == 1,
      s"expected the single k1 00:00..00:02 match: streamed=${streamed.collect().mkString(";")}")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "two-numeric-column value CEP must equal the batch scan on the closed stream")
  }

  test("streaming VALUE CEP keeps exact integral types: longs beyond 2^53 split correctly") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Long)]
    val mem = MemoryStream[(String, Timestamp, Long, Long)]
    // 2^53 and 2^53+1 collapse to the same IEEE double — the r10 buffer's
    // double cast would see PREV(D.n) = D.n and never match; the r11 buffer
    // keeps the long and compares exactly (the batch scan's contract)
    val hi = 9007199254740993L // 2^53 + 1
    val lo = 9007199254740992L // 2^53
    val rows = Seq(("k1", ts("2024-01-01 00:00:00"), 1L, hi),
      ("k1", ts("2024-01-01 00:01:00"), 2L, lo))
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "n"), "u", condCols = Seq("n"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("A", 1, Some(1)), MrTok("D", 1, Some(1))),
      defs = Seq(None, Some("D.n < PREV(D.n)")), skip = MatchRecognize.SkipPastLastRow)
    val q = matches.writeStream.format("memory").queryName("mrv_exact_sink")
      .outputMode("append").start()
    try { mem.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("mrv_exact_sink").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).toSeq
    assert(got == Seq(("k1", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:01:00"))),
      s"exact long comparison must see 2^53+1 > 2^53: $got")
  }

  test("streaming aggregate MEASURES: count/sum/min/avg per winning run, exact decimals") {
    import graft.streaming.StreamingMatchRecognize
    import graft.streaming.StreamingMatchRecognize.{MrAggMeasure, MrMeasure}
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    // ticker S D+ U+ split across two micro-batches
    def ev(m: Int, id: Long, v: Double) = ("k1", ts(f"2024-01-01 00:$m%02d:00"), id, v)
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("S", 1, Some(1)), MrTok("D", 1, None), MrTok("U", 1, None)),
      defs = Seq(None, Some("D.v < PREV(D.v)"), Some("U.v > PREV(U.v)")),
      skip = MatchRecognize.SkipPastLastRow,
      measures = Seq(MrMeasure(isFirst = false, 2, "v", "top")),
      aggMeasures = Seq(
        MrAggMeasure("cnt", 1, "*", "n_down"),
        MrAggMeasure("sum", 2, "v", "up_sum"),
        MrAggMeasure("min", 1, "v", "bottom"),
        MrAggMeasure("avg", 1, "v", "down_avg")))
    val q = matches.writeStream.format("memory").queryName("mragg_sink")
      .outputMode("append").start()
    try {
      mem.addData(ev(0, 1L, 10.0), ev(1, 2L, 8.0), ev(2, 3L, 7.0)); q.processAllAvailable()
      mem.addData(ev(3, 4L, 9.0), ev(4, 5L, 12.0), ev(5, 6L, 11.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mragg_sink")
      .selectExpr("n_down", "CAST(up_sum AS DOUBLE)", "bottom", "down_avg", "top").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // the match: S=10, D=[8,7], U=[9,12] (11 breaks the rise and seals it)
    assert(got.toSeq == Seq((2L, 21.0, 7.0, 7.5, 12.0)), got.mkString(";"))
  }

  test("streaming MATCH_NUMBER(): per-key ordinal across micro-batches; skip-to-next " +
    "defers winners behind the undecided frontier (r15)") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    def ev(m: Int, id: Long, v: Double) = ("k1", ts(f"2024-01-01 00:$m%02d:00"), id, v)
    val matches = StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "v"), "u",
      condCols = Seq("v"), tsCol = "ts", tieCol = "id",
      varNames = Seq("S", "D"),
      branches = Seq(IndexedSeq(graft.operators.MatchRecognize.BTok(0, 1, Some(1)),
        graft.operators.MatchRecognize.BTok(1, 1, None))),
      defs = Seq(None, Some("D.v < PREV(D.v)")), skip = MatchRecognize.SkipPastLastRow,
      matchNumberAlias = Some("seq"))
    val q = matches.writeStream.format("memory").queryName("mrmn_sink")
      .outputMode("append").start()
    try {
      // two falls split across batches: [10, 8] rise-break [9, 7] rise-break
      mem.addData(ev(0, 1L, 10.0), ev(1, 2L, 8.0), ev(2, 3L, 9.0)); q.processAllAvailable()
      mem.addData(ev(3, 4L, 7.0), ev(4, 5L, 11.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mrmn_sink").select("start_tie", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L), (3L, 2L)),
      s"per-key ordinals must persist across micro-batches: $got")
    // SKIP TO NEXT ROW PLANS since r15 (the r14 refusal is gone): every
    // start decides independently and MATCH_NUMBER defers winners behind
    // the undecided frontier — ordinals land in start order. The SQL-route
    // spec (StreamingSqlSpec) pins the cross-batch scrambling fixture; this
    // operator-level case pins the simple accepted shape.
    val mem2 = MemoryStream[(String, Timestamp, Long, Double)]
    val next = StreamingMatchRecognize(
      mem2.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("A", 1, Some(1))), defs = Seq(Some("A.v > 0")),
      skip = MatchRecognize.SkipToNextRow, matchNumberAlias = Some("seq"))
    val q2 = next.writeStream.format("memory").queryName("mrmn_next_sink")
      .outputMode("append").start()
    try {
      mem2.addData(ev(0, 1L, 5.0), ev(1, 2L, -1.0)); q2.processAllAvailable()
      mem2.addData(ev(2, 3L, 6.0)); q2.processAllAvailable()
    } finally q2.stop()
    val got2 = spark.table("mrmn_next_sink").select("start_tie", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got2 == Seq((1L, 1L), (3L, 2L)),
      s"skip-to-next MATCH_NUMBER must count matching starts in order: $got2")
  }

  test("streaming ALTERNATION: branch placement + closed-stream parity with the batch scan") {
    // PATTERN (A B | B A) with cross-variable DEFINEs (the MrPatternSpec
    // batch fixture) as a STANDING query, events split across two
    // micro-batches — branch-positional placedBefore must hold in the
    // streaming resolve exactly as in the batch NFA
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.{MatchRecognize, MrPattern}
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, String, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, String, Double)]
    val rows = Seq(
      // r1: b(5) then a(7) — only branch [B A] fits
      ("r1", ts("2024-01-01 00:00:00"), 1L, "b", 5.0),
      ("r1", ts("2024-01-01 00:01:00"), 2L, "a", 7.0),
      // r2: a(7) then b(9) — branch [A B] fits
      ("r2", ts("2024-01-01 00:00:00"), 3L, "a", 7.0),
      ("r2", ts("2024-01-01 00:01:00"), 4L, "b", 9.0),
      // r3: b(5) then a(4) — branch 2's cross check (A.v > B.v) fails
      ("r3", ts("2024-01-01 00:00:00"), 5L, "b", 5.0),
      ("r3", ts("2024-01-01 00:01:00"), 6L, "a", 4.0))
    val (bs, names) = MrPattern.expand("A B | B A")
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant)).toIndexedSeq)
    val defs = Seq(
      Some("A.kind = 'a' AND (LAST(B.v) IS NULL OR A.v > LAST(B.v))"),
      Some("B.kind = 'b' AND (LAST(A.v) IS NULL OR B.v > LAST(A.v))"))
    val matches = StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "kind", "v"), "u",
      condCols = Seq("kind", "v"), tsCol = "ts", tieCol = "id",
      varNames = names, branches = branches, defs = defs, skip = MatchRecognize.SkipPastLastRow,
      measures = Seq(StreamingMatchRecognize.MrMeasure(isFirst = false, nidx("A"), "v", "a_v"),
        StreamingMatchRecognize.MrMeasure(isFirst = false, nidx("B"), "v", "b_v")))
    val q = matches.writeStream.format("memory").queryName("mralt_sink")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3): _*); q.processAllAvailable()
      mem.addData(rows.drop(3): _*); q.processAllAvailable()
      // bounded streams keep final open attempts un-emitted; these fixtures
      // all end broken (len-2 winners or dead), so the sink is complete
    } finally q.stop()
    val got = spark.table("mralt_sink")
      .select("key", "a_v", "b_v").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq(("r1", 7.0, 5.0), ("r2", 7.0, 9.0)),
      s"branch placement must decide per key: $got")
  }

  test("streaming ALTERNATION: an OPEN earlier branch defers a later branch's ready match") {
    // PATTERN (S B{2,} | S C): after [S, 20] branch 1 is OPEN (B extensible)
    // while branch 2 (S C) already matches — leftmost preference must DEFER,
    // then resolve by what actually arrives: a B-killing event hands the
    // match to branch 2; a B-extending run keeps branch 1 (parity with the
    // batch scan's branch order on the closed stream)
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.{MatchRecognize, MrPattern}
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val (bs, names) = MrPattern.expand("S B{2,} | S C")
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant)).toIndexedSeq)
    val defs = Seq(None, Some("B.v > 10"), Some("C.v > 5"))
    val matches = StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "v"), "u",
      condCols = Seq("v"), tsCol = "ts", tieCol = "id",
      varNames = names, branches = branches, defs = defs, skip = MatchRecognize.SkipPastLastRow,
      measures = Seq(StreamingMatchRecognize.MrMeasure(isFirst = false, nidx("C"), "v", "c_v")))
    val q = matches.writeStream.format("memory").queryName("mralt2_sink")
      .outputMode("append").start()
    try {
      // k1: branch 1 dies (2.0 kills B with only one B row) → branch 2 wins
      mem.addData(("k1", ts("2024-01-01 00:00:00"), 1L, 1.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, 20.0))
      q.processAllAvailable()
      assert(spark.table("mralt2_sink").isEmpty,
        "open branch 1 must defer branch 2's ready match across the batch boundary")
      mem.addData(("k1", ts("2024-01-01 00:02:00"), 3L, 2.0))
      // k2: branch 1 completes (two B rows then a break) → branch 1 wins
      mem.addData(("k2", ts("2024-01-01 00:00:00"), 4L, 1.0),
        ("k2", ts("2024-01-01 00:01:00"), 5L, 20.0),
        ("k2", ts("2024-01-01 00:02:00"), 6L, 30.0),
        ("k2", ts("2024-01-01 00:03:00"), 7L, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mralt2_sink").collect()
      .map(r => (r.getString(0), r.getInt(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).sortBy(_._1).toSeq
    // k1: branch 2's len-2 match with C = 20; k2: branch 1's len-3 match,
    // C absent → NULL measure
    assert(got == Seq(("k1", 2, Some(20.0)), ("k2", 3, None)),
      s"branch preference under deferral diverged: $got")
  }

  test("streaming ALTERNATION: branch-0 re-win zeroes prior placements (stale-measure guard)") {
    // r12 regression (ADVICE r11 high): resolve() used to zero the shared
    // counts array only for branches b > 0 — when branch 0 wins a LATER
    // match in the same micro-batch, variables absent from branch 0 kept
    // the PREVIOUS match's placements and emitMatch reported stale
    // non-NULL measures (after buffer drops, arbitrary shifted rows).
    // PATTERN (V (C | P)) over view,purchase,view,click: match 1 = [V P]
    // (buy = 42), match 2 = [V C] — its buy measure must be NULL, not the
    // click row's value.
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.{MatchRecognize, MrPattern}
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, String, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, String, Double)]
    val (bs, names) = MrPattern.expand("V (C | P)")
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant)).toIndexedSeq)
    val defs = Seq(Some("V.kind = 'view'"), Some("C.kind = 'click'"),
      Some("P.kind = 'purchase'"))
    val matches = StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "kind", "v"), "u",
      condCols = Seq("kind", "v"), tsCol = "ts", tieCol = "id",
      varNames = names, branches = branches, defs = defs, skip = MatchRecognize.SkipPastLastRow,
      measures = Seq(
        StreamingMatchRecognize.MrMeasure(isFirst = false, nidx("P"), "v", "buy_v"),
        StreamingMatchRecognize.MrMeasure(isFirst = false, nidx("C"), "v", "click_v")))
    val q = matches.writeStream.format("memory").queryName("mrstale_sink")
      .outputMode("append").start()
    try {
      // one micro-batch so both matches resolve in ONE state invocation —
      // the shape that exercised the stale shared-array path
      mem.addData(
        ("k1", ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, "purchase", 42.0),
        ("k1", ts("2024-01-01 00:02:00"), 3L, "view", 2.0),
        ("k1", ts("2024-01-01 00:03:00"), 4L, "click", 99.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mrstale_sink")
      .select("start_tie", "buy_v", "click_v").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
    assert(got == Seq((1L, Some(42.0), None), (3L, None, Some(99.0))),
      s"a branch-0 winner after a prior match must not read stale placements: $got")
  }

  // ---------------------------------------- streaming ALL ROWS PER MATCH (r12)

  private def mrTicker(
      mem: MemoryStream[(String, Timestamp, Long, Double)],
      sink: String,
      pattern: String = "S D+ U+",
      measures: Seq[graft.streaming.StreamingMatchRecognize.MrMeasure] = Seq.empty,
      aggMeasures: Seq[graft.streaming.StreamingMatchRecognize.MrAggMeasure] = Seq.empty,
      subsets: Seq[(String, Seq[Int])] = Seq.empty,
      allRows: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{MatchRecognize, MrPattern}
    import graft.streaming.StreamingMatchRecognize
    val (bs, names) = MrPattern.expand(pattern)
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant, t.excluded)).toIndexedSeq)
    val defs = names.map {
      case "D" => Some("D.value < PREV(D.value)")
      case "U" => Some("U.value > PREV(U.value)")
      case _ => None
    }
    StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "value"), "u",
      condCols = Seq("value"), tsCol = "ts", tieCol = "id",
      varNames = names, branches = branches, defs = defs, skip = MatchRecognize.SkipPastLastRow,
      measures = measures, aggMeasures = aggMeasures, allRows = allRows,
      subsets = subsets, tree = Some(MrPattern.parse(pattern)))
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
  }

  test("streaming ALL ROWS: per-row emission with classifier, decided across micro-batches") {
    // the q165 shape as a standing query: rows of ONE match arrive over
    // three micro-batches; nothing emits until the breaking event decides
    // the greedy U+ — then ALL matched rows emit at once, in row order
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val q = mrTicker(mem, "mr_allrows_sink")
    try {
      mem.addData(("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, 8.0))
      q.processAllAvailable()
      assert(spark.table("mr_allrows_sink").isEmpty, "greedy run still open — nothing decides")
      mem.addData(("k1", ts("2024-01-01 00:02:00"), 3L, 7.0),
        ("k1", ts("2024-01-01 00:03:00"), 4L, 9.0))
      q.processAllAvailable()
      assert(spark.table("mr_allrows_sink").isEmpty, "U+ still extensible — still open")
      mem.addData(("k1", ts("2024-01-01 00:04:00"), 5L, 12.0),
        ("k1", ts("2024-01-01 00:05:00"), 6L, 5.0)) // 5 breaks U+ → decided
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mr_allrows_sink")
      .select("row_tie", "cls", "value", "matched_len", "start_tie")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "S", 10.0, 5, 1L), (2L, "D", 8.0, 5, 1L), (3L, "D", 7.0, 5, 1L),
      (4L, "U", 9.0, 5, 1L), (5L, "U", 12.0, 5, 1L)), got.toString)
    // the trailing 5.0 row seeds an undecided S — never emitted (open tail)
  }

  test("streaming ALL ROWS: RUNNING vs FINAL measure views equal the batch contract") {
    // q173's shape: RUNNING LAST(D.value)/LAST(U.value) see the match only
    // up to each emitted row (NULL before the run begins); FINAL sees it all
    import graft.streaming.StreamingMatchRecognize.MrMeasure
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val q = mrTicker(mem, "mr_runview_sink", measures = Seq(
      MrMeasure(isFirst = false, 1, "value", "run_bottom", running = true),
      MrMeasure(isFirst = false, 2, "value", "run_top", running = true),
      MrMeasure(isFirst = false, 2, "value", "final_top")))
    try {
      mem.addData(("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, 8.0),
        ("k1", ts("2024-01-01 00:02:00"), 3L, 7.0),
        ("k1", ts("2024-01-01 00:03:00"), 4L, 9.0),
        ("k1", ts("2024-01-01 00:04:00"), 5L, 12.0),
        ("k1", ts("2024-01-01 00:05:00"), 6L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mr_runview_sink")
      .select("row_tie", "cls", "run_bottom", "run_top", "final_top")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getDouble(4))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "S", None, None, 12.0),
      (2L, "D", Some(8.0), None, 12.0),
      (3L, "D", Some(7.0), None, 12.0),
      (4L, "U", Some(7.0), Some(9.0), 12.0),
      (5L, "U", Some(7.0), Some(12.0), 12.0)), got.toString)
  }

  test("streaming ALL ROWS: exclusion hides rows but they fold into RUNNING aggregates") {
    // q178's shape: {- D+ -} rows are matched (anchor U+, count toward
    // matched_len and aggregates, consumed by skip-past) but not emitted;
    // the RUNNING count folds them BEFORE the first emitted U row
    import graft.streaming.StreamingMatchRecognize.MrAggMeasure
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val q = mrTicker(mem, "mr_excl_sink", pattern = "S {- D+ -} U+", aggMeasures = Seq(
      MrAggMeasure("cnt", 1, "*", "d_seen", running = true),
      MrAggMeasure("cnt", 1, "*", "n_down"),
      MrAggMeasure("sum", 2, "value", "run_up_sum", running = true)))
    try {
      mem.addData(("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, 8.0),
        ("k1", ts("2024-01-01 00:02:00"), 3L, 7.0),
        ("k1", ts("2024-01-01 00:03:00"), 4L, 9.0),
        ("k1", ts("2024-01-01 00:04:00"), 5L, 12.0),
        ("k1", ts("2024-01-01 00:05:00"), 6L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mr_excl_sink")
      .selectExpr("row_tie", "cls", "d_seen", "n_down", "CAST(run_up_sum AS DOUBLE)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "S", 0L, 2L, None),
      (4L, "U", 2L, 2L, Some(9.0)),
      (5L, "U", 2L, 2L, Some(21.0))), got.toString)
    // matched_len still counts the hidden rows
    val lens = spark.table("mr_excl_sink").select("matched_len")
      .collect().map(_.getInt(0)).toSet
    assert(lens == Set(5))
  }

  test("streaming exclusion under ONE ROW stays refused (batch-scan rule)") {
    import graft.operators.{MatchRecognize, MrPattern}
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val (bs, names) = MrPattern.expand("S {- D+ -} U+")
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant, t.excluded)).toIndexedSeq)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingMatchRecognize.applyPattern(
        mem.toDF().toDF("u", "ts", "id", "value"), "u",
        condCols = Seq("value"), tsCol = "ts", tieCol = "id",
        varNames = names, branches = branches,
        defs = Seq(None, Some("D.value < PREV(D.value)"), Some("U.value > PREV(U.value)")),
        allRows = false)
    }
    assert(e.getMessage.contains("ALL ROWS"), e.getMessage)
  }

  test("streaming MR open-tail accumulator: a key expiring with an undecided run is counted") {
    // r12 (verdict #7): the bounded-stream open-tail contract, observable —
    // a TTL-expired key holding a still-OPEN attempt adds to the named
    // accumulator (and logs), so production sees undecided-run counts
    // without an oracle diff
    import graft.operators.{MatchRecognize, MrPattern}
    import graft.streaming.StreamingMatchRecognize
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val (bs, names) = MrPattern.expand("S D+ U+")
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant)).toIndexedSeq)
    val acc = spark.sparkContext.longAccumulator("mr_open_tails_test")
    val matched = StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "value"), "u",
      condCols = Seq("value"), tsCol = "ts", tieCol = "id",
      varNames = names, branches = branches,
      defs = Seq(None, Some("D.value < PREV(D.value)"), Some("U.value > PREV(U.value)")),
      skip = MatchRecognize.SkipPastLastRow, ttl = Some(graft.streaming.StreamingOps.StateTtl(60L, "0 seconds")),
      openTailAcc = Some(acc))
    val q = matched.writeStream.format("memory").queryName("mr_opentail_sink")
      .outputMode("append").start()
    try {
      // k1: S D — the greedy attempt stays OPEN (no U yet)
      mem.addData(("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, 8.0))
      q.processAllAvailable()
      assert(acc.value == 0L)
      // k2 far in the future advances the watermark past k1's TTL → k1
      // expires holding its undecided attempt
      mem.addData(("k2", ts("2024-01-01 01:00:00"), 3L, 1.0))
      q.processAllAvailable()
      mem.addData(("k2", ts("2024-01-01 02:00:00"), 4L, 2.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(acc.value == 1L,
      s"the expired key's undecided open attempt must be counted, got ${acc.value}")
    assert(spark.table("mr_opentail_sink").isEmpty, "an undecided run never emits")
  }

  // ------------------------------------------------ streaming SUBSET (r12)

  test("streaming SUBSET: aggregate and value MEASURES pool the member runs (q177 twin)") {
    import graft.streaming.StreamingMatchRecognize.{MrAggMeasure, MrMeasure}
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    // M = (D, U) at subset index 0 → measure tok = nTok + 0 = 3
    val q = mrTicker(mem, "mr_subset_sink", allRows = false,
      subsets = Seq(("M", Seq(1, 2))),
      measures = Seq(
        MrMeasure(isFirst = true, 3, "value", "move_first"),
        MrMeasure(isFirst = false, 3, "value", "move_last")),
      aggMeasures = Seq(
        MrAggMeasure("cnt", 3, "*", "move_rows"),
        MrAggMeasure("sum", 3, "value", "move_sum"),
        MrAggMeasure("min", 3, "value", "move_min")))
    try {
      mem.addData(("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, 8.0),
        ("k1", ts("2024-01-01 00:02:00"), 3L, 7.0),
        ("k1", ts("2024-01-01 00:03:00"), 4L, 9.0),
        ("k1", ts("2024-01-01 00:04:00"), 5L, 12.0),
        ("k1", ts("2024-01-01 00:05:00"), 6L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mr_subset_sink")
      .selectExpr("start_tie", "move_first", "move_last", "move_rows",
        "CAST(move_sum AS DOUBLE)", "move_min")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq((1L, 8.0, 12.0, 4L, 36.0, 7.0)), got.toString)
  }

  test("streaming SUBSET in DEFINE: union FIRST caps the rise (q179 twin)") {
    import graft.operators.{MatchRecognize, MrPattern}
    import graft.streaming.StreamingMatchRecognize
    import graft.streaming.StreamingMatchRecognize.MrAggMeasure
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val (bs, names) = MrPattern.expand("S D+ U+")
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant)).toIndexedSeq)
    val matched = StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "value"), "u",
      condCols = Seq("value"), tsCol = "ts", tieCol = "id",
      varNames = names, branches = branches,
      defs = Seq(None, Some("D.value < PREV(D.value)"),
        Some("U.value > PREV(U.value) AND U.value < 2 * FIRST(M.value)")),
      skip = MatchRecognize.SkipPastLastRow, subsets = Seq(("M", Seq(nidx("S"), nidx("D")))),
      aggMeasures = Seq(MrAggMeasure("cnt", nidx("U"), "*", "n_up")))
    val q = matched.writeStream.format("memory").queryName("mr_subdef_sink")
      .outputMode("append").start()
    try {
      // 2 * FIRST(M.value) = 20: the rise 9, 12 is kept, 25 is cut — the
      // run decides at the 25 row (pred false), match ends at value 12
      mem.addData(("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
        ("k1", ts("2024-01-01 00:01:00"), 2L, 8.0),
        ("k1", ts("2024-01-01 00:02:00"), 3L, 7.0),
        ("k1", ts("2024-01-01 00:03:00"), 4L, 9.0),
        ("k1", ts("2024-01-01 00:04:00"), 5L, 12.0),
        ("k1", ts("2024-01-01 00:05:00"), 6L, 25.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mr_subdef_sink")
      .select("start_tie", "matched_len", "n_up")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 5, 2L)), got.toString)
  }

  test("streaming NEXT(): one-event deferral, WITHIN closes a deferred attempt; equals batch") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val r0 = ("k1", ts("2024-01-01 00:00:00"), 1L, 5.0)
    val r1 = ("k1", ts("2024-01-01 01:00:00"), 2L, 6.0)
    val r2 = ("k1", ts("2024-01-01 01:00:30"), 3L, 7.0)
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("A", 1, Some(1)), MrTok("B", 1, Some(1))),
      defs = Seq(Some("NEXT(A.v) > A.v"), Some("B.v > 0")),
      withinMicros = 60L * 1000000L, skip = MatchRecognize.SkipPastLastRow)
    val q = matches.writeStream.format("memory").queryName("mrv_next_sink")
      .outputMode("append").start()
    try {
      mem.addData(r0); q.processAllAvailable()
      // A@00:00 reads its unarrived successor: deferred, nothing emitted
      assert(spark.table("mrv_next_sink").isEmpty, "NEXT at the tail must defer, not decide")
      mem.addData(r1); q.processAllAvailable()
      // successor arrived: NEXT(A.v)=6>5 holds, but B@01:00 is past WITHIN
      // 60s -> the deferred attempt is CLOSED dead, it does not hang
      assert(spark.table("mrv_next_sink").isEmpty, "WITHIN must close the resolved attempt")
      mem.addData(r2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("mrv_next_sink")
      .select(col("key"), col("match_start_ts"), col("match_end_ts"))
    val got = streamed.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
    assert(got.toSeq == Seq(("k1", ts("2024-01-01 01:00:00"), ts("2024-01-01 01:00:30"))),
      s"only the in-horizon (r1, r2) attempt matches: ${got.mkString(";")}")
    // closed-stream parity with the batch scan's NEXT (lead-rewritten)
    import spark.implicits._
    Seq(r0, r1, r2).toDF("u", "ts", "id", "v").createOrReplaceTempView("mrv_next_events")
    val batch = graft.sql.SqlFrontend.execute(spark,
      """SELECT * FROM mrv_next_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts
        |    MEASURES A.ts AS match_start_ts, B.ts AS match_end_ts
        |    ONE ROW PER MATCH
        |    PATTERN (A B) WITHIN INTERVAL '1' MINUTE
        |    DEFINE A AS NEXT(A.v) > A.v, B AS B.v > 0
        |  )""".stripMargin)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming NEXT must equal the batch scan on the closed stream")
  }

  test("streaming VALUE CEP with a Catalyst-fallback DEFINE (ABS + CASE): equals batch") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    // the interpreter refuses abs()/CASE; the Hybrid fallback runs them on
    // the streaming route too, with PREV() staying an interpreted atom:
    // D = a drop of MORE than 1.0 from the previous row
    val rows = Seq(
      ("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("k1", ts("2024-01-01 00:01:00"), 2L, 9.5), // drop 0.5: not a D
      ("k1", ts("2024-01-01 00:02:00"), 3L, 7.0), // drop 2.5: D
      ("k1", ts("2024-01-01 00:03:00"), 4L, 4.0), // drop 3.0: D
      ("k1", ts("2024-01-01 00:04:00"), 5L, 3.8)) // drop 0.2: breaks the run
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("S", 1, Some(1)), MrTok("D", 1, None)),
      defs = Seq(None, Some(
        "CASE WHEN abs(D.v - PREV(D.v)) > 1.0 THEN D.v < PREV(D.v) ELSE false END")),
      skip = MatchRecognize.SkipPastLastRow)
    val q = matches.writeStream.format("memory").queryName("mrv_hybrid_sink")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3): _*); q.processAllAvailable()
      mem.addData(rows.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("mrv_hybrid_sink")
      .select(col("key"), col("match_start_ts"), col("match_end_ts"))
    import spark.implicits._
    rows.toDF("u", "ts", "id", "v").createOrReplaceTempView("mrv_hybrid_events")
    val batch = graft.sql.SqlFrontend.execute(spark,
      """SELECT * FROM mrv_hybrid_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts
        |    MEASURES FIRST(S.ts) AS match_start_ts, LAST(D.ts) AS match_end_ts
        |    ONE ROW PER MATCH
        |    PATTERN (S D+)
        |    DEFINE D AS CASE WHEN abs(D.v - PREV(D.v)) > 1.0
        |                     THEN D.v < PREV(D.v) ELSE false END
        |  )""".stripMargin)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"))
    // the S@00:01 anchor's D-run spans 00:02..00:03 (both drops > 1.0)
    assert(streamed.count() == 1 && batch.count() == 1,
      s"expected one match: streamed=${streamed.collect().mkString(";")} " +
        s"batch=${batch.collect().mkString(";")}")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "hybrid-DEFINE value CEP must equal the batch scan on the closed stream")
  }

  test("streaming VALUE CEP drops a late event below the buffer tail (loudly, not silently)") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("A", 1, Some(1)), MrTok("D", 1, Some(1))),
      defs = Seq(None, Some("D.v < PREV(D.v)")), skip = MatchRecognize.SkipPastLastRow)
    val q = matches.writeStream.format("memory").queryName("mrv_late_sink")
      .outputMode("append").start()
    try {
      mem.addData(("k1", ts("2024-01-01 00:02:00"), 1L, 10.0),
        ("k1", ts("2024-01-01 00:03:00"), 2L, 5.0))
      q.processAllAvailable()
      // a 00:01 event in the NEXT batch is below the 00:03 tail: appending
      // it would corrupt PREV navigation — the contract drops it
      mem.addData(("k1", ts("2024-01-01 00:01:00"), 3L, 100.0),
        ("k1", ts("2024-01-01 00:04:00"), 4L, 20.0),
        ("k1", ts("2024-01-01 00:05:00"), 5L, 15.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mrv_late_sink").collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(got == Set((ts("2024-01-01 00:02:00"), ts("2024-01-01 00:03:00")),
      (ts("2024-01-01 00:04:00"), ts("2024-01-01 00:05:00"))),
      s"late 00:01 row must be dropped, in-order rows still match: $got")
  }

  test("streaming quantified SKIP PAST LAST ROW: younger completions wait; equals batch + SQL") {
    import graft.streaming.StreamingSequenceMatchQ
    import graft.streaming.StreamingSequenceMatchQ.QTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, String, Timestamp, Long)]
    val mem = MemoryStream[(String, String, Timestamp, Long)]
    val pattern = Seq(QTok("A", 1, 2)) // greedy len-2 over runs of A
    val matches = StreamingSequenceMatchQ(
      mem.toDF().toDF("u", "t", "ts", "id"), "u", "t", "ts", "id", pattern,
      skipPast = true)
    val q = matches.writeStream.format("memory").queryName("seqq_sp_sink")
      .outputMode("append").start()
    // k1: A A A A A — skip-past greedy = (1,2), (3,4), then 5 stays OPEN
    //     until the x breaks it → (5,5). The head-cursor rule is load-bearing:
    //     start 2's own [A,A] completes at event 3, but emitting it would
    //     overlap start 1's selection.
    // k2: A x A A — (1,1) decided by the x; (3,4) greedy.
    // Split mid-run across micro-batches: consumption must carry over.
    val b1 = Seq(
      ("k1", "A", ts("2024-01-01 00:00:01"), 1L), ("k1", "A", ts("2024-01-01 00:00:02"), 2L),
      ("k1", "A", ts("2024-01-01 00:00:03"), 3L),
      ("k2", "A", ts("2024-01-01 00:00:01"), 6L), ("k2", "x", ts("2024-01-01 00:00:02"), 7L))
    val b2 = Seq(
      ("k1", "A", ts("2024-01-01 00:00:04"), 4L), ("k1", "A", ts("2024-01-01 00:00:05"), 5L),
      ("k1", "x", ts("2024-01-01 00:00:06"), 9L),
      ("k2", "A", ts("2024-01-01 00:00:03"), 8L), ("k2", "A", ts("2024-01-01 00:00:04"), 10L),
      ("k2", "x", ts("2024-01-01 00:00:05"), 11L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      val afterB1 = spark.table("seqq_sp_sink").collect()
        .map(r => (r.getString(0), r.getAs[Long]("start_tie"))).toSet
      // k1's (1,2) decided at event 2; start 3 still open. k2's lone A
      // decided len-1 by the x; the trailing x is dead.
      assert(afterB1 == Set(("k1", 1L), ("k2", 6L)), s"batch-1 decisions: $afterB1")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    import spark.implicits._
    val streamed = spark.table("seqq_sp_sink")
      .select(col("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))

    val df = (b1 ++ b2).toDF("u", "t", "ts", "id")
    val batch = graft.operators.Behavior.sequenceMatchSkipPast(
      df, "u", "t", "ts", "id", pattern)
      .select(col("u").as("key"), col("match_start_ts"), col("match_end_ts"), col("matched_len"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming skip-past must equal the batch scan on the closed stream")
    val starts = streamed.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getInt(3))).toSet
    assert(starts == Set(
      ("k1", ts("2024-01-01 00:00:01"), 2), ("k1", ts("2024-01-01 00:00:03"), 2),
      ("k1", ts("2024-01-01 00:00:05"), 1),
      ("k2", ts("2024-01-01 00:00:01"), 1), ("k2", ts("2024-01-01 00:00:03"), 2)), starts.toString)

    // SQL surface (batch text form) agrees on (key, start)
    df.createOrReplaceTempView("seqq_sp_events")
    val sqlRows = graft.sql.SqlFrontend.execute(spark,
      """SELECT * FROM seqq_sp_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u ORDER BY ts, id
        |    MEASURES FIRST(A.ts) AS match_start_ts
        |    ONE ROW PER MATCH
        |    AFTER MATCH SKIP PAST LAST ROW
        |    PATTERN (A{1,2})
        |    DEFINE A AS A.t = 'A'
        |  )""".stripMargin)
      .select(col("u").as("key"), col("match_start_ts"))
    val streamedStarts = streamed.select("key", "match_start_ts")
    assert(streamedStarts.exceptAll(sqlRows).isEmpty && sqlRows.exceptAll(streamedStarts).isEmpty,
      "closed-stream skip-past matches must equal the SQL rewrite")
  }

  test("streaming AFTER MATCH SKIP TO FIRST <var>: overlapping matches across micro-batches " +
    "equal the batch scan, ordinals intact (r14)") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    def ev(m: Int, id: Long, v: Double) = ("k1", ts(f"2024-01-01 00:$m%02d:00"), id, v)
    // skip-to-first re-anchors INSIDE the previous span: the 10,8,7,9,8,6,9
    // tail yields four matches, two fully nested in earlier spans
    val b1 = Seq(ev(0, 1L, 10.0), ev(1, 2L, 8.0), ev(2, 3L, 7.0), ev(3, 4L, 9.0))
    val b2 = Seq(ev(4, 5L, 8.0), ev(5, 6L, 6.0), ev(6, 7L, 9.0), ev(7, 8L, 5.0))
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("S", 1, Some(1)), MrTok("D", 1, None), MrTok("U", 1, None)),
      defs = Seq(None, Some("D.v < PREV(D.v)"), Some("U.v > PREV(U.v)")),
      skip = MatchRecognize.SkipToFirst(1),
      matchNumberAlias = Some("seq"))
    val q = matches.writeStream.format("memory").queryName("mrskipf_sink")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      assert(spark.table("mrskipf_sink").isEmpty,
        "the first span's U-run is still extensible — nothing may decide in batch 1")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mrskipf_sink")
      .select("start_tie", "matched_len", "seq").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._3).toSeq
    // m1 rows 1-4; re-anchor at FIRST D (row 2) -> m2 rows 2-4 (nested);
    // row 3 anchors nothing; m3 rows 4-7; m4 rows 5-7 (nested)
    assert(got == Seq((1L, 4, 1L), (2L, 3, 2L), (4L, 4, 3L), (5L, 3, 4L)), got.mkString(";"))

    // closed-stream parity with the batch scan under the same strategy
    import spark.implicits._
    val evs = (b1 ++ b2).toDF("u", "ts", "id", "v")
    val batch = graft.operators.MatchRecognize.scan(
      evs, Seq(col("u")), Seq(col("ts"), col("id")), "ts",
      Seq(MrTok("S", 1, Some(1)), MrTok("D", 1, None), MrTok("U", 1, None)),
      Seq(lit(true), expr("v < lag(v) OVER (PARTITION BY u ORDER BY ts, id)"),
        expr("v > lag(v) OVER (PARTITION BY u ORDER BY ts, id)")),
      None, graft.operators.MatchRecognize.SkipToFirst(1), allRows = false, Seq.empty)
      .select(col("id").cast("long"), col("__mr_len").cast("int"), col("__mr_seq"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._3).toSeq
    assert(batch == got, s"streaming skip-to-first diverged from the batch scan:\n$batch\nvs\n$got")
  }

  test("streaming AFTER MATCH SKIP TO: empty-target and self-re-anchor fail loudly (r14)") {
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.MatchRecognize.MrTok
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    def ev(m: Int, id: Long, v: Double) = ("k1", ts(f"2024-01-01 00:$m%02d:00"), id, v)
    // SKIP TO FIRST S re-anchors at the match's own start row — the
    // standard's infinite-loop rule, a TASK error (batch parity), so the
    // standing query fails loudly instead of spinning
    val matches = StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("S", 1, Some(1)), MrTok("D", 1, None)),
      defs = Seq(None, Some("D.v < PREV(D.v)")),
      skip = MatchRecognize.SkipToFirst(0))
    val q = matches.writeStream.format("memory").queryName("mrskiperr_sink")
      .outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        mem.addData(ev(0, 1L, 10.0), ev(1, 2L, 8.0), ev(2, 3L, 9.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(err.getMessage.contains("re-anchor"), err.getMessage)
    // an out-of-range target index refuses at plan time
    val planErr = intercept[IllegalArgumentException](StreamingMatchRecognize(
      mem.toDF().toDF("u", "ts", "id", "v"), "u", condCols = Seq("v"),
      tsCol = "ts", tieCol = "id",
      tokens = Seq(MrTok("A", 1, Some(1))), defs = Seq(Some("A.v > 0")),
      skip = MatchRecognize.SkipToLast(3)))
    assert(planErr.getMessage.contains("skip target out of range"), planErr.getMessage)
  }
}
