package graft

import java.sql.Timestamp

import org.scalatest.BeforeAndAfterAll

import graft.sql.{SqlFrontend, StatementCatalog}
import graft.sources.TableRegistry

/** One ride event, shaped exactly like Generators.rideRequests' rows (the
  * MemoryStream feed for the standing-statement specs).
  */
case class RideEvent(request_id: String, customer_email: String, pickup_zone: String,
                     drop_off_zone: String, price: Double, number_of_passengers: Int,
                     request_ts: Timestamp)

/** The reference's primary entry path is a CONTINUOUS statement: every lab
  * pipeline stage is a `CREATE TABLE … AS SELECT` that stays RUNNING until
  * stopped (testing/helpers/flink_sql_helper.py:98-136). These specs run the
  * walkthroughs' statement text verbatim against a STREAM-registered table and
  * require the standing result to equal the batch snapshot of the same text.
  */
class StreamingSqlSpec extends SparkSpec with BeforeAndAfterAll {

  private def lab3Blocks: Seq[String] = {
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/LAB3-Walkthrough.md")), "UTF-8")
    "(?sm)^```sql\\s*\\n(.*?)^```".r.findAllMatchIn(md).map(_.group(1).trim).toSeq
  }

  private def cleanup(): Unit = {
    StatementCatalog.reset()
    Seq("anomalies_per_zone", "ride_requests").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
  }

  test("lab3 anomalies_per_zone CTAS over a STREAM table runs as a standing statement " +
    "and matches the batch snapshot; DROP TABLE stops it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    cleanup()

    val rides = graft.sources.Generators.rideRequests(spark,
      zones = Seq("French Quarter", "Garden District", "Marigny"), surgeZone = "French Quarter",
      baseStart = Timestamp.valueOf("2024-03-01 00:00:00"), hours = 30,
      ratePerZonePerHour = 60, surgeMultiplier = 12, surgeStartHour = 26, surgeHours = 1)

    val mem = MemoryStream[RideEvent]
    TableRegistry.createTable(TableRegistry.TableDef("ride_requests", Some(rides.schema),
      watermarkCol = Some("request_ts"), watermarkDelay = Some("10 minutes"),
      load = _ => rides, loadStream = Some(_ => mem.toDF())))

    // the exact statement text from the walkthrough (docs-are-the-fixture)
    val ctas = lab3Blocks.find(b =>
        b.toUpperCase.startsWith("CREATE TABLE") && b.contains("ML_DETECT_ANOMALIES"))
      .getOrElse(fail("LAB3 walkthrough must contain the anomalies_per_zone CTAS"))
    SqlFrontend.execute(spark, ctas)

    // standing semantics: RUNNING immediately, sink empty until data flows
    assert(StatementCatalog.status("anomalies_per_zone") == "RUNNING")
    val q = StatementCatalog.get("anomalies_per_zone").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("CTAS over a stream table must register a standing statement"))
    assert(SqlFrontend.execute(spark, "SELECT * FROM anomalies_per_zone").isEmpty)

    import spark.implicits._
    val events = rides.as[RideEvent].collect().sortBy(_.request_ts.getTime).toSeq
    mem.addData(events)
    q.processAllAvailable()
    // A late sentinel (non-surge zone, beyond the data span) advances the
    // watermark deterministically so every surge window is closed and emitted;
    // its own window stays above the watermark and is never emitted.
    mem.addData(Seq(RideEvent("req-sentinel", "s@example.com", "Marigny", "Marigny",
      9.0, 1, Timestamp.valueOf("2024-03-02 06:00:00"))))
    q.processAllAvailable()

    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("pickup_zone"), r.getAs[Timestamp]("window_time"),
      r.getAs[Long]("request_count"), r.getAs[Long]("total_passengers"),
      Option(r.getAs[java.math.BigDecimal]("total_revenue")).map(_.toPlainString),
      r.getAs[Long]("expected_requests"),
      math.round(r.getAs[Double]("upper_bound") * 1e6),
      math.round(r.getAs[Double]("lower_bound") * 1e6),
      r.getAs[Boolean]("is_surge"))

    // reads go through the front-end like the walkthrough's
    // `SELECT * FROM anomalies_per_zone` and see the growing sink
    val streamed = SqlFrontend.execute(spark, "SELECT * FROM anomalies_per_zone")
      .collect().map(key).toSet
    assert(streamed.nonEmpty, "the planted surge must be detected by the standing statement")
    assert(streamed.forall(_._9), "every emitted row passes the is_surge filter")
    assert(streamed.exists(_._1 == "French Quarter"), "the surging zone must be flagged")

    // drop-stops-job semantics
    SqlFrontend.execute(spark, "DROP TABLE anomalies_per_zone")
    assert(!q.isActive, "DROP TABLE must stop the standing query")
    assert(StatementCatalog.status("anomalies_per_zone") == "STOPPED")

    // batch twin: the SAME verbatim text over the SAME rows as a bounded table
    TableRegistry.dropTable("ride_requests")
    rides.createOrReplaceTempView("ride_requests")
    SqlFrontend.execute(spark, ctas)
    val batch = spark.table("anomalies_per_zone").collect().map(key).toSet
    assert(streamed == batch,
      s"standing result (${streamed.size} rows) must equal the batch snapshot (${batch.size} rows)")
    cleanup()
  }

  test("standing INSERT INTO … SELECT over a stream appends to prior table contents") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    StatementCatalog.reset()
    import spark.implicits._

    // a bounded table with prior contents…
    Seq(("seed-1", 10.0)).toDF("request_id", "price").createOrReplaceTempView("ride_prices")
    SqlFrontend.execute(spark, "CREATE TABLE ride_prices AS SELECT * FROM ride_prices")
    // …and a stream source feeding a standing INSERT
    val mem = MemoryStream[RideEvent]
    TableRegistry.createTable(TableRegistry.TableDef("rides_src", None,
      watermarkCol = Some("request_ts"), watermarkDelay = Some("1 minute"),
      load = _ => mem.toDF(), loadStream = Some(_ => mem.toDF())))

    SqlFrontend.execute(spark,
      "INSERT INTO ride_prices SELECT request_id, price FROM rides_src WHERE price > 5.0")
    assert(StatementCatalog.status("insert-into-ride_prices") == "RUNNING")
    val q = StatementCatalog.get("insert-into-ride_prices").collect {
      case s: StatementCatalog.Standing => s.query
    }.get

    def ride(id: String, price: Double) = RideEvent(id, "u@example.com", "Z", "Z",
      price, 1, Timestamp.valueOf("2024-03-01 00:00:00"))
    mem.addData(Seq(ride("ins-1", 6.0), ride("ins-2", 4.0), ride("ins-3", 7.5)))
    q.processAllAvailable()

    val rows = SqlFrontend.execute(spark, "SELECT request_id, price FROM ride_prices")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(rows == Set(("seed-1", 10.0), ("ins-1", 6.0), ("ins-3", 7.5)),
      s"prior rows union filtered stream rows, got $rows")

    // DROP TABLE on the target stops the standing insert too
    SqlFrontend.execute(spark, "DROP TABLE ride_prices")
    assert(!q.isActive)
    TableRegistry.dropTable("rides_src")
    StatementCatalog.reset()
  }

  test("SHOW STATEMENTS surfaces the lifecycle the way the harness polls it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    StatementCatalog.reset()
    import spark.implicits._

    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("stmt_src")
    SqlFrontend.execute(spark, "CREATE TABLE stmt_batch AS SELECT * FROM stmt_src")

    val mem = MemoryStream[RideEvent]
    TableRegistry.createTable(TableRegistry.TableDef("stmt_stream_src", None,
      watermarkCol = Some("request_ts"), watermarkDelay = Some("1 minute"),
      load = _ => mem.toDF(), loadStream = Some(_ => mem.toDF())))
    SqlFrontend.execute(spark,
      "CREATE TABLE stmt_standing AS SELECT request_id, price FROM stmt_stream_src")

    val listed = SqlFrontend.execute(spark, "SHOW STATEMENTS")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    // `upstream` (r16): the chain edges the re-submission cascade walks
    assert(listed("stmt_batch") == (("COMPLETED", "BATCH", "")))
    assert(listed("stmt_standing") == (("RUNNING", "STREAMING", "stmt_stream_src")))

    // the harness's wait_for_status(STOPPED) analog after a drop
    SqlFrontend.execute(spark, "DROP TABLE stmt_standing")
    assert(StatementCatalog.status("stmt_standing") == "STOPPED")
    assert(StatementCatalog.status("no_such_statement") == "NOT_FOUND")

    SqlFrontend.execute(spark, "DROP TABLE stmt_batch")
    TableRegistry.dropTable("stmt_stream_src")
    StatementCatalog.reset()
  }

  test("tumble rewrite handles window_* inside expressions and composite GROUP BY keys") {
    val sql = "SELECT zone, HOUR(window_start) AS h, window_time, count(*) AS c " +
      "FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '5' MINUTES)) " +
      "GROUP BY window_start, window_time, concat(zone, '-'), zone"
    val out = graft.sql.StreamPlanner.rewriteTumbleStreaming(sql)
    // expression position: bare struct field, NO alias injection inside HOUR()
    assert(out.contains("HOUR(__w.start) AS h"), out)
    // bare select item: projected AND aliased
    assert(out.contains("(__w.end - INTERVAL '1' MILLISECOND) AS window_time"), out)
    // paren-aware GROUP BY split: concat(zone, '-') survives whole
    assert(out.contains("GROUP BY __w, concat(zone, '-'), zone"), out)
    assert(!out.contains("__w.start AS window_start)"),
      s"no alias may be injected inside an expression: $out")
  }

  test("splitTopLevelCommas respects parens and quotes") {
    assert(SqlFrontend.splitTopLevelCommas("a, concat(b, c), 'x,y', d(e(f,g))")
      .map(_.trim) == Seq("a", "concat(b, c)", "'x,y'", "d(e(f,g))"))
  }

  test("MATCH_RECOGNIZE CTAS over a STREAM table runs as a standing CEP statement") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("funnel_matches", "click_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }

    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("click_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))

    SqlFrontend.execute(spark,
      """CREATE TABLE funnel_matches AS
        |SELECT * FROM click_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u
        |    ORDER BY ts
        |    MEASURES A.ts AS start_ts, LAST(C.ts) AS end_ts
        |    ONE ROW PER MATCH
        |    AFTER MATCH SKIP TO NEXT ROW
        |    PATTERN (A B{1,2} C) WITHIN INTERVAL '1' HOUR
        |    DEFINE A AS A.t = 'view', B AS B.t = 'click', C AS C.t = 'purchase'
        |  )""".stripMargin)
    assert(StatementCatalog.status("funnel_matches") == "RUNNING")
    val q = StatementCatalog.get("funnel_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("MATCH_RECOGNIZE CTAS over a stream must register a standing statement"))

    def ev(u: String, t: String, s: String) = (u, t, Timestamp.valueOf(s), 1.0)
    try {
      mem.addData(
        ev("u1", "view", "2024-01-01 00:00:00"), ev("u1", "click", "2024-01-01 00:01:00"),
        ev("u1", "click", "2024-01-01 00:02:00"), ev("u1", "purchase", "2024-01-01 00:03:00"),
        ev("u2", "view", "2024-01-01 00:00:00"), ev("u2", "purchase", "2024-01-01 00:01:00"))
      q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, start_ts, end_ts FROM funnel_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
      assert(got.toSeq == Seq(("u1", Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-01 00:03:00"))), got.mkString(";"))
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE funnel_matches")
      assert(StatementCatalog.status("funnel_matches") == "STOPPED")
      TableRegistry.dropTable("click_events")
      StatementCatalog.reset()
    }

    // NEXT() navigation streams since r11 (one-event decision deferral):
    // the DEFINE references two columns of mixed type (t string, v numeric)
    // and the match is emitted only once B's successor has arrived
    val mem2 = MemoryStream[(String, String, Timestamp, Double)]
    TableRegistry.createTable(TableRegistry.TableDef("click_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem2.toDF().toDF("u", "t", "ts", "v"))))
    SqlFrontend.execute(spark,
      """CREATE TABLE next_matches AS
        |SELECT * FROM click_events MATCH_RECOGNIZE (
        |  PARTITION BY u ORDER BY ts MEASURES A.ts AS s ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW PATTERN (A B)
        |  DEFINE A AS A.t = 'view', B AS NEXT(B.v) > B.v)""".stripMargin)
    val q2 = StatementCatalog.get("next_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("NEXT() value route must register a standing statement"))
    try {
      mem2.addData(("u1", "view", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        ("u1", "x", Timestamp.valueOf("2024-01-01 00:01:00"), 1.0))
      q2.processAllAvailable()
      // B@00:01 needs its successor: undecided, nothing emitted yet
      assert(SqlFrontend.execute(spark, "SELECT * FROM next_matches").count() == 0L)
      mem2.addData(("u1", "x", Timestamp.valueOf("2024-01-01 00:02:00"), 2.0))
      q2.processAllAvailable()
      val got2 = SqlFrontend.execute(spark, "SELECT u, s FROM next_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1)))
      assert(got2.toSeq == Seq(("u1", Timestamp.valueOf("2024-01-01 00:00:00"))),
        got2.mkString(";"))
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE next_matches")
      TableRegistry.dropTable("click_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE value route: the ticker PREV idiom as a standing statement") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("ticker_matches", "ticker_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("ticker_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(S.ts) AS start_ts, LAST(U.ts) AS end_ts
      |    ONE ROW PER MATCH
      |    PATTERN (S D+ U+)
      |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE ticker_matches AS" + mrSql.format("ticker_events"))
    assert(StatementCatalog.status("ticker_matches") == "RUNNING")
    val q = StatementCatalog.get("ticker_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("value-route MATCH_RECOGNIZE CTAS must register a standing statement"))

    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    // the down-run SPANS the micro-batch boundary: nothing may emit at b1
    val b1 = Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 7.0))
    val b2 = Seq(ev(3, 9.0), ev(4, 12.0), ev(5, 11.0), ev(6, 13.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      assert(SqlFrontend.execute(spark, "SELECT * FROM ticker_matches").isEmpty,
        "an open greedy value-run must not emit before a breaking event")
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, start_ts, end_ts FROM ticker_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).toSeq
      assert(got == Seq(("k1", Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-01 00:04:00"))), got.mkString(";"))

      // closed-stream parity with the BATCH scan route on the same rows
      import spark.implicits._
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("ticker_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("ticker_batch"))
        .selectExpr("u", "start_ts", "end_ts")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).toSeq
      assert(batch == got, s"streaming value route diverged from the batch scan: $batch vs $got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE ticker_matches")
      TableRegistry.dropTable("ticker_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE VALUE MEASURES: FIRST/LAST over data columns as a standing query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("vm_matches", "vm_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("vm_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // r11: measures over DATA columns (the ticker's bottom and first-rebound
    // prices) ride the value route from the winning placement's buffered
    // rows — previously only ORDER-BY span measures were expressible
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(S.ts) AS start_ts, LAST(D.v) AS bottom,
      |             FIRST(U.v) AS first_up, LAST(U.ts) AS end_ts
      |    ONE ROW PER MATCH
      |    PATTERN (S D+ U+)
      |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE vm_matches AS" + mrSql.format("vm_events"))
    val q = StatementCatalog.get("vm_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("value-measure MATCH_RECOGNIZE CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    val rows = Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 7.0), ev(3, 9.0), ev(4, 12.0), ev(5, 11.0))
    try {
      mem.addData(rows: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark,
        "SELECT u, start_ts, bottom, first_up, end_ts FROM vm_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
          r.getDouble(3), r.getTimestamp(4))).toSeq
      assert(got == Seq(("k1", Timestamp.valueOf("2024-01-01 00:00:00"), 7.0, 9.0,
        Timestamp.valueOf("2024-01-01 00:04:00"))), got.mkString(";"))
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE vm_matches")
      TableRegistry.dropTable("vm_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE accepts unbounded quantifiers (A+): one greedy run per break") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("unb_matches", "unb_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("unb_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    SqlFrontend.execute(spark,
      """CREATE TABLE unb_matches AS
        |SELECT * FROM unb_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u
        |    ORDER BY ts
        |    MEASURES FIRST(A.ts) AS start_ts, LAST(A.ts) AS end_ts
        |    ONE ROW PER MATCH
        |    PATTERN (A+)
        |    DEFINE A AS A.t = 'x'
        |  )""".stripMargin)
    val q = StatementCatalog.get("unb_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("standing statement expected"))
    def at(sec: Long) = new Timestamp((1000000L + sec) * 1000L)
    try {
      // the run stays OPEN across a micro-batch boundary (a{1,n} would have
      // decided at n events); only the breaking y decides ONE len-3 match
      mem.addData(("u1", "x", at(0), 1.0), ("u1", "x", at(1), 1.0))
      q.processAllAvailable()
      assert(SqlFrontend.execute(spark, "SELECT * FROM unb_matches").isEmpty,
        "an open greedy run must not emit before a breaking event")
      mem.addData(("u1", "x", at(2), 1.0), ("u1", "y", at(3), 1.0))
      q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT start_ts, end_ts FROM unb_matches").collect()
        .map(r => (r.getAs[Timestamp]("start_ts"), r.getAs[Timestamp]("end_ts"))).toSet
      assert(got == Set((at(0), at(2))), s"A+ must take the whole run as ONE match, got $got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE unb_matches")
      TableRegistry.dropTable("unb_events")
      StatementCatalog.reset()
    }
  }

  test("MATCH_RECOGNIZE MIN/MAX over strings: batch and streaming agree on code-point order") {
    // U+1F600 is a surrogate pair in UTF-16 (D83D DE00), so Java's String
    // order puts it BELOW U+E000; in code-point order — UTF-8 byte order,
    // Spark's and DuckDB's string collation — it is above
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, String)]
    StatementCatalog.reset()
    Seq("cp_matches", "cp_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val grin = "\uD83D\uDE00"
    val priv = "\uE000"
    def at(sec: Long) = new Timestamp((1000000L + sec) * 1000L)
    // the breaking 'y' row closes the greedy A+ run on the streaming route
    val rows = Seq(("u1", "x", at(0), grin), ("u1", "x", at(1), priv), ("u1", "y", at(2), "a"))
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES MIN(A.s) AS mn, MAX(A.s) AS mx
      |    ONE ROW PER MATCH
      |    PATTERN (A+)
      |    DEFINE A AS A.t = 'x'
      |  )""".stripMargin
    import spark.implicits._
    rows.toDF("u", "t", "ts", "s").createOrReplaceTempView("cp_batch")
    val batch = SqlFrontend.execute(spark, mrSql.format("cp_batch"))
      .select("mn", "mx").as[(String, String)].collect().toSeq
    assert(batch == Seq((priv, grin)), s"batch scan: $batch")

    val mem = MemoryStream[(String, String, Timestamp, String)]
    val schema = mem.toDF().toDF("u", "t", "ts", "s").schema
    TableRegistry.createTable(TableRegistry.TableDef("cp_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "s"))))
    SqlFrontend.execute(spark, "CREATE TABLE cp_matches AS" + mrSql.format("cp_events"))
    val q = StatementCatalog.get("cp_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("standing statement expected"))
    try {
      mem.addData(rows: _*); q.processAllAvailable()
      val streamed = SqlFrontend.execute(spark, "SELECT mn, mx FROM cp_matches")
        .as[(String, String)].collect().toSeq
      assert(streamed == Seq((priv, grin)), s"streaming twin: $streamed")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE cp_matches")
      TableRegistry.dropTable("cp_events")
      spark.catalog.dropTempView("cp_batch")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE defaults to SKIP PAST LAST ROW and honors SET sql.state-ttl") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("sp_matches", "sp_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("sp_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))

    // the reference's session shape: bound state FIRST, then the query
    SqlFrontend.execute(spark, "SET 'sql.state-ttl' = '10 min'")
    // no AFTER MATCH clause: the standard default (SKIP PAST LAST ROW)
    SqlFrontend.execute(spark,
      """CREATE TABLE sp_matches AS
        |SELECT * FROM sp_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u
        |    ORDER BY ts
        |    MEASURES FIRST(A.ts) AS start_ts, LAST(A.ts) AS end_ts
        |    ONE ROW PER MATCH
        |    PATTERN (A{1,2})
        |    DEFINE A AS A.t = 'x'
        |  )""".stripMargin)
    val q = StatementCatalog.get("sp_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("standing statement expected"))

    // offset from epoch (initial watermark 0 filters rows AT it)
    def at(sec: Long) = new Timestamp((1000000L + sec) * 1000L)
    try {
      // u1: x x x -> skip-past greedy = len-2 at (0,1) then len-1 at (2);
      // SKIP TO NEXT ROW would emit THREE matches (starts 0, 1, 2)
      mem.addData(("u1", "x", at(0), 1.0), ("u1", "x", at(1), 1.0), ("u1", "x", at(2), 1.0),
        ("u1", "y", at(3), 1.0)) // breaks the tail so the last A decides
      q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT start_ts, end_ts FROM sp_matches").collect()
        .map(r => (r.getAs[Timestamp]("start_ts"), r.getAs[Timestamp]("end_ts"))).toSet
      assert(got == Set((at(0), at(1)), (at(2), at(2))),
        s"skip-past greedy must select (len 2, len 1), got $got")

      // TTL wiring is live: the state-ttl installed an event-time watermark
      assert(Option(q.lastProgress).exists(p => !p.eventTime.isEmpty),
        "SET sql.state-ttl must install an event-time watermark on the CEP input")
      // eviction: u2's lone open A is dropped once the watermark passes
      // 10 min past it; its next events form a FRESH match (not one
      // spanning the eviction gap, which len-2 greed would otherwise take)
      mem.addData(("u2", "x", at(10), 1.0)) // open: [A,A] still completable
      q.processAllAvailable()
      mem.addData(("w1", "y", at(5000), 1.0)); q.processAllAvailable()
      mem.addData(("w2", "y", at(5001), 1.0)); q.processAllAvailable() // u2 evicted (610 < 5000)
      mem.addData(("u2", "x", at(6000), 1.0), ("u2", "x", at(6001), 1.0), ("u2", "y", at(6002), 1.0))
      q.processAllAvailable()
      val u2 = SqlFrontend.execute(spark, "SELECT start_ts, end_ts FROM sp_matches").collect()
        .map(r => (r.getAs[Timestamp]("start_ts"), r.getAs[Timestamp]("end_ts")))
        .filter(_._1.getTime >= at(10).getTime).toSet
      assert(u2 == Set((at(6000), at(6001))),
        s"the evicted open start must never pair across the gap, got $u2")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE sp_matches")
      TableRegistry.dropTable("sp_events")
      SqlFrontend.execute(spark, "RESET 'sql.state-ttl'")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE ORDER BY ts, tie: equal-timestamp rows order by the tie column") {
    // r12: the batch route's `ORDER BY ts, event_id` shape now parses on the
    // streaming route — without it, equal-timestamp rows ordered by arrival
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, Long, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("tie_matches", "tie_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, Long, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "id", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("tie_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "id", "ts", "v"))))
    SqlFrontend.execute(spark,
      """CREATE TABLE tie_matches AS
        |SELECT * FROM tie_events
        |  MATCH_RECOGNIZE (
        |    PARTITION BY u
        |    ORDER BY ts, id
        |    MEASURES LAST(D.v) AS bottom, LAST(U.v) AS top
        |    ONE ROW PER MATCH
        |    PATTERN (S D+ U+)
        |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |  )""".stripMargin)
    val q = StatementCatalog.get("tie_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("tie-ordered MATCH_RECOGNIZE CTAS must register a standing statement"))
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    try {
      // three rows share ONE timestamp: only the id order makes them the
      // ticker 10 > 7 < 12 (arrival order is deliberately shuffled), then a
      // breaker decides the greedy U+
      mem.addData(("k1", 3L, t0, 12.0), ("k1", 1L, t0, 10.0), ("k1", 2L, t0, 7.0),
        ("k1", 4L, Timestamp.valueOf("2024-01-01 00:01:00"), 5.0))
      q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, bottom, top FROM tie_matches")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(got == Seq(("k1", 7.0, 12.0)),
        s"tie column must order equal-timestamp rows, got $got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE tie_matches")
      TableRegistry.dropTable("tie_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE refusal list matches the documented surface (r12)") {
    // StreamPlanner's scaladoc names exactly four loud refusals; this spec
    // pins each message so the doc and the code can't drift apart
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("ref_matches", "ref_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("ref_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    def ctas(measures: String, perMatch: String, after: String, pattern: String,
             define: String) =
      s"""CREATE TABLE ref_matches AS
         |SELECT * FROM ref_events
         |  MATCH_RECOGNIZE (
         |    PARTITION BY u
         |    ORDER BY ts
         |    MEASURES $measures
         |    $perMatch PER MATCH
         |    $after
         |    PATTERN ($pattern)
         |    DEFINE $define
         |  )""".stripMargin
    def refuse(sql: String): String = {
      val e = intercept[Exception](SqlFrontend.execute(spark, sql))
      if (TableRegistry.exists("ref_matches"))
        SqlFrontend.execute(spark, "DROP TABLE ref_matches")
      StatementCatalog.reset()
      e.getMessage
    }
    try {
      // 1. exclusion under ONE ROW (no effect there — the batch rule)
      assert(refuse(ctas("LAST(A.v) AS av", "ONE ROW", "", "A {- B -} C",
        "A AS A.v > 1.0, B AS B.v > 2.0, C AS C.v > 3.0")).contains("ALL ROWS"))
      // 2. MATCH_NUMBER() under SKIP TO NEXT ROW PLANS since r15 (previously
      // a loud ordinal-scrambling refusal) — decided winners defer behind
      // the undecided frontier so ordinals flush in start order; the
      // batch-equality spec below pins the semantics
      SqlFrontend.execute(spark, ctas("MATCH_NUMBER() AS seq", "ONE ROW",
        "AFTER MATCH SKIP TO NEXT ROW", "A B", "A AS A.v > 1.0, B AS B.v > 2.0"))
      assert(StatementCatalog.status("ref_matches") == "RUNNING")
      SqlFrontend.execute(spark, "DROP TABLE ref_matches")
      StatementCatalog.reset()
      // 3. RUNNING on a match-END span measure (mark it FINAL)
      assert(refuse(ctas("CLASSIFIER() AS cls, LAST(B.ts) AS end_ts", "ALL ROWS", "",
        "A B+", "A AS A.v > 1.0, B AS B.v > 2.0")).contains("FINAL"))
      // 4. DEFINEs over the ORDER BY column PLAN since r13 (previously a
      // loud refusal) — the column buffers like any condCol
      SqlFrontend.execute(spark, ctas("LAST(B.v) AS bv", "ONE ROW", "", "A B",
        "A AS A.v > 1.0, B AS B.ts > A.ts"))
      assert(StatementCatalog.status("ref_matches") == "RUNNING")
      SqlFrontend.execute(spark, "DROP TABLE ref_matches")
      StatementCatalog.reset()
    } finally {
      if (TableRegistry.exists("ref_matches"))
        SqlFrontend.execute(spark, "DROP TABLE ref_matches")
      TableRegistry.dropTable("ref_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE ALL ROWS PER MATCH: per-row standing output equals the batch route") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("ar_matches", "ar_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("ar_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // q165/q173's shape as a standing query: CLASSIFIER + RUNNING (the
    // unmarked ALL-ROWS default) + FINAL measures, per-row emission
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES CLASSIFIER() AS cls, LAST(D.v) AS run_bottom,
      |             FINAL LAST(U.v) AS final_top
      |    ALL ROWS PER MATCH
      |    PATTERN (S D+ U+)
      |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE ar_matches AS" + mrSql.format("ar_events"))
    val q = StatementCatalog.get("ar_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("ALL ROWS MATCH_RECOGNIZE CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    // the match spans two micro-batches; the final 5.0 breaks U+ and decides
    val b1 = Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 7.0))
    val b2 = Seq(ev(3, 9.0), ev(4, 12.0), ev(5, 5.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      assert(SqlFrontend.execute(spark, "SELECT * FROM ar_matches").isEmpty,
        "no per-row output before the match decides")
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark,
        "SELECT u, ts, v, cls, run_bottom, final_top FROM ar_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getString(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5)))
        .sortBy(_._2.getTime).toSeq
      def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
      assert(got == Seq(
        ("k1", t0(0), 10.0, "S", None, 12.0),
        ("k1", t0(1), 8.0, "D", Some(8.0), 12.0),
        ("k1", t0(2), 7.0, "D", Some(7.0), 12.0),
        ("k1", t0(3), 9.0, "U", Some(7.0), 12.0),
        ("k1", t0(4), 12.0, "U", Some(7.0), 12.0)), got.mkString(";"))

      // closed-stream parity with the BATCH ALL-ROWS scan on the same rows
      import spark.implicits._
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("ar_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("ar_batch"))
        .selectExpr("u", "ts", "v", "cls", "run_bottom", "final_top")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getString(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5)))
        .sortBy(_._2.getTime).toSeq
      assert(batch == got, s"streaming ALL ROWS diverged from the batch scan:\n$batch\nvs\n$got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE ar_matches")
      TableRegistry.dropTable("ar_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE: alternation/SUBSET plan as standing queries; ONE-ROW exclusion refuses") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("comp_matches", "comp_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("comp_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    def ctas(pattern: String, subset: String = "",
             measures: String = "LAST(A.v) AS av, LAST(B.v) AS bv",
             define: String = "A AS A.v > 1.0, B AS B.v > 2.0") =
      s"""CREATE TABLE comp_matches AS
         |SELECT * FROM comp_events
         |  MATCH_RECOGNIZE (
         |    PARTITION BY u
         |    ORDER BY ts
         |    MEASURES $measures
         |    ONE ROW PER MATCH
         |    PATTERN ($pattern)
         |    $subset
         |    DEFINE $define
         |  )""".stripMargin
    try {
      // alternation rides the value route's branch machinery (r11) — the
      // composite CTAS plans and runs as a standing statement
      SqlFrontend.execute(spark, ctas("A B | B A"))
      assert(StatementCatalog.status("comp_matches") == "RUNNING")
      SqlFrontend.execute(spark, "DROP TABLE comp_matches")
      StatementCatalog.reset()
      // exclusion under the ONE-ROW output shape stays a loud refusal (it
      // has no effect there — the batch rule; ALL ROWS accepts it since r12)
      val e1 = intercept[Exception](SqlFrontend.execute(spark, ctas("A {- B -} C",
        define = "A AS A.v > 1.0, B AS B.v > 2.0, C AS C.v > 3.0")))
      assert(e1.getMessage.contains("ALL ROWS"), e1.getMessage)
      // SUBSET union variables plan as standing queries since r12 — in
      // MEASURES (pooled aggregates/values) and in DEFINE (SubCol reads)
      SqlFrontend.execute(spark, ctas("A B", "SUBSET M = (A, B)",
        measures = "FIRST(M.v) AS mf, count(M.*) AS mn, sum(M.v) AS ms",
        define = "A AS A.v > 1.0, B AS B.v > FIRST(M.v)"))
      assert(StatementCatalog.status("comp_matches") == "RUNNING")
      SqlFrontend.execute(spark, "DROP TABLE comp_matches")
      StatementCatalog.reset()
      // a linear quantified pattern still plans fine on the same table —
      // with aggregate MEASURES (r11: count/sum/avg parse to MrAggMeasure)
      SqlFrontend.execute(spark, ctas("A{1,2} B",
        measures = "LAST(A.v) AS av, count(B.*) AS nb, sum(B.v) AS sb, avg(B.v) AS ab"))
      assert(StatementCatalog.status("comp_matches") == "RUNNING")
    } finally {
      if (TableRegistry.exists("comp_matches"))
        SqlFrontend.execute(spark, "DROP TABLE comp_matches")
      TableRegistry.dropTable("comp_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE: multi-column PARTITION BY keys state per composite and re-emits typed columns") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("mk_matches", "mk_events", "mk_batch").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("city", "dev", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("mk_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("city", "dev", "t", "ts", "v"))))
    // the two composite keys SHARE the city value — separating their runs
    // proves the state key is (city, dev), not city alone
    def ev(dev: String, m: Int, v: Double) =
      ("a", dev, "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    val data = Seq(
      ev("x", 0, 10.0), ev("y", 0, 20.0), ev("x", 1, 8.0), ev("y", 1, 15.0),
      ev("x", 2, 12.0), ev("y", 2, 25.0), ev("x", 3, 5.0), ev("y", 3, 1.0))
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY city, dev
      |    ORDER BY ts
      |    MEASURES FIRST(S.ts) AS s_ts, FINAL LAST(U.v) AS top, FINAL count(M.*) AS n_rows%s
      |    %s PER MATCH
      |    PATTERN (S D+ U+)
      |    SUBSET M = (S, D, U)
      |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
      |  )""".stripMargin
    try {
      // ---- ONE ROW: the typed partition columns come back via the hidden
      // all-variables pool (any matched row carries the constant key values)
      SqlFrontend.execute(spark,
        "CREATE TABLE mk_matches AS" + mrSql.format("mk_events", "", "ONE ROW"))
      val q = StatementCatalog.get("mk_matches").collect {
        case s: StatementCatalog.Standing => s.query
      }.getOrElse(fail("multi-key MR CTAS must register a standing statement"))
      mem.addData(data: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark,
        "SELECT city, dev, s_ts, top, n_rows FROM mk_matches")
        .collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2),
          r.getDouble(3), r.getLong(4))).sortBy(_._2).toSeq
      def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
      assert(got == Seq(("a", "x", t0(0), 12.0, 3L), ("a", "y", t0(0), 25.0, 3L)),
        got.mkString(";"))
      // batch parity on the same rows (the batch route's general clause)
      data.toDF("city", "dev", "t", "ts", "v").createOrReplaceTempView("mk_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("mk_batch", "", "ONE ROW"))
        .selectExpr("city", "dev", "s_ts", "top", "n_rows")
        .collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2),
          r.getDouble(3), r.getLong(4))).sortBy(_._2).toSeq
      assert(batch == got, s"multi-key ONE ROW diverged from batch:\n$batch\nvs\n$got")
      SqlFrontend.execute(spark, "DROP TABLE mk_matches")
      StatementCatalog.reset()

      // ---- ALL ROWS: the partition columns ride the buffered condCols and
      // appear typed on every emitted row, alongside CLASSIFIER
      val mem2 = MemoryStream[(String, String, String, Timestamp, Double)]
      TableRegistry.createTable(TableRegistry.TableDef("mk_events", Some(schema),
        load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        loadStream = Some(_ => mem2.toDF().toDF("city", "dev", "t", "ts", "v"))))
      SqlFrontend.execute(spark,
        "CREATE TABLE mk_matches AS" + mrSql.format("mk_events",
          ", CLASSIFIER() AS cls", "ALL ROWS"))
      val q2 = StatementCatalog.get("mk_matches").collect {
        case s: StatementCatalog.Standing => s.query
      }.getOrElse(fail("multi-key ALL ROWS MR CTAS must register a standing statement"))
      mem2.addData(data: _*); q2.processAllAvailable()
      val gotRows = SqlFrontend.execute(spark,
        "SELECT city, dev, ts, v, cls, top, n_rows FROM mk_matches")
        .collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2), r.getDouble(3),
          r.getString(4), r.getDouble(5), r.getLong(6))).sortBy(x => (x._2, x._3.getTime)).toSeq
      val batchRows = SqlFrontend.execute(spark,
        mrSql.format("mk_batch", ", CLASSIFIER() AS cls", "ALL ROWS"))
        .selectExpr("city", "dev", "ts", "v", "cls", "top", "n_rows")
        .collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2), r.getDouble(3),
          r.getString(4), r.getDouble(5), r.getLong(6))).sortBy(x => (x._2, x._3.getTime)).toSeq
      assert(gotRows.nonEmpty && gotRows == batchRows,
        s"multi-key ALL ROWS diverged from batch:\n$batchRows\nvs\n$gotRows")
    } finally {
      if (TableRegistry.exists("mk_matches"))
        SqlFrontend.execute(spark, "DROP TABLE mk_matches")
      TableRegistry.dropTable("mk_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE: sub-second WITHIN bounds the match horizon at micros precision") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("ms_matches", "ms_events", "ms_batch").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("ms_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(A.ts) AS s_ts, LAST(B.v) AS bv
      |    ONE ROW PER MATCH
      |    PATTERN (A B) WITHIN INTERVAL '500' MILLISECOND
      |    DEFINE A AS A.v >= 10.0, B AS B.v > PREV(B.v)
      |  )""".stripMargin
    // pair 1 spans 300 ms (inside the horizon), pair 2 spans 700 ms (outside)
    val data = Seq(
      ("k1", "tick", Timestamp.valueOf("2024-01-01 00:00:00.0"), 10.0),
      ("k1", "tick", Timestamp.valueOf("2024-01-01 00:00:00.3"), 20.0),
      ("k1", "tick", Timestamp.valueOf("2024-01-01 00:00:02.0"), 10.0),
      ("k1", "tick", Timestamp.valueOf("2024-01-01 00:00:02.7"), 20.0))
    try {
      SqlFrontend.execute(spark, "CREATE TABLE ms_matches AS" + mrSql.format("ms_events"))
      val q = StatementCatalog.get("ms_matches").collect {
        case s: StatementCatalog.Standing => s.query
      }.getOrElse(fail("sub-second WITHIN CTAS must register a standing statement"))
      mem.addData(data: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, s_ts, bv FROM ms_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      assert(got == Seq(("k1", Timestamp.valueOf("2024-01-01 00:00:00.0"), 20.0)),
        s"500 ms WITHIN must admit only the 300 ms pair, got ${got.mkString(";")}")
      // identical spans from the batch scan on the same rows
      data.toDF("u", "t", "ts", "v").createOrReplaceTempView("ms_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("ms_batch"))
        .selectExpr("u", "s_ts", "bv")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      assert(batch == got, s"sub-second WITHIN diverged from batch:\n$batch\nvs\n$got")
    } finally {
      if (TableRegistry.exists("ms_matches"))
        SqlFrontend.execute(spark, "DROP TABLE ms_matches")
      TableRegistry.dropTable("ms_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE: per-step time-gap DEFINE over the ORDER BY column equals batch (r13)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("tg_matches", "tg_events", "tg_batch").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("tg_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // the fraud-burst idiom: a falling run only counts while steps arrive
    // within 2 minutes of each other — a per-STEP horizon WITHIN (whole-match
    // span) cannot express. LAST(D.ts) is a NON-anchor measure over the
    // ORDER BY column (D is mid-pattern), read from the winning placement.
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(S.ts) AS s_ts, LAST(D.ts) AS last_down_ts, LAST(U.v) AS top
      |    ONE ROW PER MATCH
      |    PATTERN (S D+ U)
      |    DEFINE D AS D.v < PREV(D.v) AND D.ts <= PREV(D.ts) + INTERVAL '2' MINUTE,
      |           U AS U.v > PREV(U.v)
      |  )""".stripMargin
    def ev(hm: String, v: Double) = ("k1", "tick", Timestamp.valueOf(s"2024-01-01 $hm:00"), v)
    // drop 10→8→6 with 1-minute steps (inside the gap), rise 9 decides it;
    // the second drop 20→15 then 10 NINE minutes later breaks the gap rule —
    // no match (10 is not a rise off 15 either)
    val b1 = Seq(ev("00:00", 10.0), ev("00:01", 8.0), ev("00:02", 6.0))
    val b2 = Seq(ev("00:03", 9.0), ev("00:10", 20.0), ev("00:11", 15.0), ev("00:20", 10.0))
    try {
      SqlFrontend.execute(spark, "CREATE TABLE tg_matches AS" + mrSql.format("tg_events"))
      val q = StatementCatalog.get("tg_matches").collect {
        case s: StatementCatalog.Standing => s.query
      }.getOrElse(fail("time-gap MR CTAS must register a standing statement"))
      mem.addData(b1: _*); q.processAllAvailable() // D+ still open at the boundary
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, s_ts, last_down_ts, top FROM tg_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getDouble(3))).toSeq
      assert(got == Seq(("k1", Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-01 00:02:00"), 9.0)),
        s"gap rule must admit only the 1-minute-step run: ${got.mkString(";")}")
      // batch parity on the same rows
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("tg_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("tg_batch"))
        .selectExpr("u", "s_ts", "last_down_ts", "top")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getDouble(3))).toSeq
      assert(batch == got, s"time-gap DEFINE diverged from batch:\n$batch\nvs\n$got")
    } finally {
      if (TableRegistry.exists("tg_matches"))
        SqlFrontend.execute(spark, "DROP TABLE tg_matches")
      TableRegistry.dropTable("tg_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE: alias-collision and tie-column refusals are loud (r12 ADVICE)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("rc_matches", "rc_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("rc_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    def ctas(orderBy: String, measures: String, perMatch: String) =
      s"""CREATE TABLE rc_matches AS
         |SELECT * FROM rc_events
         |  MATCH_RECOGNIZE (
         |    PARTITION BY u
         |    ORDER BY $orderBy
         |    MEASURES $measures
         |    $perMatch PER MATCH
         |    PATTERN (A B+)
         |    DEFINE A AS A.v > 1.0, B AS B.v > PREV(B.v)
         |  )""".stripMargin
    def refuse(sql: String): String = {
      val e = intercept[Exception](SqlFrontend.execute(spark, sql))
      if (TableRegistry.exists("rc_matches"))
        SqlFrontend.execute(spark, "DROP TABLE rc_matches")
      StatementCatalog.reset()
      e.getMessage
    }
    try {
      // MATCH_NUMBER() AS cls collides with the ALL-ROWS CLASSIFIER column
      assert(refuse(ctas("ts", "MATCH_NUMBER() AS cls, LAST(B.v) AS bv", "ALL ROWS"))
        .contains("collides"))
      // MATCH_NUMBER() AS v collides with a re-exposed buffered column
      assert(refuse(ctas("ts", "MATCH_NUMBER() AS v, LAST(B.v) AS bv", "ALL ROWS"))
        .contains("collides"))
      // CLASSIFIER() AS v collides with a re-exposed buffered column
      assert(refuse(ctas("ts", "CLASSIFIER() AS v, LAST(B.v) AS bv", "ALL ROWS"))
        .contains("duplicate output column"))
      // a span-measure alias colliding with the partition column
      assert(refuse(ctas("ts", "FIRST(A.ts) AS u, LAST(B.v) AS bv", "ONE ROW"))
        .contains("duplicate output column"))
      // a non-integral tie column would cast to NULL (arrival order) — loud
      assert(refuse(ctas("ts, t", "LAST(B.v) AS bv", "ONE ROW")).contains("integral"))
    } finally {
      if (TableRegistry.exists("rc_matches"))
        SqlFrontend.execute(spark, "DROP TABLE rc_matches")
      TableRegistry.dropTable("rc_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE AFTER MATCH SKIP TO LAST <var>: overlapping standing " +
    "matches equal the batch scan with MATCH_NUMBER intact (r14)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("stl_matches", "stl_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("stl_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // q167's shape: each match re-anchors AT the previous peak, so the peak
    // that seeds the next fall starts an OVERLAPPING match skip-past eats
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(S.ts) AS start_ts, LAST(U.ts) AS end_ts,
      |             MATCH_NUMBER() AS seq
      |    ONE ROW PER MATCH
      |    AFTER MATCH SKIP TO LAST U
      |    PATTERN (S D+ U+)
      |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE stl_matches AS" + mrSql.format("stl_events"))
    val q = StatementCatalog.get("stl_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("skip-to-last MATCH_RECOGNIZE CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
    // the second match STARTS at the first match's peak (minute 4) and spans
    // the micro-batch boundary
    val b1 = Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 7.0), ev(3, 9.0), ev(4, 12.0))
    val b2 = Seq(ev(5, 10.0), ev(6, 8.0), ev(7, 11.0), ev(8, 6.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, start_ts, end_ts, seq FROM stl_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(_._4).toSeq
      assert(got == Seq(
        ("k1", t0(0), t0(4), 1L),
        ("k1", t0(4), t0(7), 2L)), got.mkString(";"))

      // closed-stream parity with the BATCH scan route on the same rows
      import spark.implicits._
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("stl_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("stl_batch"))
        .selectExpr("u", "start_ts", "end_ts", "seq")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(_._4).toSeq
      assert(batch == got, s"streaming skip-to-last diverged from the batch scan: $batch vs $got")

      // bare SKIP TO <var> is SKIP TO LAST <var> (the standard); an unknown
      // target refuses loudly
      val bare = mrSql.format("stl_batch").replace("SKIP TO LAST U", "SKIP TO U")
      val bareRows = SqlFrontend.execute(spark, bare).selectExpr("u", "start_ts", "end_ts", "seq")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(_._4).toSeq
      assert(bareRows == got, "bare SKIP TO <var> must equal SKIP TO LAST <var>")
      val unk = intercept[Exception](SqlFrontend.execute(spark,
        mrSql.format("stl_batch").replace("SKIP TO LAST U", "SKIP TO LAST X")))
      assert(unk.getMessage.contains("unknown pattern variable"), unk.getMessage)
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE stl_matches")
      TableRegistry.dropTable("stl_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE SKIP TO LAST with a REPEATED pattern variable: resumes " +
    "at the last placement's row across a micro-batch boundary, equals batch (r15)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("rep_matches", "rep_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("rep_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // a variable repeated ACROSS alternatives (the only legal repeat shape —
    // per-branch repeats are refused): SKIP TO LAST A must resolve on the
    // WINNING branch's placement, with the deciding rows split across a
    // micro-batch boundary
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(A.ts) AS a_ts, count(Y.*) AS n_y, MATCH_NUMBER() AS seq
      |    ONE ROW PER MATCH
      |    AFTER MATCH SKIP TO LAST A
      |    PATTERN (Y A | B A)
      |    DEFINE Y AS Y.v = 9, A AS A.v = 1, B AS B.v = 5
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE rep_matches AS" + mrSql.format("rep_events"))
    val q = StatementCatalog.get("rep_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("repeated-var MATCH_RECOGNIZE CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
    // match 2 (B at minute 2, A at minute 3 — the SECOND alternative) decides
    // across the batch boundary; matches 1 and 3 win via the first
    val b1 = Seq(ev(0, 9.0), ev(1, 1.0), ev(2, 5.0))
    val b2 = Seq(ev(3, 1.0), ev(4, 9.0), ev(5, 1.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, a_ts, n_y, seq FROM rep_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._4).toSeq
      assert(got == Seq(("k1", t0(1), 1L, 1L), ("k1", t0(3), 0L, 2L),
        ("k1", t0(5), 1L, 3L)), got.mkString(";"))

      // closed-stream parity with the batch scan on the same rows
      import spark.implicits._
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("rep_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("rep_batch"))
        .selectExpr("u", "a_ts", "n_y", "seq")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._4).toSeq
      assert(batch == got, s"streaming repeated-var skip diverged from batch: $batch vs $got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE rep_matches")
      TableRegistry.dropTable("rep_events")
      StatementCatalog.reset()
    }
  }

  test("chained standing statements (lab4's staged topology): STOP/RESUME of the " +
    "interval-join stage mid-run, output identical to an unbroken chain (r15)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    implicit val enc = Encoders.product[(Long, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("l4_spikes", "l4_queue", "l4_claims", "l4b_spikes", "l4b_queue", "l4b_claims")
      .foreach { t =>
        if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
        spark.catalog.dropTempView(t)
      }
    def w(widx: Int, off: Int) = // claim inside 6h window widx
      Timestamp.valueOf("2024-02-01 00:00:00").toLocalDateTime
        .plusHours(widx * 6L + off).toString.replace('T', ' ')
    def claim(id: Long, city: String, widx: Int, off: Int, amount: Double) =
      (id, city, Timestamp.valueOf(w(widx, off) + ":00"), amount)
    // windows 0-2 fed before the kill; 3-4 after; Naples spikes in window 1,
    // Tampa in window 4 (stage-1 threshold: window total > 5000)
    // sentinels sit just past the windows they close: far enough for the
    // 10-minute watermark delay, NOT so far that the next feed's windows
    // fall below the advanced watermark and get late-dropped
    val b1 = (for (wi <- 0 to 2; c <- Seq("Naples", "Tampa"); k <- 0 to 2) yield
      claim(wi * 100 + (if (c == "Naples") 10 else 20) + k, c, wi, k + 1,
        if (c == "Naples" && wi == 1) 3000.0 else 1000.0)) :+
      claim(900, "Tampa", 3, 1, 1.0) // sentinel: closes windows 0-2 only
    val b2 = (for (wi <- 3 to 4; c <- Seq("Naples", "Tampa"); k <- 0 to 2) yield
      claim(wi * 100 + (if (c == "Naples") 10 else 20) + k, c, wi, k + 1,
        if (c == "Tampa" && wi == 4) 3000.0 else 1000.0)) :+
      claim(901, "Tampa", 6, 1, 1.0) // sentinel: closes windows 3-4
    // the static claims snapshot both chains join back to (lab4's pinned
    // snapshot discipline) — all claims, known up front
    (b1 ++ b2).toDF("claim_id", "city", "ts", "amount")
      .createOrReplaceTempView("claims_static")

    def buildChain(claimsTbl: String, spikesTbl: String, queueTbl: String,
                   mem: MemoryStream[(Long, String, Timestamp, Double)]): Unit = {
      val schema = mem.toDF().toDF("claim_id", "city", "ts", "amount").schema
      TableRegistry.createTable(TableRegistry.TableDef(claimsTbl, Some(schema),
        watermarkCol = Some("ts"), watermarkDelay = Some("10 minutes"),
        load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        loadStream = Some(_ => mem.toDF().toDF("claim_id", "city", "ts", "amount"))))
      // stage 1: windowed totals -> spike filter (the lab4 stage-1 shape,
      // threshold in place of the oracle-backed anomaly band)
      SqlFrontend.execute(spark,
        s"""CREATE TABLE $spikesTbl AS
           |WITH windowed AS (
           |  SELECT window_time, city, SUM(amount) AS total
           |  FROM TABLE(TUMBLE(TABLE $claimsTbl, DESCRIPTOR(ts), INTERVAL '6' HOUR))
           |  GROUP BY window_start, window_end, window_time, city)
           |SELECT city, window_time, total FROM windowed WHERE total > 5000""".stripMargin)
      // stage 2: interval-join the spikes STREAM (the stage-1 SINK read as a
      // topic — r15 chained standing statements) back to the static claims
      SqlFrontend.execute(spark,
        s"""CREATE TABLE $queueTbl AS
           |SELECT c.claim_id, s.city, s.window_time
           |FROM claims_static c
           |INNER JOIN $spikesTbl s
           |  ON c.city = s.city
           | AND c.ts >= s.window_time - INTERVAL '6' HOUR
           | AND c.ts <= s.window_time""".stripMargin)
    }
    def standing(name: String) = StatementCatalog.get(name).collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail(s"'$name' must be a standing statement"))

    val mem = MemoryStream[(Long, String, Timestamp, Double)]
    val memB = MemoryStream[(Long, String, Timestamp, Double)]
    try {
      buildChain("l4_claims", "l4_spikes", "l4_queue", mem)
      assert(StatementCatalog.status("l4_spikes") == "RUNNING" &&
        StatementCatalog.status("l4_queue") == "RUNNING",
        "both chained stages must be standing statements")
      mem.addData(b1: _*)
      standing("l4_spikes").processAllAvailable()
      standing("l4_queue").processAllAvailable()
      val afterB1 = SqlFrontend.execute(spark, "SELECT claim_id FROM l4_queue")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(afterB1 == Seq(110L, 111L, 112L), s"got $afterB1") // Naples window-1 claims

      // kill the JOIN stage mid-chain through the SQL lifecycle surface
      SqlFrontend.execute(spark, "STOP STATEMENT 'l4_queue'")
      assert(StatementCatalog.status("l4_queue") == "STOPPED")
      // the upstream stage keeps running and commits new spike files while
      // the downstream consumer is down
      mem.addData(b2: _*)
      standing("l4_spikes").processAllAvailable()
      SqlFrontend.execute(spark, "RESUME STATEMENT 'l4_queue'")
      val q2b = standing("l4_queue")
      assert(q2b.isActive && StatementCatalog.status("l4_queue") == "RUNNING")
      q2b.processAllAvailable()
      val killed = SqlFrontend.execute(spark,
          "SELECT claim_id, city, window_time FROM l4_queue")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime)).toSeq
      // exactly-once across the relight: no duplicated claim rows
      assert(killed.distinct.size == killed.size,
        s"relight duplicated rows: ${killed.groupBy(identity).filter(_._2.size > 1).keys}")

      // the unbroken twin chain over the SAME feed, never stopped
      buildChain("l4b_claims", "l4b_spikes", "l4b_queue", memB)
      memB.addData((b1 ++ b2): _*)
      standing("l4b_spikes").processAllAvailable()
      standing("l4b_queue").processAllAvailable()
      val unbroken = SqlFrontend.execute(spark,
          "SELECT claim_id, city, window_time FROM l4b_queue")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime)).toSeq
      assert(killed.sorted == unbroken.sorted,
        s"stop/resume chain diverged from the unbroken chain: " +
          s"${killed.sorted} vs ${unbroken.sorted}")
      assert(unbroken.map(_._1).sorted == Seq(110L, 111L, 112L, 420L, 421L, 422L),
        s"got ${unbroken.map(_._1).sorted}")
    } finally {
      Seq("l4_queue", "l4_spikes", "l4b_queue", "l4b_spikes").foreach { t =>
        if (TableRegistry.exists(t)) SqlFrontend.execute(spark, s"DROP TABLE $t")
      }
      Seq("l4_claims", "l4b_claims").foreach(TableRegistry.dropTable)
      spark.catalog.dropTempView("claims_static")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE PARTITION BY over an EXPRESSION: keys on the computed " +
    "value under batch's auto-name, equals batch (r15)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("pe_matches", "pe_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("pe_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // Flink permits PARTITION BY <expr> (r14 verdict missing-#2): the rows
    // match ONLY when keyed on UPPER(u) — 'a1' and 'A1' conflate — so a
    // non-expression key would emit nothing
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY UPPER(u)
      |    ORDER BY ts
      |    MEASURES FIRST(A.ts) AS a_ts, LAST(B.ts) AS b_ts
      |    ONE ROW PER MATCH
      |    PATTERN (A B)
      |    DEFINE A AS A.v = 1, B AS B.v = 2
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE pe_matches AS" + mrSql.format("pe_events"))
    val q = StatementCatalog.get("pe_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("expression-keyed MATCH_RECOGNIZE CTAS must register a standing statement"))
    def ev(u: String, m: Int, v: Double) = (u, "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
    val b1 = Seq(ev("a1", 0, 1.0), ev("A1", 1, 2.0), ev("b2", 2, 1.0))
    val b2 = Seq(ev("B2", 3, 2.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark,
          "SELECT `upper(u)` AS k, a_ts, b_ts FROM pe_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
        .sortBy(_._1).toSeq
      assert(got == Seq(("A1", t0(0), t0(1)), ("B2", t0(2), t0(3))), got.mkString(";"))

      // batch parity: the batch route runs the SAME expression clause and
      // emits the SAME auto-named column
      import spark.implicits._
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("pe_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("pe_batch"))
        .selectExpr("`upper(u)` AS k", "a_ts", "b_ts")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
        .sortBy(_._1).toSeq
      assert(batch == got, s"expression-keyed streaming diverged from batch: $batch vs $got")

      // ALL ROWS PER MATCH over the expression key (r16, VERDICT r15 #3 —
      // the last non-principled streaming refusal): both routes emit the
      // computed key under its auto-name (streaming re-emits it from the
      // buffered rows; batch ADDs the auto-named column to its
      // every-input-column shape), so the per-row shapes agree on the
      // common projection. The b1/b2 feed already crosses a micro-batch
      // boundary (B2's match decides in batch 2).
      val allRowsSql = mrSql
        .replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
        .replace("LAST(B.ts) AS b_ts", "FINAL LAST(B.ts) AS b_ts")
      q.stop() // done with pe_matches; the re-fed batches below are its past
      SqlFrontend.execute(spark, "CREATE TABLE pe_rows AS" + allRowsSql.format("pe_events"))
      val qr = StatementCatalog.get("pe_rows").collect {
        case s: StatementCatalog.Standing => s.query }.getOrElse(fail("pe_rows must stand"))
      // MemoryStream prunes committed batches, so the new query needs its own
      // feed — re-played with the same b1/b2 micro-batch boundary
      mem.addData(b1: _*); qr.processAllAvailable()
      mem.addData(b2: _*); qr.processAllAvailable()
      val proj = Seq("`upper(u)` AS k", "ts", "v", "a_ts", "b_ts")
      val gotRows = SqlFrontend.execute(spark, "SELECT * FROM pe_rows")
        .selectExpr(proj: _*)
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
          r.getTimestamp(3), r.getTimestamp(4))).sortBy(x => (x._1, x._2.getTime)).toSeq
      val batchRows = SqlFrontend.execute(spark, allRowsSql.format("pe_batch"))
        .selectExpr(proj: _*)
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
          r.getTimestamp(3), r.getTimestamp(4))).sortBy(x => (x._1, x._2.getTime)).toSeq
      assert(gotRows.size == 4, s"two 2-row matches expected, got $gotRows")
      assert(batchRows == gotRows,
        s"ALL-ROWS expression-keyed streaming diverged from batch: $batchRows vs $gotRows")

      // the auto-name must not shadow a REAL source column (r15 ADVICE): a
      // silent withColumn replace would corrupt the condCol reads — loud
      val shadowSchema = mem.toDF().toDF("u", "upper(u)", "ts", "v").schema
      TableRegistry.createTable(TableRegistry.TableDef("pe_shadow", Some(shadowSchema),
        load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], shadowSchema),
        loadStream = Some(_ => mem.toDF().toDF("u", "upper(u)", "ts", "v"))))
      val e = intercept[Exception](SqlFrontend.execute(spark,
        "CREATE TABLE pe_bad AS" + mrSql.format("pe_shadow")))
      assert(e.getMessage.contains("auto-name"), e.getMessage)
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE pe_matches")
      Seq("pe_rows", "pe_bad").foreach { t =>
        if (TableRegistry.exists(t)) SqlFrontend.execute(spark, s"DROP TABLE $t") }
      Seq("pe_events", "pe_shadow").foreach(TableRegistry.dropTable)
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_NUMBER() under SKIP TO NEXT ROW: deferred winners flush in " +
    "START order across a micro-batch boundary, ordinals batch-equal (r15)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("mn_matches", "mn_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("mn_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // the ordinal-scrambling fixture the old refusal guarded against: at the
    // batch-1 boundary the start at minute 0 is OPEN on the long branch
    // (A B C needs minute 2) while the LATER start at minute 1 has already
    // DECIDED via the short branch S. The decided winner must NOT take
    // ordinal 1 — it defers behind the undecided frontier and flushes second.
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(A.ts) AS a_ts, FIRST(S.ts) AS s_ts, MATCH_NUMBER() AS seq
      |    ONE ROW PER MATCH
      |    AFTER MATCH SKIP TO NEXT ROW
      |    PATTERN (A B C | S)
      |    DEFINE A AS A.v = 1, B AS B.v = 2, C AS C.v = 3, S AS S.v = 2
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE mn_matches AS" + mrSql.format("mn_events"))
    val q = StatementCatalog.get("mn_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("MATCH_NUMBER-under-next-row CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
    val b1 = Seq(ev(0, 1.0), ev(1, 2.0))
    val b2 = Seq(ev(2, 3.0), ev(3, 2.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      // nothing may emit yet: minute 1's S-win is decided but the earlier
      // start is still open — emitting it now would hand it ordinal 1
      assert(SqlFrontend.execute(spark, "SELECT * FROM mn_matches").count() == 0L,
        "decided winner escaped ahead of the undecided frontier")
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, a_ts, s_ts, seq FROM mn_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(_._4).toSeq
      assert(got == Seq(
        ("k1", t0(0), null, 1L),  // A B C from minute 0 — start order wins
        ("k1", null, t0(1), 2L),  // the deferred S at minute 1
        ("k1", null, t0(3), 3L)), got.mkString(";"))

      // closed-stream parity with the batch scan on the same rows
      import spark.implicits._
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("mn_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("mn_batch"))
        .selectExpr("u", "a_ts", "s_ts", "seq")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(_._4).toSeq
      assert(batch == got, s"streaming next-row ordinals diverged from batch: $batch vs $got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE mn_matches")
      TableRegistry.dropTable("mn_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE CLASSIFIER() under ONE ROW PER MATCH: the last matched " +
    "row's label, ISO semantics, equals batch (r14)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("cls1_matches", "cls1_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("cls1_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // U* makes the last label VARY per match: a fall that recovers ends in
    // U, a fall sealed by a flat tick ends in D
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(S.ts) AS start_ts, CLASSIFIER() AS last_label
      |    ONE ROW PER MATCH
      |    PATTERN (S D+ U*)
      |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE cls1_matches AS" + mrSql.format("cls1_events"))
    val q = StatementCatalog.get("cls1_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("ONE-ROW CLASSIFIER CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
    val b1 = Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 7.0), ev(3, 9.0))
    val b2 = Seq(ev(4, 10.0), ev(5, 7.0), ev(6, 6.0), ev(7, 6.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, start_ts, last_label FROM cls1_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getString(2)))
        .sortBy(_._2.getTime).toSeq
      // match 1 ends in the recovery (label U); match 2's fall is sealed by
      // the flat 6.0 tick with an EMPTY U* run (label D)
      assert(got == Seq(("k1", t0(0), "U"), ("k1", t0(5), "D")), got.mkString(";"))

      import spark.implicits._
      (b1 ++ b2).toDF("u", "t", "ts", "v").createOrReplaceTempView("cls1_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("cls1_batch"))
        .selectExpr("u", "start_ts", "last_label")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getString(2)))
        .sortBy(_._2.getTime).toSeq
      assert(batch == got, s"ONE-ROW CLASSIFIER diverged from the batch scan: $batch vs $got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE cls1_matches")
      TableRegistry.dropTable("cls1_events")
      StatementCatalog.reset()
    }
  }

  test("streaming MATCH_RECOGNIZE ALL ROWS: DEFINE/MEASURES over the single PARTITION BY " +
    "column re-emits it once (r13 ADVICE)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("pk1_matches", "pk1_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("pk1_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    // the DEFINE and a MEASURE both reference the partition column, pulling
    // it into condCols — previously the duplicate-output guard refused this
    // at a SINGLE-column key while the composite-key twin worked
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FINAL LAST(U.u) AS peak_key
      |    ALL ROWS PER MATCH
      |    PATTERN (S D+ U+)
      |    DEFINE D AS D.v < PREV(D.v) AND D.u <> 'nope', U AS U.v > PREV(U.v)
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE pk1_matches AS" + mrSql.format("pk1_events"))
    val q = StatementCatalog.get("pk1_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("single-key ALL ROWS CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    try {
      mem.addData(Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 9.0), ev(3, 4.0)): _*)
      q.processAllAvailable()
      val out = SqlFrontend.execute(spark, "SELECT * FROM pk1_matches")
      assert(out.columns.count(_ == "u") == 1,
        s"the partition column must be emitted exactly once: ${out.columns.mkString(",")}")
      val got = out.selectExpr("u", "ts", "v", "peak_key").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getString(3)))
        .sortBy(_._2.getTime).toSeq
      def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
      assert(got == Seq(("k1", t0(0), 10.0, "k1"), ("k1", t0(1), 8.0, "k1"),
        ("k1", t0(2), 9.0, "k1")), got.mkString(";"))

      import spark.implicits._
      Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 9.0), ev(3, 4.0)).toDF("u", "t", "ts", "v")
        .createOrReplaceTempView("pk1_batch")
      val batch = SqlFrontend.execute(spark, mrSql.format("pk1_batch"))
        .selectExpr("u", "ts", "v", "peak_key").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getString(3)))
        .sortBy(_._2.getTime).toSeq
      assert(batch == got, s"single-key ALL ROWS diverged from the batch scan: $batch vs $got")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE pk1_matches")
      TableRegistry.dropTable("pk1_events")
      StatementCatalog.reset()
    }
  }

  test("relightStanding resumes a standing statement from its own checkpoint (r14)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, String, Timestamp, Double)]
    StatementCatalog.reset()
    Seq("rl_matches", "rl_events").foreach { t =>
      if (TableRegistry.exists(t)) TableRegistry.dropTable(t)
      spark.catalog.dropTempView(t)
    }
    val mem = MemoryStream[(String, String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "t", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("rl_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "t", "ts", "v"))))
    val mrSql = """
      |SELECT * FROM %s
      |  MATCH_RECOGNIZE (
      |    PARTITION BY u
      |    ORDER BY ts
      |    MEASURES FIRST(S.ts) AS start_ts, LAST(U.ts) AS end_ts
      |    ONE ROW PER MATCH
      |    PATTERN (S D+ U+)
      |    DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
      |  )""".stripMargin
    SqlFrontend.execute(spark, "CREATE TABLE rl_matches AS" + mrSql.format("rl_events"))
    val q = StatementCatalog.get("rl_matches").collect {
      case s: StatementCatalog.Standing => s.query
    }.getOrElse(fail("MATCH_RECOGNIZE CTAS must register a standing statement"))
    def ev(m: Int, v: Double) = ("k1", "tick", Timestamp.valueOf(f"2024-01-01 00:0$m:00"), v)
    def t0(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")
    try {
      // batch 1 decides match 1 AND leaves mid-pattern state (the 11 starts
      // a new fall the restart must continue from)
      mem.addData(Seq(ev(0, 10.0), ev(1, 8.0), ev(2, 7.0), ev(3, 12.0), ev(4, 11.0)): _*)
      q.processAllAvailable()
      // the statement stop/resume lifecycle AS SQL (r14): STOP halts the
      // query keeping sink + checkpoint; RESUME relights on the same
      // checkpoint via relightStanding
      SqlFrontend.execute(spark, "STOP STATEMENT 'rl_matches'")
      assert(!q.isActive && StatementCatalog.status("rl_matches") == "STOPPED")
      SqlFrontend.execute(spark, "RESUME STATEMENT 'rl_matches'")
      val q2 = StatementCatalog.get("rl_matches").collect {
        case s: StatementCatalog.Standing => s.query
      }.get
      assert(q2.isActive && q2.id != null, "relight must start a fresh instance")
      assert(StatementCatalog.status("rl_matches") == "RUNNING")
      mem.addData(Seq(ev(5, 9.0), ev(6, 13.0), ev(7, 12.0)): _*)
      q2.processAllAvailable()
      val got = SqlFrontend.execute(spark, "SELECT u, start_ts, end_ts FROM rl_matches")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
        .sortBy(_._2.getTime).toSeq
      // match 2 started BEFORE the kill (the 11 at minute 4 is mid-buffer
      // state) and decided after the relight — row-identical to a
      // never-stopped run
      assert(got == Seq(("k1", t0(0), t0(3)), ("k1", t0(4), t0(6))), got.mkString(";"))
      // one-shots and unknown names refuse — through the SQL surface too
      val e = intercept[Exception](SqlFrontend.execute(spark, "RESUME STATEMENT no_such_stmt"))
      assert(e.getMessage.contains("not found"), e.getMessage)
      val e2 = intercept[Exception](SqlFrontend.execute(spark, "STOP STATEMENT 'no_such_stmt'"))
      assert(e2.getMessage.contains("no statement"), e2.getMessage)
      // mismatched quoting is a parse error, not a lax accept (r15): the
      // name regex requires balanced quotes like the CLI surface modeled
      val e3 = intercept[Exception](SqlFrontend.execute(spark, "STOP STATEMENT 'rl_matches"))
      assert(!e3.getMessage.contains("no statement"), s"half-quoted name must not parse: ${e3.getMessage}")
      val e4 = intercept[Exception](SqlFrontend.execute(spark, "RESUME STATEMENT rl_matches'"))
      assert(!e4.getMessage.contains("not found"), s"half-quoted name must not parse: ${e4.getMessage}")
    } finally {
      SqlFrontend.execute(spark, "DROP TABLE rl_matches")
      TableRegistry.dropTable("rl_events")
      StatementCatalog.reset()
    }
  }

  // ---- chain re-submission (r16, VERDICT r15 #1): shared lab4-shaped fixture.
  // A FILE-backed claims source (not MemoryStream — committed batches survive
  // a fresh query, so a re-submitted stage can replay the feed from scratch,
  // exactly the re-created-topic semantics of the reference).
  private def chainClaimTs(widx: Int, off: Int) =
    Timestamp.valueOf(Timestamp.valueOf("2024-02-01 00:00:00").toLocalDateTime
      .plusHours(widx * 6L + off).toString.replace('T', ' ') + ":00")
  private def chainClaim(id: Long, city: String, widx: Int, off: Int, amount: Double) =
    (id, city, chainClaimTs(widx, off), amount)
  private def chainB1: Seq[(Long, String, Timestamp, Double)] =
    (for (wi <- 0 to 2; c <- Seq("Naples", "Tampa"); k <- 0 to 2) yield
      chainClaim(wi * 100 + (if (c == "Naples") 10 else 20) + k, c, wi, k + 1,
        if (c == "Naples" && wi == 1) 3000.0 else 1000.0)) :+
      chainClaim(900, "Tampa", 3, 1, 1.0) // sentinel: closes windows 0-2
  private def chainB2: Seq[(Long, String, Timestamp, Double)] =
    (for (wi <- 3 to 4; c <- Seq("Naples", "Tampa"); k <- 0 to 2) yield
      chainClaim(wi * 100 + (if (c == "Naples") 10 else 20) + k, c, wi, k + 1,
        if (c == "Tampa" && wi == 4) 3000.0 else 1000.0)) :+
      chainClaim(901, "Tampa", 6, 1, 1.0) // sentinel: closes windows 3-4

  private def chainWrite(dir: String, rows: Seq[(Long, String, Timestamp, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("claim_id", "city", "ts", "amount")
      .coalesce(1).write.mode("append").parquet(dir)
  }

  /** Register the file-backed claims stream table and submit the two chained
    * stages (spike filter → interval join back to the static snapshot).
    */
  private def chainBuild(dir: String, claimsTbl: String, spikesTbl: String,
                         queueTbl: String): Unit = {
    import spark.implicits._
    val schema = Seq.empty[(Long, String, Timestamp, Double)]
      .toDF("claim_id", "city", "ts", "amount").schema
    TableRegistry.createTable(TableRegistry.TableDef(claimsTbl, Some(schema),
      watermarkCol = Some("ts"), watermarkDelay = Some("10 minutes"),
      load = s => s.read.schema(schema).parquet(dir),
      loadStream = Some(s => s.readStream.schema(schema).parquet(dir))))
    SqlFrontend.execute(spark, chainSpikesSql(claimsTbl, spikesTbl))
    SqlFrontend.execute(spark,
      s"""CREATE TABLE $queueTbl AS
         |SELECT c.claim_id, s.city, s.window_time
         |FROM chain_claims_static c
         |INNER JOIN $spikesTbl s
         |  ON c.city = s.city
         | AND c.ts >= s.window_time - INTERVAL '6' HOUR
         | AND c.ts <= s.window_time""".stripMargin)
  }
  private def chainSpikesSql(claimsTbl: String, spikesTbl: String): String =
    s"""CREATE TABLE $spikesTbl AS
       |WITH windowed AS (
       |  SELECT window_time, city, SUM(amount) AS total
       |  FROM TABLE(TUMBLE(TABLE $claimsTbl, DESCRIPTOR(ts), INTERVAL '6' HOUR))
       |  GROUP BY window_start, window_end, window_time, city)
       |SELECT city, window_time, total FROM windowed WHERE total > 5000""".stripMargin
  private def chainStanding(name: String) = StatementCatalog.get(name).collect {
    case s: StatementCatalog.Standing => s.query
  }.getOrElse(fail(s"'$name' must be a standing statement"))
  private def chainQueueIds(queueTbl: String): Seq[Long] =
    SqlFrontend.execute(spark, s"SELECT claim_id FROM $queueTbl")
      .collect().map(_.getLong(0)).sorted.toSeq
  private def chainDrain(spikesTbl: String, queueTbl: String): Unit = {
    chainStanding(spikesTbl).processAllAvailable()
    chainStanding(queueTbl).processAllAvailable()
  }
  private def chainCleanup(tables: Seq[String]): Unit = {
    tables.foreach { t =>
      if (TableRegistry.exists(t) && StatementCatalog.get(t).isDefined)
        SqlFrontend.execute(spark, s"DROP TABLE $t")
      TableRegistry.dropTable(t)
    }
    spark.catalog.dropTempView("chain_claims_static")
    StatementCatalog.reset()
  }

  test("re-submitting an upstream CTAS cascades re-submission to RUNNING downstream " +
    "statements: the chain continues against the rotated sink, output equals an " +
    "unbroken chain (r16)") {
    import spark.implicits._
    StatementCatalog.reset()
    val dirA = java.nio.file.Files.createTempDirectory("c16a_claims").toString
    val dirB = java.nio.file.Files.createTempDirectory("c16b_claims").toString
    (chainB1 ++ chainB2).toDF("claim_id", "city", "ts", "amount")
      .createOrReplaceTempView("chain_claims_static")
    try {
      chainWrite(dirA, chainB1)
      chainBuild(dirA, "c16_claims", "c16_spikes", "c16_queue")
      chainDrain("c16_spikes", "c16_queue")
      assert(chainQueueIds("c16_queue") == Seq(110L, 111L, 112L))

      val oldQueue = chainStanding("c16_queue")
      val oldSink = TableRegistry.resolve("c16_spikes").options("graft.sink-path")
      // re-submit the MIDDLE stage with its own SQL — the hazard scenario:
      // before r16 the running downstream statement kept reading the OLD
      // sink dir forever, silently
      SqlFrontend.execute(spark, chainSpikesSql("c16_claims", "c16_spikes"))
      val newSink = TableRegistry.resolve("c16_spikes").options("graft.sink-path")
      assert(newSink != oldSink, "re-submission must rotate the sink dir")
      // the cascade re-planned the downstream statement: still RUNNING, on a
      // NEW query instance (fresh checkpoint → fresh query id), and the old
      // instance is stopped — nothing is left draining the dead directory
      assert(StatementCatalog.status("c16_queue") == "RUNNING")
      val newQueue = chainStanding("c16_queue")
      assert(newQueue.id != oldQueue.id,
        "cascade must re-plan the downstream statement on a fresh checkpoint")
      assert(!oldQueue.isActive, "the stale downstream instance must be stopped")

      chainWrite(dirA, chainB2)
      chainDrain("c16_spikes", "c16_queue")
      val resubmitted = chainQueueIds("c16_queue")

      // unbroken twin: same total feed, never re-submitted
      chainWrite(dirB, chainB1 ++ chainB2)
      chainBuild(dirB, "c16b_claims", "c16b_spikes", "c16b_queue")
      chainDrain("c16b_spikes", "c16b_queue")
      val unbroken = chainQueueIds("c16b_queue")
      assert(unbroken == Seq(110L, 111L, 112L, 420L, 421L, 422L), s"got $unbroken")
      assert(resubmitted == unbroken,
        s"cascaded chain diverged from the unbroken chain: $resubmitted vs $unbroken")
    } finally chainCleanup(Seq("c16_queue", "c16_spikes", "c16b_queue", "c16b_spikes",
      "c16_claims", "c16b_claims"))
  }

  test("a STOPPED downstream statement is NOT cascaded (the user's STOP holds); its " +
    "RESUME detects the rotated upstream sink and re-plans instead of relighting the " +
    "stale plan (r16)") {
    import spark.implicits._
    StatementCatalog.reset()
    val dir = java.nio.file.Files.createTempDirectory("c16r_claims").toString
    (chainB1 ++ chainB2).toDF("claim_id", "city", "ts", "amount")
      .createOrReplaceTempView("chain_claims_static")
    try {
      chainWrite(dir, chainB1)
      chainBuild(dir, "c16r_claims", "c16r_spikes", "c16r_queue")
      chainDrain("c16r_spikes", "c16r_queue")
      assert(chainQueueIds("c16r_queue") == Seq(110L, 111L, 112L))

      SqlFrontend.execute(spark, "STOP STATEMENT 'c16r_queue'")
      assert(StatementCatalog.status("c16r_queue") == "STOPPED")
      val stoppedQueue = chainStanding("c16r_queue")
      // re-submit the upstream while the downstream is stopped: the cascade
      // must NOT restart it against the user's explicit STOP
      SqlFrontend.execute(spark, chainSpikesSql("c16r_claims", "c16r_spikes"))
      assert(StatementCatalog.status("c16r_queue") == "STOPPED",
        "cascade must leave a STOPPED downstream statement stopped")

      chainWrite(dir, chainB2)
      chainStanding("c16r_spikes").processAllAvailable()
      // RESUME: the relight staleness check sees the rotated upstream sink
      // and re-plans from the statement's SQL (a plain relight would drain
      // the dead directory forever)
      SqlFrontend.execute(spark, "RESUME STATEMENT 'c16r_queue'")
      assert(StatementCatalog.status("c16r_queue") == "RUNNING")
      val resumed = chainStanding("c16r_queue")
      assert(resumed.id != stoppedQueue.id,
        "RESUME under a rotated upstream sink must re-plan, not relight")
      resumed.processAllAvailable()
      assert(chainQueueIds("c16r_queue") == Seq(110L, 111L, 112L, 420L, 421L, 422L),
        s"got ${chainQueueIds("c16r_queue")}")
    } finally chainCleanup(Seq("c16r_queue", "c16r_spikes", "c16r_claims"))
  }

  /** Register the claims file source and submit a THREE-stage chain:
    * normalize projection → TUMBLE spike filter over the normalized sink
    * (whose watermark comes from the walkthrough's ALTER DDL, not the source
    * table) → interval join. The recursive-cascade fixture.
    */
  private def chainBuild3(dir: String, claimsTbl: String, normTbl: String,
                          spikesTbl: String, queueTbl: String): String = {
    import spark.implicits._
    val schema = Seq.empty[(Long, String, Timestamp, Double)]
      .toDF("claim_id", "city", "ts", "amount").schema
    TableRegistry.createTable(TableRegistry.TableDef(claimsTbl, Some(schema),
      watermarkCol = Some("ts"), watermarkDelay = Some("10 minutes"),
      load = s => s.read.schema(schema).parquet(dir),
      loadStream = Some(s => s.readStream.schema(schema).parquet(dir))))
    val normDdl = s"CREATE TABLE $normTbl AS SELECT claim_id, city, ts, amount FROM $claimsTbl"
    SqlFrontend.execute(spark, normDdl)
    SqlFrontend.execute(spark,
      s"ALTER TABLE $normTbl MODIFY (WATERMARK FOR ts AS ts - INTERVAL '10' MINUTE)")
    SqlFrontend.execute(spark, chainSpikesSql(normTbl, spikesTbl))
    SqlFrontend.execute(spark,
      s"""CREATE TABLE $queueTbl AS
         |SELECT c.claim_id, s.city, s.window_time
         |FROM chain_claims_static c
         |INNER JOIN $spikesTbl s
         |  ON c.city = s.city
         | AND c.ts >= s.window_time - INTERVAL '6' HOUR
         | AND c.ts <= s.window_time""".stripMargin)
    normDdl
  }
  private def chainDrain3(normTbl: String, spikesTbl: String, queueTbl: String): Unit = {
    chainStanding(normTbl).processAllAvailable()
    chainDrain(spikesTbl, queueTbl)
  }

  test("re-submitting the FIRST stage of a 3-stage chain cascades RECURSIVELY (the " +
    "stage-2 re-plan rotates its own sink under stage 3) and PRESERVES the sink " +
    "table's ALTERed watermark across re-registration (r16)") {
    import spark.implicits._
    StatementCatalog.reset()
    val dirA = java.nio.file.Files.createTempDirectory("c16x_claims").toString
    val dirB = java.nio.file.Files.createTempDirectory("c16y_claims").toString
    (chainB1 ++ chainB2).toDF("claim_id", "city", "ts", "amount")
      .createOrReplaceTempView("chain_claims_static")
    try {
      chainWrite(dirA, chainB1)
      val normDdl = chainBuild3(dirA, "c16x_claims", "c16x_norm", "c16x_spikes", "c16x_queue")
      chainDrain3("c16x_norm", "c16x_spikes", "c16x_queue")
      assert(chainQueueIds("c16x_queue") == Seq(110L, 111L, 112L))

      val oldSpikes = chainStanding("c16x_spikes")
      val oldQueue = chainStanding("c16x_queue")
      // re-submit the FIRST stage: its sink rotates under c16x_spikes, whose
      // cascaded re-plan rotates ITS sink under c16x_queue — two cascade
      // levels through the recursion guard. The spikes re-plan TUMBLEs over
      // c16x_norm, so it only plans if the re-registered sink table kept the
      // ALTERed watermark.
      SqlFrontend.execute(spark, normDdl)
      assert(TableRegistry.resolve("c16x_norm").watermarkCol.contains("ts"),
        "re-registration must preserve the sink table's ALTERed watermark")
      assert(StatementCatalog.status("c16x_spikes") == "RUNNING")
      assert(StatementCatalog.status("c16x_queue") == "RUNNING")
      assert(chainStanding("c16x_spikes").id != oldSpikes.id,
        "level-1 cascade must re-plan the spike stage")
      assert(chainStanding("c16x_queue").id != oldQueue.id,
        "level-2 cascade must re-plan the join stage (recursive)")

      chainWrite(dirA, chainB2)
      chainDrain3("c16x_norm", "c16x_spikes", "c16x_queue")
      val cascaded = chainQueueIds("c16x_queue")

      chainWrite(dirB, chainB1 ++ chainB2)
      chainBuild3(dirB, "c16y_claims", "c16y_norm", "c16y_spikes", "c16y_queue")
      chainDrain3("c16y_norm", "c16y_spikes", "c16y_queue")
      val unbroken = chainQueueIds("c16y_queue")
      assert(unbroken == Seq(110L, 111L, 112L, 420L, 421L, 422L), s"got $unbroken")
      assert(cascaded == unbroken,
        s"recursively-cascaded chain diverged from the unbroken chain: $cascaded vs $unbroken")
    } finally chainCleanup(Seq("c16x_queue", "c16x_spikes", "c16x_norm",
      "c16y_queue", "c16y_spikes", "c16y_norm", "c16x_claims", "c16y_claims"))
  }

  test("an APPEND reader (INSERT INTO) is NOT cascaded on upstream re-submission — a " +
    "from-scratch replay would duplicate every row it already appended; it keeps " +
    "draining the retained old files, loudly (r16 review)") {
    import spark.implicits._
    StatementCatalog.reset()
    val dir = java.nio.file.Files.createTempDirectory("c16i_claims").toString
    try {
      chainWrite(dir, chainB1)
      val schema = Seq.empty[(Long, String, Timestamp, Double)]
        .toDF("claim_id", "city", "ts", "amount").schema
      TableRegistry.createTable(TableRegistry.TableDef("c16i_claims", Some(schema),
        watermarkCol = Some("ts"), watermarkDelay = Some("10 minutes"),
        load = s => s.read.schema(schema).parquet(dir),
        loadStream = Some(s => s.readStream.schema(schema).parquet(dir))))
      val normDdl = "CREATE TABLE c16i_norm AS " +
        "SELECT claim_id, city, ts, amount FROM c16i_claims"
      SqlFrontend.execute(spark, normDdl)
      SqlFrontend.execute(spark,
        "INSERT INTO c16i_sums SELECT claim_id, amount FROM c16i_norm")
      chainStanding("c16i_norm").processAllAvailable()
      chainStanding("insert-into-c16i_sums").processAllAvailable()
      val n1 = SqlFrontend.execute(spark, "SELECT * FROM c16i_sums").count()
      assert(n1 == chainB1.size.toLong, s"expected ${chainB1.size} appended rows, got $n1")
      val oldIns = chainStanding("insert-into-c16i_sums")

      // re-submit the upstream CTAS: the cascade must SKIP the append
      // reader (same query instance, still RUNNING), and even after new
      // data flows through the re-planned upstream, the append target must
      // NOT change — the insert is pinned to the retained OLD sink files
      SqlFrontend.execute(spark, normDdl)
      assert(StatementCatalog.status("insert-into-c16i_sums") == "RUNNING")
      assert(chainStanding("insert-into-c16i_sums").id == oldIns.id,
        "append reader must not be re-planned by the cascade")
      chainWrite(dir, chainB2)
      chainStanding("c16i_norm").processAllAvailable()
      chainStanding("insert-into-c16i_sums").processAllAvailable()
      val n2 = SqlFrontend.execute(spark, "SELECT * FROM c16i_sums").count()
      assert(n2 == n1,
        s"append target changed after the skipped cascade: $n1 -> $n2 (a re-plan " +
          "would have duplicated history; following the new sink is the user's " +
          "explicit re-create step)")
    } finally chainCleanup(Seq("c16i_norm", "c16i_sums", "c16i_claims"))
  }
}
