package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Row}

import graft.sources.TableRegistry
import graft.sql.{AnomalyCall, SqlFrontend}

/** Statement parsing keeps backslashes in string literals literal without
  * touching the session's conf: plain `spark.sql` keeps Spark's default,
  * and the deprecated legacy key is never written per statement. The
  * MATCH_RECOGNIZE and ML_DETECT_ANOMALIES clauses are parsed once for the
  * batch and the standing route, so their literals and their refusals read
  * the same on both.
  */
class ParseSqlSpec extends SparkSpec {

  test("parseSql keeps backslash literals without writing the session conf or logging per statement") {
    val key = "spark.sql.parser.escapedStringLiterals"
    val warns = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("escaped-literal-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains(key)) warns.incrementAndGet()
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    val before = spark.conf.getOption(key)
    try {
      // `\*{2}` is a regex only when the backslash survives the parse
      val results = (1 to 20).map { _ =>
        SqlFrontend.parseSql(spark, """SELECT regexp_extract('a*b**c', '\*{2}', 0) AS m, '\d' AS raw""")
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      }
      assert(results.distinct == Seq(Seq(("**", "\\d"))), s"results: ${results.distinct}")
      assert(spark.conf.getOption(key) == before, s"$key changed: $before -> ${spark.conf.getOption(key)}")
      assert(spark.sql("""SELECT '\d' AS raw""").head().getString(0) == "d",
        "plain spark.sql must keep Spark's default literal handling")
      assert(warns.get <= 1, s"${warns.get} log lines name $key over 20 statements")
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }

  test("MATCH_RECOGNIZE DEFINE keeps backslash literals on bounded and unbounded patterns") {
    import spark.implicits._
    Seq((1L, "a1"), (2L, "b2"), (3L, "cc"), (4L, "d4")).map { case (id, s) => ("k", id, s) }
      .toDF("k", "id", "s").createOrReplaceTempView("literal_mr")
    // `\d` is a digit class only when the backslash survives the rewrite's
    // own parse of the DEFINE text, for an unbounded and a bounded pattern
    def run(quantifier: String) = SqlFrontend.parseSql(spark,
      s"""SELECT * FROM literal_mr MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY id
         |  MEASURES FIRST(A.id) AS first_id, LAST(A.id) AS last_id
         |  ONE ROW PER MATCH
         |  PATTERN (A$quantifier)
         |  DEFINE A AS A.s RLIKE '^[a-z]\\d$$'
         |)""".stripMargin)
      .collect().map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("last_id"))).sortBy(_._1).toSeq
    assert(run("+") == Seq((1L, 2L), (4L, 4L)))
    assert(run("{1,2}") == Seq((1L, 2L), (4L, 4L)))
  }

  private type Ev = (String, Timestamp, String, Double)
  private val evCols = Seq("k", "ts", "s", "v")

  /** `select` (`%s` = the table) run standing over `rows` and as its batch
    * twin, each read through `read`.
    */
  private def bothRoutes(rows: Seq[Ev], select: String)(read: DataFrame => DataFrame): (Set[Row], Set[Row]) = {
    import spark.implicits._
    implicit val enc = Encoders.product[Ev]
    val mem = StandingTwin.stream[Ev](spark, "lit_src")(_.toDF(evCols: _*))
    try {
      val standing = StandingTwin.standing(spark, mem, "lit_out", select.format("lit_src"), Seq(rows))(read)
      rows.toDF(evCols: _*).createOrReplaceTempView("lit_batch")
      (standing, read(SqlFrontend.execute(spark, select.format("lit_batch"))).collect().toSet)
    } finally {
      TableRegistry.dropTable("lit_src")
      spark.catalog.dropTempView("lit_batch")
    }
  }

  private def at(sec: Int) = new Timestamp(sec * 1000L)

  test("a standing PARTITION BY expression and DEFINE keep backslash literals like the batch twin") {
    // `'\d'` stays backslash-d only under the literal rule, and `\d` in the
    // DEFINEs is a digit class only then: a default-unescaped standing parse
    // keys on `xd` and matches nothing
    val rows = Seq("x", "y").flatMap(k => Seq("a1", "b2", "a3", "b4").zipWithIndex.map { case (s, i) =>
      (k, at(i), s, i.toDouble) })
    val (standing, batch) = bothRoutes(rows,
      """SELECT * FROM %s MATCH_RECOGNIZE (
        |  PARTITION BY concat(k, '\d') ORDER BY ts
        |  MEASURES FIRST(A.ts) AS a_ts, LAST(B.ts) AS b_ts
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE A AS A.s RLIKE '^a\d$', B AS B.s RLIKE '^b\d$'
        |)""".stripMargin)(identity)
    assert(batch.map(_.getString(0)) == Set("x\\d", "y\\d"), batch)
    assert(batch.size == 4, batch)
    assert(standing == batch, s"standing $standing\nbatch $batch")
  }

  test("a standing ML_DETECT_ANOMALIES PARTITION BY expression keeps backslash literals like " +
    "the batch twin") {
    // regexp_replace(k, '\d', '') folds z1 and z2 into one series only
    // when the backslash survives; two series forecast different values
    val rows = (0 until 12).map(i => (if (i % 2 == 0) "z1" else "z2", at(i), "",
      (if (i % 2 == 0) 10.0 else 100.0) + i % 3))
    val (standing, batch) = bothRoutes(rows,
      """SELECT k, ts, ML_DETECT_ANOMALIES(v, ts,
        |    JSON_OBJECT('minTrainingSize' VALUE 2, 'maxTrainingSize' VALUE 50))
        |  OVER (PARTITION BY regexp_replace(k, '\d', '') ORDER BY ts
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
        |FROM %s""".stripMargin)(
      _.selectExpr("k", "ts", "round(a.forecast_value, 6)"))
    assert(batch.size == 12, batch)
    // the one folded series: from the third row on every forecast averages
    // both zones' levels
    assert(batch.exists(r => r.getString(0) == "z1" && r.getAs[Double](2) > 20.0), batch)
    assert(standing == batch, s"standing $standing\nbatch $batch")
  }

  test("one refusal table: each malformed clause fails with the same message on both routes") {
    import spark.implicits._
    implicit val enc = Encoders.product[Ev]
    def mr(pattern: String = "A B", measures: String = "FIRST(A.ts) AS a_ts", after: String = "",
           within: String = "", subset: String = "",
           define: String = "A AS A.v < 2.0, B AS B.v >= 2.0") =
      s"""SELECT * FROM %s MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ts
         |  MEASURES $measures
         |  ONE ROW PER MATCH $after
         |  PATTERN ($pattern) $within $subset
         |  DEFINE $define)""".stripMargin
    val table = Seq(
      mr(pattern = "A B!") -> "unsupported pattern token 'B!'",
      mr(pattern = "A{4,2} B") -> "empty quantifier range {4,2} on 'A'",
      mr(pattern = "A B A") -> "duplicate pattern variable",
      mr(after = "AFTER MATCH SKIP TO LAST X") -> "SKIP TO references unknown pattern variable 'X'",
      mr(subset = "SUBSET A = (B)") -> "SUBSET A collides with a pattern variable",
      mr(within = "WITHIN INTERVAL '0' SECOND") -> "WITHIN bound must be positive",
      mr(define = "A A.v < 2.0, B AS B.v >= 2.0") -> "DEFINE needs 'VAR AS condition'",
      mr(measures = "FIRST(A.ts)") -> "measure needs 'expr AS alias'",
      ("SELECT k, ML_DETECT_ANOMALIES(v, ts, JSON_OBJECT('minTrainingSize' VALUE 2)) AS a " +
        "FROM %s") -> "requires an OVER (PARTITION BY … ORDER BY …) clause",
      ("SELECT k, ML_DETECT_ANOMALIES(v, v, JSON_OBJECT('minTrainingSize' VALUE 2)) " +
        "OVER (PARTITION BY k ORDER BY ts) AS a FROM %s") ->
        "ts argument 'v' must be the OVER clause's ORDER BY column 'ts'")
    StandingTwin.stream[Ev](spark, "refuse_src")(_.toDF(evCols: _*))
    Seq.empty[Ev].toDF(evCols: _*).createOrReplaceTempView("refuse_batch")
    try {
      val wrong = table.flatMap { case (select, expected) =>
        val batch = StandingTwin.refusal(spark, select.format("refuse_batch"))
        val standing = StandingTwin.refusal(spark,
          "CREATE TABLE refuse_out AS " + select.format("refuse_src"), Some("refuse_out"))
        if (batch.contains(expected) && standing == batch) None
        else Some(s"expected '$expected'\n  batch:    $batch\n  standing: $standing")
      }
      if (wrong.nonEmpty) fail(wrong.mkString("\n"))
    } finally {
      TableRegistry.dropTable("refuse_src")
      spark.catalog.dropTempView("refuse_batch")
    }
  }

  test("an ML_DETECT_ANOMALIES ts argument matches its ORDER BY column case-insensitively, " +
    "backticks aside") {
    val call = AnomalyCall.parse("SELECT ML_DETECT_ANOMALIES(v, `Window_Time`) " +
      "OVER (PARTITION BY k ORDER BY window_time) AS a FROM t")
    assert(call.map(_.order).contains("window_time"), call)
  }
}
