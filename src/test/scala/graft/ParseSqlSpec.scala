package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.sql.SqlFrontend

/** Statement parsing keeps backslashes in string literals literal without
  * touching the session's conf: plain `spark.sql` keeps Spark's default,
  * and the deprecated legacy key is never written per statement.
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

  test("MATCH_RECOGNIZE DEFINE keeps backslash literals on the scan and the lead()-CASE routes") {
    import spark.implicits._
    Seq((1L, "a1"), (2L, "b2"), (3L, "cc"), (4L, "d4")).map { case (id, s) => ("k", id, s) }
      .toDF("k", "id", "s").createOrReplaceTempView("literal_mr")
    // `\d` is a digit class only when the backslash survives: the unbounded
    // A+ is parsed by the rewrite itself (scan route), A{1,2} inside the
    // statement text (lead()-CASE route)
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
}
