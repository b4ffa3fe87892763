package graft

import java.sql.Timestamp

import graft.sources.TableRegistry
import graft.sql.{SqlFrontend, StatementCatalog}

/** The drain kit and the MATCH_RECOGNIZE drain at sf0.001, so the scale
  * drains run on every test pass instead of only by hand.
  */
class DrainSpec extends SparkSpec {

  private def drain(mode: String, restartAfter: Int): Unit = {
    val r = try SpotStreamingMr.run(spark, sfDir, slices = 4, mode = mode,
      restartAfter = restartAfter) finally StatementCatalog.reset()
    val matches = r.fields.collectFirst { case ("streamMatches", n: Long) => n }
    assert(r.ok && matches.exists(_ > 0), r.line)
  }

  test("MR drain: ALL ROWS mode q173 relit after batch 1 equals its batch twin") {
    drain("q173", restartAfter = 1)
  }

  test("MR drain: the two-key mode unbroken equals its batch twin") {
    drain("2key", restartAfter = 0)
  }

  test("relight rethrows, within seconds, a statement that fails before the restart batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(String, Timestamp, Double)]
    StatementCatalog.reset()
    spark.udf.register("drain_boom", (v: Double) =>
      if (v == 13.0) throw new IllegalStateException("drain_boom on 13") else v)
    val mem = MemoryStream[(String, Timestamp, Double)]
    val schema = mem.toDF().toDF("u", "ts", "v").schema
    TableRegistry.createTable(TableRegistry.TableDef("boom_events", Some(schema),
      load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      loadStream = Some(_ => mem.toDF().toDF("u", "ts", "v"))))
    try {
      SqlFrontend.execute(spark,
        "CREATE TABLE boom_out AS SELECT u, drain_boom(v) AS v FROM boom_events")
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData(("a", t, 1.0), ("a", t, 13.0))
      val t0 = System.nanoTime()
      val e = intercept[Exception](Drain.relight("boom_out", afterBatch = 5))
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 30, s"relight took $sec s to surface the failure")
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => Option(c.getMessage).exists(_.contains("drain_boom on 13"))), e)
    } finally {
      if (TableRegistry.exists("boom_out")) SqlFrontend.execute(spark, "DROP TABLE boom_out")
      TableRegistry.dropTable("boom_events")
      StatementCatalog.reset()
    }
  }
}
