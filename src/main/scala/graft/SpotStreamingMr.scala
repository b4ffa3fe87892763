package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TableRegistry
import graft.sql.SqlFrontend

/** Scale drain for standing MATCH_RECOGNIZE: replay the events table as a
  * multi-micro-batch stream ([[Drain.feed]], one event-time slice per
  * micro-batch, so greedy runs and skip cursors cross batch boundaries per
  * key), run one mode's SQL text as a standing CTAS through
  * [[graft.sql.StreamPlanner]], and check it against the same text run as a
  * batch query through [[graft.sql.SqlFrontend]] on the same rows.
  *
  * Every mode is the `S D+ U+` ticker pattern (a fall, then a rise):
  *   - `q164` — ONE ROW span measures;
  *   - `2key` — two-column PARTITION BY (a composite state key) with SUBSET
  *     aggregates;
  *   - `q173` — ALL ROWS with CLASSIFIER, RUNNING and FINAL LAST;
  *   - `q178` — ALL ROWS with `{- D+ -}` exclusion and FINAL count(D.*);
  *   - `q177` — ONE ROW with SUBSET M = (D, U) pooled aggregates;
  *   - `q167` — ALL ROWS under AFTER MATCH SKIP TO LAST U with MATCH_NUMBER
  *     (overlapping matches);
  *   - `mnseq` — ONE ROW MATCH_NUMBER under SKIP TO NEXT ROW.
  *
  * A match is identified by its partition key and `m_start_tie` (the event id
  * of its first row). The streamed matches must be a subset of the batch
  * matches missing at most one open tail per key, and on the common matches
  * the rows must be equal. Under SKIP TO NEXT ROW every position of the last
  * wave is its own open start, so `mnseq` replaces the one-tail bound with a
  * prefix gate: per key, max(match_seq) equals the number of streamed
  * matches.
  *
  * `restartAfter` > 0 stops the statement after that many committed
  * micro-batches, while every key holds mid-pattern state, and relights it
  * from its own checkpoint ([[Drain.relight]]). `dumpDir` writes the
  * compared streamed rows to `<dumpDir>/<mode>/` for tools/compare_dumps.py.
  * `peakStateRows` is the most rows any key kept buffered after a
  * micro-batch.
  *
  * Usage: runMain graft.SpotStreamingMr <sfDir> [slices] [mode] [restartAfter]
  * [dumpDir]
  */
object SpotStreamingMr {

  /** One mode: its partition columns and its SQL text (`%s` = the table). */
  final case class Mode(keys: Seq[String], sql: String, prefixGate: Boolean = false)

  /** The ticker pattern's SQL text, selecting the keys, the match id and
    * `select`.
    */
  private def ticker(keys: Seq[String], select: String, measures: String, rest: String,
                     pattern: String = "S D+ U+", subset: String = "",
                     prefixGate: Boolean = false): Mode = Mode(keys,
    s"""SELECT ${keys.mkString(", ")}, m_start_tie, $select FROM %s MATCH_RECOGNIZE (
       |  PARTITION BY ${keys.mkString(", ")} ORDER BY ts, event_id
       |  MEASURES FIRST(S.event_id) AS m_start_tie, $measures
       |  $rest
       |  PATTERN ($pattern) $subset
       |  DEFINE D AS D.value < PREV(D.value), U AS U.value > PREV(U.value))""".stripMargin,
    prefixGate)

  private val user = Seq("user_id")

  val modes: Map[String, Mode] = Map(
    "q164" -> ticker(user, "start_ts, end_ts",
      "FIRST(S.ts) AS start_ts, LAST(U.ts) AS end_ts", "ONE ROW PER MATCH"),
    "2key" -> ticker(Seq("user_id", "event_type"), "s_ts, top, n_rows, m_sum",
      "FIRST(S.ts) AS s_ts, FINAL LAST(U.value) AS top, FINAL count(M.*) AS n_rows, " +
        "FINAL sum(M.value) AS m_sum",
      "ONE ROW PER MATCH", subset = "SUBSET M = (S, D, U)"),
    "q173" -> ticker(user, "ts, event_id, value, cls, run_bottom, run_top, final_top",
      "CLASSIFIER() AS cls, LAST(D.value) AS run_bottom, LAST(U.value) AS run_top, " +
        "FINAL LAST(U.value) AS final_top",
      "ALL ROWS PER MATCH"),
    "q178" -> ticker(user, "ts, event_id, value, cls, final_top, n_down",
      "CLASSIFIER() AS cls, FINAL LAST(U.value) AS final_top, FINAL count(D.*) AS n_down",
      "ALL ROWS PER MATCH", pattern = "S {- D+ -} U+"),
    "q177" -> ticker(user, "move_first, move_last, move_rows, move_sum, move_min",
      "FIRST(M.value) AS move_first, LAST(M.value) AS move_last, count(M.*) AS move_rows, " +
        "sum(M.value) AS move_sum, min(M.value) AS move_min",
      "ONE ROW PER MATCH", subset = "SUBSET M = (D, U)"),
    "q167" -> ticker(user, "ts, event_id, value, cls, final_top, match_seq",
      "CLASSIFIER() AS cls, FINAL LAST(U.value) AS final_top, MATCH_NUMBER() AS match_seq",
      "ALL ROWS PER MATCH AFTER MATCH SKIP TO LAST U"),
    "mnseq" -> ticker(user, "final_top, match_seq",
      "LAST(U.value) AS final_top, MATCH_NUMBER() AS match_seq",
      "ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW", prefixGate = true))

  /** Both sides in one comparable shape: timestamps as epoch micros,
    * integers as long, decimals at (38, 6).
    */
  private[graft] def canon(df: DataFrame): DataFrame = df.select(df.schema.fields.toSeq.map { f =>
    val c = col(f.name)
    (f.dataType match {
      case TimestampType | TimestampNTZType => unix_micros(c.cast("timestamp"))
      case ByteType | ShortType | IntegerType => c.cast("long")
      case _: DecimalType => c.cast("decimal(38,6)")
      case _ => c
    }).as(f.name)
  }: _*)

  /** Drain one mode and print its `[mrdrain]` report line. */
  def run(spark: SparkSession, sfDir: String, slices: Int = 20, mode: String = "q164",
          restartAfter: Int = 0, dumpDir: Option[String] = None): Drain.Report = {
    val m = modes.getOrElse(mode, throw new IllegalArgumentException(
      s"unknown mode '$mode' (one of ${modes.keys.toSeq.sorted.mkString(", ")})"))
    // the feed yields one batch per slice: a later restart point is never reached
    require(restartAfter < slices, s"restartAfter=$restartAfter must be < slices=$slices")
    val ev = core.Tables(spark, sfDir, "events").select(col("user_id"), col("event_type"),
      col("ts").cast("timestamp").as("ts"), col("event_id"), col("value"))
    val feed = Drain.feed(ev, "ts", slices, "mrdrain")
    // the planner names both accumulators after the statement's source view
    val acc = new Drain.Accumulables(spark, "mr_peak_state_rows_", "mr_open_tails_")
    try {
      feed.publishAll()
      TableRegistry.createTable(TableRegistry.TableDef("mr_feed", Some(feed.schema),
        load = s => s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], feed.schema),
        loadStream = Some(feed.stream)))
      val t0 = System.nanoTime()
      SqlFrontend.execute(spark, "CREATE TABLE mr_drain AS " + m.sql.format("mr_feed"))
      val q = if (restartAfter > 0) Drain.relight("mr_drain", restartAfter)
        else Drain.standing("mr_drain")
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val stateOp = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head)

      ev.createOrReplaceTempView("mr_batch")
      val streamed = canon(SqlFrontend.execute(spark, "SELECT * FROM mr_drain"))
      val batch = canon(SqlFrontend.execute(spark, m.sql.format("mr_batch")))
      // matches by id: at most one open tail per key missing; rows of the
      // streamed matches: equal to the batch rows of the same matches
      val span = m.keys :+ "m_start_tie"
      val streamedSpans = streamed.select(span.map(col): _*).distinct()
      val nKeys = ev.select(m.keys.map(col): _*).distinct().count()
      val spans = Drain.parity(streamedSpans, batch.select(span.map(col): _*).distinct(),
        if (m.prefixGate) Long.MaxValue else nKeys)
      val rows = Drain.parity(streamed, batch.join(streamedSpans, span, "left_semi"))
      val prefixBad =
        if (!m.prefixGate) 0L
        else streamed.groupBy(m.keys.map(col): _*)
          .agg(max(col("match_seq")).as("mx"), count(lit(1)).as("n"))
          .filter(col("mx") =!= col("n")).count()
      dumpDir.foreach(d => streamed.write.mode("overwrite").parquet(s"$d/$mode"))
      val nEvents = ev.count()
      Drain.report("mrdrain", spans.ok && rows.ok && prefixBad == 0)(
        "mode" -> mode, "restartAfter" -> restartAfter, "sec" -> sec,
        "slices" -> slices, "events" -> nEvents, "eventsPerSec" -> (nEvents / sec).toLong,
        "streamRows" -> rows.streamed, "batchRows" -> batch.count(),
        "streamMatches" -> spans.streamed, "batchMatches" -> spans.batch,
        "extraSpans" -> spans.extra, "missingFinalSpans" -> spans.missing,
        "extraRows" -> rows.extra, "missingRowsOnCommonSpans" -> rows.missing,
        "prefixBad" -> prefixBad, "keys" -> nKeys,
        "peakStateRows" -> acc.max("mr_peak_state_rows_"), "openTails" -> acc.sum("mr_open_tails_"),
        "stateRowsTotal" -> stateOp.map(_.numRowsTotal).getOrElse(-1L),
        "stateMemBytes" -> stateOp.map(_.memoryUsedBytes).getOrElse(-1L))
    } finally {
      acc.stop()
      if (TableRegistry.exists("mr_drain")) SqlFrontend.execute(spark, "DROP TABLE mr_drain")
      TableRegistry.dropTable("mr_feed")
      spark.catalog.dropTempView("mr_batch")
      feed.delete()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val report = run(spark, args.headOption.getOrElse("benchdata/sf10"),
      args.lift(1).map(_.toInt).getOrElse(20), args.lift(2).getOrElse("q164"),
      args.lift(3).map(_.toInt).getOrElse(0), args.lift(4))
    Drain.exit(spark, report)
  }
}
