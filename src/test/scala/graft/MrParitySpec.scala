package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, when}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Behavior, MatchRecognize, MrPattern}
import graft.sources.TableRegistry
import graft.sql.SqlFrontend
import graft.streaming.{StreamingMatchRecognize, StreamingSequenceMatchQ}
import graft.streaming.StreamingSequenceMatchQ.QTok

/** Seeded closed-stream parity between the batch MATCH_RECOGNIZE scan and the
  * standing operators, which share one matcher: random small patterns and
  * series, each series fed to the stream across three micro-batches and
  * closed per key by an all-NULL sentinel row that breaks every run, so every
  * attempt decides. The standing output must equal the batch output row for
  * row — match starts, lengths and MATCH_NUMBER ordinals. The SQL-level case
  * runs the same patterns as MATCH_RECOGNIZE text, once as a standing CTAS
  * and once as its batch twin, over the clause toggles.
  */
class MrParitySpec extends SparkSpec {

  private def forAll[A](gen: Gen[A], n: Int)(f: (A, Int) => Unit): Unit =
    (0 until n).foreach { i => f(gen.pureApply(Gen.Parameters.default, Seed(4242L + i)), i) }

  private type Ev = (String, Timestamp, Long, String, Option[Int])

  /** Three keys of 10-14 rows over types a/b/c and small ints, 0-2 s apart
    * (equal timestamps order by the tie), each closed by a NULL sentinel.
    */
  private val seriesGen: Gen[Seq[Ev]] = {
    val row = for {
      step <- Gen.choose(0, 2)
      t <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0, 5)
    } yield (step, t, v)
    Gen.listOfN(3, Gen.choose(10, 14).flatMap(Gen.listOfN(_, row))).map { keys =>
      var tie = 0L
      keys.zipWithIndex.flatMap { case (rows, k) =>
        var sec = 0
        val evs = rows.map { case (step, t, v) =>
          sec += step; tie += 1
          (s"k$k", new Timestamp(sec * 1000L), tie, t, Option(v))
        }
        tie += 1
        evs :+ ((s"k$k", new Timestamp((sec + 1) * 1000L), tie, null: String, None))
      }
    }
  }

  private def frame(rows: Seq[Ev]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "ts", "tie", "t", "v")
  }

  /** Feed `rows` to a standing query in three (ts, tie)-ordered slices. */
  private def drain(rows: Seq[Ev], name: String)(op: DataFrame => DataFrame): DataFrame = {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val mem = MemoryStream[Ev]
    val q = op(mem.toDF().toDF("k", "ts", "tie", "t", "v"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val sorted = rows.sortBy(r => (r._2.getTime, r._3))
    val third = (sorted.size + 2) / 3
    try {
      sorted.grouped(third).foreach { slice => mem.addData(slice: _*); q.processAllAvailable() }
      spark.table(name)
    } finally q.stop()
  }

  // DEFINE text per variable; `X.` is stripped for the batch route's Catalyst column
  private val conds = Seq("X.t = 'a'", "X.t = 'b'", "X.t <> 'c'", "X.v >= 2", "X.v < 4",
    "X.t = 'c' OR X.v > 3")
  private val mandatory = Seq("", "+", "+?", "{1,2}", "{1,2}?", "{2}", "{1,}")
  private val anyQuant = mandatory ++ Seq("?", "??", "*", "*?", "{0,2}")

  private case class Case(pattern: String, defs: Map[String, String], within: Option[Long],
                          skip: Int, matchNumber: Boolean)

  // shape i % 4 (linear, alternation, optional group, PERMUTE) always consumes
  // a row before the final mandatory variable T, which the variable-targeted
  // skips name — so a target never re-anchors at the match's start. Over
  // eight cases every shape runs with and without WITHIN, every skip twice.
  private val caseGen: Gen[Int => Case] = for {
    qs <- Gen.listOfN(3, Gen.oneOf(anyQuant))
    ms <- Gen.listOfN(3, Gen.oneOf(mandatory))
    cs <- Gen.listOfN(4, Gen.oneOf(conds))
    lazyOpt <- Gen.oneOf("?", "??")
  } yield (i: Int) => {
    val head = i % 4 match {
      case 0 => s"A${ms(0)} B${qs(0)}"
      case 1 => s"(A${ms(0)} | B${ms(1)} C${qs(1)})"
      case 2 => s"A${ms(0)} (B${qs(0)} C${qs(1)})$lazyOpt"
      case _ => s"PERMUTE(A${ms(0)}, B${qs(0)})"
    }
    val pat = s"$head T${ms(2)}"
    val vars = MrPattern.expand(pat)._2
    Case(pat, vars.zip(cs ++ cs).map { case (v, c) => v -> c.replace("X.", s"$v.") }.toMap,
      if ((i + i / 4) % 2 == 0) None else Some(4000000L), (i / 4 + i) % 4, i % 3 != 1)
  }

  test("closed-stream parity: the standing operator equals scanPattern on random patterns") {
    var matched = 0L
    forAll(caseGen.flatMap(c => seriesGen.map(s => (c, s))), 8) { case ((mk, rows), i) =>
      val c = mk(i)
      val (bs, names) = MrPattern.expand(c.pattern)
      val idx = names.zipWithIndex.toMap
      val branches = bs.map(_.map(t =>
        MatchRecognize.BTok(idx(t.name), t.lo, t.hi, t.reluctant)).toIndexedSeq)
      val skip = c.skip match {
        case 0 => MatchRecognize.SkipPastLastRow
        case 1 => MatchRecognize.SkipToNextRow
        case 2 => MatchRecognize.SkipToFirst(idx("T"))
        case _ => MatchRecognize.SkipToLast(idx("T"))
      }
      val tree = Some(MrPattern.parse(c.pattern))
      val clue = s"case $i: PATTERN (${c.pattern}) $skip within=${c.within} " +
        s"mn=${c.matchNumber} DEFINE ${c.defs}"
      info(clue)
      val batch = MatchRecognize.scanPattern(frame(rows), Seq(col("k")), Seq(col("ts"), col("tie")),
        "ts", names, branches, names.map(v => expr(c.defs(v).replace(s"$v.", ""))),
        c.within, skip, allRows = false, measureCols = Seq.empty, tree = tree)
        .select(col("k"), col("tie"), col("__mr_len").cast("int"),
          if (c.matchNumber) col("__mr_seq") else expr("0L"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      val streamed = drain(rows, s"mr_parity_$i")(df =>
        StreamingMatchRecognize.applyPattern(df, "k", Seq("t", "v"), "ts", "tie", names, branches,
          names.map(v => Some(c.defs(v))), c.within.getOrElse(0L), skip = skip,
          matchNumberAlias = if (c.matchNumber) Some("mn") else None, tree = tree))
        .select(col("key"), col("start_tie"), col("matched_len"),
          if (c.matchNumber) col("mn") else expr("0L"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      assert(streamed == batch, s"$clue\nstream-only ${streamed -- batch}\nbatch-only ${batch -- streamed}")
      matched += batch.size
    }
    info(s"$matched matches over 8 patterns")
    assert(matched > 30L, s"the generated cases must select matches, got $matched")
  }

  /** The rows plus `g`, a second key column constant per `k`. */
  private def keyed(df: DataFrame): DataFrame =
    df.withColumn("g", when(col("k") === "k1", "odd").otherwise("even"))

  test("SQL-level parity: a standing MATCH_RECOGNIZE CTAS equals its batch twin over clause toggles") {
    implicit val enc = Encoders.product[Ev]
    val skips = Seq("AFTER MATCH SKIP PAST LAST ROW", "AFTER MATCH SKIP TO NEXT ROW",
      "AFTER MATCH SKIP TO FIRST T", "AFTER MATCH SKIP TO LAST T")
    val evCols = Seq("k", "ts", "tie", "t", "v")
    var matched = 0L
    forAll(caseGen.flatMap(c => seriesGen.map(s => (c, s))), 8) { case ((mk, rows), i) =>
      val c = mk(i)
      // over eight cases each skip runs once under ONE ROW and once under
      // ALL ROWS; SUBSET in three, a two-column PARTITION BY in four
      val (allRows, subset, twoKeys) = (i % 2 == 1, i % 3 == 0, i >= 4)
      val keys = if (twoKeys) "k, g" else "k"
      val measures = Seq("LAST(T.tie) AS t_tie", "FIRST(A.tie) AS a_tie") ++
        (if (c.matchNumber) Seq("MATCH_NUMBER() AS mn") else Nil) ++
        (if (allRows) Seq("CLASSIFIER() AS cls") else Nil) ++
        (if (subset) Seq("FINAL count(U.*) AS n_u", "FINAL sum(U.v) AS u_sum") else Nil)
      val aliases = measures.map(_.split(" AS ").last)
      val select =
        s"""SELECT $keys, ${((if (allRows) Seq("ts", "tie") else Nil) ++ aliases).mkString(", ")}
           |FROM %s MATCH_RECOGNIZE (
           |  PARTITION BY $keys ORDER BY ts, tie
           |  MEASURES ${measures.mkString(", ")}
           |  ${if (allRows) "ALL" else "ONE"} ROW${if (allRows) "S" else ""} PER MATCH
           |  ${skips(c.skip)}
           |  PATTERN (${c.pattern})${c.within.fold("")(us => s" WITHIN INTERVAL '${us / 1000000}' SECOND")}
           |  ${if (subset) "SUBSET U = (A, T)" else ""}
           |  DEFINE ${c.defs.map { case (v, d) => s"$v AS $d" }.mkString(", ")})""".stripMargin
      info(s"case $i:\n$select")
      val mem = StandingTwin.stream[Ev](spark, "mr_sql_src")(df => keyed(df.toDF(evCols: _*)))
      try {
        val sorted = rows.sortBy(r => (r._2.getTime, r._3))
        val streamed = StandingTwin.standing(spark, mem, "mr_sql_out", select.format("mr_sql_src"),
          sorted.grouped((sorted.size + 2) / 3).toSeq)(SpotStreamingMr.canon)
        keyed(frame(rows)).createOrReplaceTempView("mr_sql_batch")
        val batch = SpotStreamingMr.canon(SqlFrontend.execute(spark, select.format("mr_sql_batch")))
          .collect().toSet
        assert(streamed == batch, s"case $i\nstream-only ${streamed -- batch}\nbatch-only ${batch -- streamed}")
        matched += batch.size
      } finally {
        TableRegistry.dropTable("mr_sql_src")
        spark.catalog.dropTempView("mr_sql_batch")
      }
    }
    info(s"$matched rows over 8 texts")
    assert(matched > 30L, s"the generated texts must select matches, got $matched")
  }

  test("closed-stream parity: the StreamingSequenceMatchQ adapter equals Behavior.sequenceMatchQ") {
    val quant: Gen[(Int, Int, Boolean)] = Gen.oneOf(
      (1, 1, false), (1, 2, false), (0, 1, false), (1, 3, true), (0, 2, true),
      (1, QTok.Unbounded, false), (1, QTok.Unbounded, true), (0, QTok.Unbounded, false))
    val patGen = for {
      n <- Gen.choose(2, 3)
      toks <- Gen.listOfN(n, for { t <- Gen.oneOf("a", "b", "c"); q <- quant } yield QTok(t, q._1, q._2, q._3))
      within <- Gen.oneOf(0L, 5000000L)
    } yield (toks, within)
    var matched = 0L
    forAll(patGen.flatMap(p => seriesGen.map(s => (p, s))), 3) { case (((toks, within), rows), i) =>
      val skipPast = i % 2 == 1
      val clue = s"case $i: $toks within=$within skipPast=$skipPast"
      info(clue)
      val batchDf =
        if (skipPast) Behavior.sequenceMatchSkipPast(frame(rows), "k", "t", "ts", "tie", toks, within)
        else Behavior.sequenceMatchQ(frame(rows), "k", "t", "ts", "tie", toks, within)
      def spans(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getInt(4))).toSet
      val batch = spans(batchDf.select("k", "match_start_ts", "match_end_ts", "start_tie", "matched_len"))
      val streamed = spans(drain(rows, s"mr_parity_q$i")(df =>
        StreamingSequenceMatchQ(df, "k", "t", "ts", "tie", toks, within, skipPast = skipPast).toDF()))
      assert(streamed == batch, s"$clue\nstream-only ${streamed -- batch}\nbatch-only ${batch -- streamed}")
      matched += batch.size
    }
    info(s"$matched matches over 3 patterns")
    assert(matched > 10L, s"the generated cases must select matches, got $matched")
  }
}
