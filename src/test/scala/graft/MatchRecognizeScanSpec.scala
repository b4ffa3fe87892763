package graft

import org.apache.spark.sql.functions._
import graft.operators.{Behavior, MatchRecognize}
import graft.operators.MatchRecognize.MrTok
import graft.sql.SqlFrontend
import graft.streaming.StreamingSequenceMatchQ.QTok

/** The NFA cursor scan behind unbounded quantifiers and ALL ROWS PER MATCH
  * (r8 verdict directive #1): greedy selection equivalence with the bounded
  * lead()-expansion surfaces, unbounded-run semantics, WITHIN capping, ALL
  * ROWS emission, and the SQL route end-to-end.
  */
class MatchRecognizeScanSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  // the ticker series: one down-run then up-runs, engineered so greedy
  // maximality, skip-past consumption, and run breaks are all exercised
  private lazy val ticker = Seq(
    ("k1", ts(0), 1L, 10.0), ("k1", ts(1), 2L, 8.0), ("k1", ts(2), 3L, 7.0),
    ("k1", ts(3), 4L, 9.0), ("k1", ts(4), 5L, 12.0), ("k1", ts(5), 6L, 11.0),
    ("k1", ts(6), 7L, 13.0),
    // k2: no down-run at all — S D+ U+ never matches
    ("k2", ts(0), 8L, 1.0), ("k2", ts(1), 9L, 2.0), ("k2", ts(2), 10L, 3.0))
    .toDF("k", "ts", "id", "v")

  test("scan equals the bounded expansion surfaces on a bounded pattern (both skip modes)") {
    val events = core.Tables(spark, sfDir, "events")
    val toks = Seq(MrTok("A", 1, Some(2)), MrTok("B", 1, Some(1)))
    val defs = Seq(col("event_type") === "view", col("event_type") === "click")
    val qtoks = Seq(QTok("view", 1, 2), QTok("click", 1, 1))

    // SKIP TO NEXT ROW: every start decided independently, greedy longest
    val scanNext = MatchRecognize.scan(events, Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), "ts", toks, defs,
        withinMicros = None, skip = MatchRecognize.SkipToNextRow, allRows = false, measureCols = Seq("ts"))
      .select(col("user_id"), col("ts"), col("event_id"), col("__mr_len"))
    val caseNext = Behavior.sequenceMatchQ(events, "user_id", "event_type", "ts", "event_id", qtoks)
      .select(col("user_id"), col("match_start_ts").as("ts"), col("start_tie").as("event_id"),
        col("matched_len").cast("long").as("__mr_len"))
    assert(scanNext.exceptAll(caseNext).isEmpty && caseNext.exceptAll(scanNext).isEmpty,
      "scan vs lead()-CASE greedy selection diverged under SKIP TO NEXT ROW")

    // SKIP PAST LAST ROW: the sequential consumption must agree too
    val scanPast = MatchRecognize.scan(events, Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), "ts", toks, defs,
        withinMicros = None, skip = MatchRecognize.SkipPastLastRow, allRows = false, measureCols = Seq("ts"))
      .select(col("user_id"), col("ts"), col("event_id"), col("__mr_len"))
    val casePast = Behavior.sequenceMatchSkipPast(events, "user_id", "event_type", "ts", "event_id", qtoks)
      .select(col("user_id"), col("match_start_ts").as("ts"), col("start_tie").as("event_id"),
        col("matched_len").cast("long").as("__mr_len"))
    assert(scanPast.exceptAll(casePast).isEmpty && casePast.exceptAll(scanPast).isEmpty,
      "scan vs skipPastSelect consumption diverged under SKIP PAST LAST ROW")
    assert(scanPast.count() > 0, "equivalence must not be vacuous")
  }

  test("unbounded ticker pattern S D+ U+ — greedy maximal runs, both skip modes (SQL route)") {
    ticker.createOrReplaceTempView("mr_ticker")
    def run(after: String) = SqlFrontend.execute(spark,
      s"""SELECT * FROM mr_ticker MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ts, id
         |  MEASURES FIRST(S.id) AS start_id, LAST(D.v) AS bottom, LAST(U.v) AS top,
         |           LAST(U.id) AS end_id
         |  ONE ROW PER MATCH
         |  $after
         |  PATTERN (S D+ U+)
         |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
         |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"),
        r.getAs[Double]("bottom"), r.getAs[Double]("top"), r.getAs[Long]("end_id")))
      .sortBy(t => (t._1, t._2)).toSeq

    // skip-past (default, clause absent): one match — S@1, D run 2-3 (8,7),
    // U run 4-5 (9,12); cursor lands on 6 where D+ can't start (id7 rises)
    assert(run("") == Seq(("k1", 1L, 7.0, 12.0, 5L)))
    assert(run("AFTER MATCH SKIP PAST LAST ROW") == Seq(("k1", 1L, 7.0, 12.0, 5L)))
    // skip-to-next: overlapping greedy matches at 1, 2 (D run 3 only), and 5
    // (D run 6, U run 7)
    assert(run("AFTER MATCH SKIP TO NEXT ROW") ==
      Seq(("k1", 1L, 7.0, 12.0, 5L), ("k1", 2L, 7.0, 12.0, 5L), ("k1", 5L, 11.0, 13.0, 7L)))
  }

  test("A{m,} greedy run capped by WITHIN in event time") {
    Seq(("k", ts(0), 1L, 1.0), ("k", ts(1), 2L, 2.0), ("k", ts(2), 3L, 3.0),
      ("k", ts(3), 4L, 4.0), ("k", ts(200), 5L, 5.0))
      .toDF("k", "ts", "id", "v").createOrReplaceTempView("mr_within")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_within MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (S U{2,}) WITHIN INTERVAL '10' MINUTE
        |  DEFINE U AS U.v > PREV(U.v)
        |)""".stripMargin)
      .collect().map(r => (r.getAs[Long]("start_id"), r.getAs[Long]("end_id")))
      .sortBy(identity).toSeq
    // id5 rises but is 200 min out — the run is time-capped at id4; start id3
    // has only one U left inside the bound, below the {2,} floor
    assert(out == Seq((1L, 4L), (2L, 4L)), s"got $out")
  }

  test("ALL ROWS PER MATCH emits every matched row with CLASSIFIER(), final measures") {
    ticker.createOrReplaceTempView("mr_ticker")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES CLASSIFIER() AS var_name, FINAL LAST(U.v) AS final_top
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin)
    val rows = out.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("var_name"), r.getAs[Double]("final_top")))
      .sortBy(_._1).toSeq
    // the single skip-past match, row per matched row, in-match classifiers,
    // FINAL measure identical across the match's rows
    assert(rows == Seq((1L, "S", 12.0), (2L, "D", 12.0), (3L, "D", 12.0),
      (4L, "U", 12.0), (5L, "U", 12.0)), s"got $rows")
    // input columns ride along (the standard's ALL ROWS output shape)
    assert(out.columns.toSeq == Seq("k", "ts", "id", "v", "var_name", "final_top"))
  }

  test("ALL ROWS with a BOUNDED pattern routes through the scan and overlaps under SKIP TO NEXT") {
    Seq(("k", ts(0), 1L, "x"), ("k", ts(1), 2L, "x"), ("k", ts(2), 3L, "x"))
      .toDF("k", "ts", "id", "t").createOrReplaceTempView("mr_allrows_b")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_allrows_b MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES CLASSIFIER() AS c
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B)
        |  DEFINE A AS A.t = 'x', B AS B.t = 'x'
        |)""".stripMargin)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("c"))).sorted.toSeq
    // matches 1-2 and 2-3: row 2 appears twice (once per match, as B then A)
    assert(out == Seq((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B")), s"got $out")
  }

  test("A* optional prefix, zero-length match excluded, key boundaries sealed") {
    // PREV at a key head is NULL -> D can never claim the first row of a key;
    // k2 rises monotonically so S D* U+ must take the D*-empty branch
    ticker.createOrReplaceTempView("mr_ticker")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id, FIRST(D.v) AS first_down
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (S D* U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"), r.getAs[Long]("end_id"),
        Option(r.get(r.fieldIndex("first_down"))))).sortBy(t => (t._1, t._2)).toSeq
    // k1: same as D+ (greedy prefers the down-run); then cursor 6: S=6, D
    // empty, U=7 rises -> a second match the D+ form missed. k2: D* empty,
    // U run 9-10; the absent variable's measure is NULL
    assert(out == Seq(("k1", 1L, 5L, Some(8.0)), ("k1", 6L, 7L, None),
      ("k2", 8L, 10L, None)), s"got $out")
  }

  test("many keys through one partition: cursor state resets per key") {
    val df = (0 until 40).flatMap { k =>
      Seq((s"key$k", ts(0), k * 10L + 1L, "a"), (s"key$k", ts(1), k * 10L + 2L, "b"))
    }.toDF("k", "ts", "id", "t").repartition(1)
    val out = MatchRecognize.scan(df, Seq(col("k")), Seq(col("ts"), col("id")), "ts",
      Seq(MrTok("A", 1, None)), Seq(col("t") === "a"),
      withinMicros = None, skip = MatchRecognize.SkipPastLastRow, allRows = false, measureCols = Seq("id"))
    // exactly one length-1 match per key (the 'a'); the 'b' row never leaks
    // into a neighboring key's run
    assert(out.count() == 40)
    assert(out.select("__mr_len").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("aggregate MEASURES: count/sum/min/max/avg over a variable's run; empty run = 0/NULL") {
    ticker.createOrReplaceTempView("mr_ticker")
    // single skip-past match: D run (8,7), U run (9,12)
    val one = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES count(U.*) AS n_u, CAST(sum(U.v) AS DOUBLE) AS sum_u,
        |           min(D.v) AS min_d, max(U.v) AS max_u, avg(U.v) AS avg_u
        |  ONE ROW PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin).collect()
    assert(one.length == 1)
    val r = one.head
    assert(r.getAs[Long]("n_u") == 2L && r.getAs[Double]("sum_u") == 21.0 &&
      r.getAs[Double]("min_d") == 7.0 && r.getAs[Double]("max_u") == 12.0 &&
      r.getAs[Double]("avg_u") == 10.5, r.toString)

    // an empty optional run: count = 0, sum NULL (the standard's empty rules)
    val empty = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS sid, count(D.*) AS n_d, sum(D.v) AS sum_d
        |  ONE ROW PER MATCH
        |  PATTERN (S D*)
        |  DEFINE D AS D.v < PREV(D.v)
        |)""".stripMargin)
      .filter(col("k") === "k2").orderBy("sid").collect()
      .map(x => (x.getAs[Long]("sid"), x.getAs[Long]("n_d"), Option(x.get(x.fieldIndex("sum_d")))))
    // k2 rises monotonically: every row is a len-1 match with an empty D run
    assert(empty.toSeq == Seq((8L, 0L, None), (9L, 0L, None), (10L, 0L, None)),
      empty.mkString(","))
  }

  test("SKIP TO LAST <var> resumes AT the target row; self-loop targets are loud") {
    ticker.createOrReplaceTempView("mr_ticker")
    // skip-past found one match (rows 1-5); SKIP TO LAST U re-anchors AT the
    // peak row 5, which seeds a second match 5-7 (D run {6}, U run {7})
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO LAST U
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"), r.getAs[Long]("end_id")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(("k1", 1L, 5L), ("k1", 5L, 7L)), s"got $out")
    // bare SKIP TO <var> = SKIP TO LAST <var> (the standard's shorthand)
    val bare = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO U
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"), r.getAs[Long]("end_id")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(bare == out, "bare SKIP TO <var> must equal SKIP TO LAST <var>")
    // SKIP TO FIRST S re-anchors at the match's own start — the standard's
    // infinite-loop rule, failing loudly at execution
    val e = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO FIRST S
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v))""".stripMargin).collect())
    assert(e.getMessage.contains("re-anchor") ||
      Option(e.getCause).exists(_.getMessage.contains("re-anchor")), e.getMessage)
  }

  test("SKIP TO FIRST/LAST target resolution: repeated placements are structurally " +
    "refused, cross-alternative repeats and empty-run targets resolve per ISO (r15)") {
    // The r14 ADVICE low on skipAdvance noted that a variable occupying
    // MULTIPLE path entries would resolve the skip target as firstRunStart +
    // lastRunCount. That state is UNREACHABLE: a repeated variable is refused
    // in simple sequences (frontend) and per expanded branch (MrPattern), so
    // a winning path holds at most one entry per variable. The resolution now
    // scans entries by position anyway (firstRowOf/lastRowOf — defense for
    // when per-branch repeats ever become constructible); these cases pin the
    // refusals and every reachable skip-target shape.
    val dup = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(B.id) AS b_id ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO LAST A
        |  PATTERN (A B+ A)
        |  DEFINE A AS A.v = 1, B AS B.v = 2)""".stripMargin))
    assert(dup.getMessage.contains("duplicate pattern variable"), dup.getMessage)
    val dupBranch = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(C.id) AS c_id ONE ROW PER MATCH
        |  PATTERN ((A | B) C A)
        |  DEFINE A AS A.v = 1, B AS B.v = 5, C AS C.v = 2)""".stripMargin))
    assert(dupBranch.getMessage.contains("appears twice within one alternative"),
      dupBranch.getMessage)

    // a variable MAY repeat ACROSS alternatives: the skip target resolves on
    // the winning branch's single placement, whichever alternative won — the
    // path scan walks over other variables' entries to find it
    Seq(("k1", ts(0), 1L, 9.0), ("k1", ts(1), 2L, 1.0), ("k1", ts(2), 3L, 5.0),
      ("k1", ts(3), 4L, 1.0), ("k1", ts(4), 5L, 9.0), ("k1", ts(5), 6L, 1.0))
      .toDF("k", "ts", "id", "v").createOrReplaceTempView("mr_alt_rep")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_alt_rep MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(A.id) AS a_id, count(Y.*) AS n_y, MATCH_NUMBER() AS seq
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO LAST A
        |  PATTERN (Y A | B A)
        |  DEFINE Y AS Y.v = 9, A AS A.v = 1, B AS B.v = 5
        |)""".stripMargin)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("n_y"), r.getAs[Long]("seq")))
      .sortBy(_._3).toSeq
    // ids 1-2 win via Y A; resume AT id2 (no match there); ids 3-4 win via
    // the SECOND alternative B A; ids 5-6 via Y A again
    assert(out == Seq((2L, 1L, 1L), (4L, 0L, 2L), (6L, 1L, 3L)), s"got $out")

    // an empty-run skip target is the ISO runtime error (reachable: A* with
    // zero rows), identical before and after the r15 resolution change
    Seq(("k1", ts(0), 1L, 9.0), ("k1", ts(1), 2L, 5.0), ("k1", ts(2), 3L, 7.0))
      .toDF("k", "ts", "id", "v").createOrReplaceTempView("mr_rep_last0")
    val empt = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_rep_last0 MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(Y.id) AS y_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO LAST A
        |  PATTERN (Y B A*)
        |  DEFINE Y AS Y.v = 9, B AS B.v = 5, A AS A.v = 1
        |)""".stripMargin).collect())
    assert(empt.getMessage.contains("matched no rows") ||
      Option(empt.getCause).exists(_.getMessage.contains("matched no rows")), empt.getMessage)
  }

  test("MATCH_NUMBER(): 1-based per-key match ordinal, ONE ROW and ALL ROWS") {
    Seq(("a", ts(0), 1L, "x"), ("a", ts(1), 2L, "x"), ("a", ts(2), 3L, "y"),
      ("a", ts(3), 4L, "x"), ("b", ts(0), 5L, "x"))
      .toDF("k", "ts", "id", "t").createOrReplaceTempView("mr_mn")
    // skip-past runs of x: key a matches at rows 1-2 (seq 1) and 4 (seq 2);
    // key b restarts at 1 — the ordinal is per-key, deterministic under
    // parallelism (documented deviation from the standard's global counter)
    val one = SqlFrontend.execute(spark,
      """SELECT * FROM mr_mn MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(A.id) AS start_id, MATCH_NUMBER() AS mn
        |  ONE ROW PER MATCH
        |  PATTERN (A+)
        |  DEFINE A AS A.t = 'x')""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"), r.getAs[Long]("mn")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(one == Seq(("a", 1L, 1L), ("a", 4L, 2L), ("b", 5L, 1L)), s"got $one")
    val all = SqlFrontend.execute(spark,
      """SELECT * FROM mr_mn MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS c
        |  ALL ROWS PER MATCH
        |  PATTERN (A+)
        |  DEFINE A AS A.t = 'x')""".stripMargin)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("mn"))).sorted.toSeq
    assert(all == Seq((1L, 1L), (2L, 1L), (4L, 2L), (5L, 1L)), s"got $all")
  }

  test("plan guard: the scan shares ONE exchange with its DEFINE window") {
    // the DEFINE lag() window partitions/sorts on (key | key, order) and the
    // scan repartitions/sorts identically — Catalyst must collapse them into
    // a single exchange + a single sort (the q162 plan-guard precedent: if
    // this regresses, the operator pays a second full shuffle at 100 TB)
    ticker.createOrReplaceTempView("mr_ticker")
    val df = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS s_id, LAST(U.v) AS top
        |  ONE ROW PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v))""".stripMargin)
    // the exchange and sort sit below the MrScanExec node of the one plan,
    // and — the point of the InternalRow scan — no object boundary
    val plan = finalPlanOnly(df.queryExecution.executedPlan.toString)
    val scanAt = plan.indexOf("MrScanExec")
    val exchanges = "Exchange".r.findAllMatchIn(plan).toSeq
    val sorts = "\\bSort\\b".r.findAllMatchIn(plan).toSeq
    assert(scanAt >= 0, s"no MrScanExec node:\n${plan.take(3000)}")
    assert(exchanges.size == 1, s"expected ONE shared exchange, got ${exchanges.size}:\n${plan.take(3000)}")
    assert(sorts.size == 1, s"expected ONE shared sort, got ${sorts.size}:\n${plan.take(3000)}")
    assert((exchanges ++ sorts).forall(_.start > scanAt),
      s"the exchange and sort must sit below the scan:\n${plan.take(3000)}")
    assert(!plan.contains("DeserializeToObject"),
      s"MR scan re-grew the external-Row object boundary:\n${plan.take(3000)}")

    // cross-variable route: the PREV nav helper column is a SEPARATE
    // selectExpr window pass before the scan — CollapseWindow must merge it
    // into the DEFINE window (same spec), keeping one exchange + one sort +
    // one Window; a second of any would double the 100 TB shuffle bill
    val plan2 = finalPlanOnly(SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS s_id, LAST(U.v) AS top
        |  ONE ROW PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v),
        |         U AS U.v > PREV(U.v) AND U.v < FIRST(S.v))""".stripMargin)
      .queryExecution.executedPlan.toString)
    assert(plan2.contains("MrScanExec") &&
      "Exchange".r.findAllIn(plan2).size == 1 &&
      "\\bSort\\b".r.findAllIn(plan2).size == 1 &&
      "\\bWindow\\b".r.findAllIn(plan2).size == 1,
      s"cross-var route plan regressed:\n${plan2.take(3000)}")
  }

  test("a scan's output joins with itself (the scan node takes fresh ids per side)") {
    ticker.createOrReplaceTempView("mr_ticker")
    val m = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS s_id, LAST(U.v) AS top
        |  ONE ROW PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v))""".stripMargin)
    val pairs = m.as("a").join(m.as("b"), col("a.k") === col("b.k") && col("a.s_id") === col("b.s_id"))
      .select(col("a.s_id"), col("b.top")).collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val direct = m.select("s_id", "top").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(direct.nonEmpty && pairs == direct,
      s"self-join of the scan output: $pairs")
  }

  test("cross-variable DEFINE on the unbounded scan route: rise capped by the start row's value") {
    // U rises only while BELOW the anchor's value (FIRST(S.v) — a cross-
    // variable reference the scan previously refused): k1's up-run 9,12 is
    // cut at 9 (12 >= 10), so the match ends at id4, not q164's id5
    ticker.createOrReplaceTempView("mr_ticker")
    val rs = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(D.v) AS bottom,
        |           LAST(U.v) AS top, LAST(U.id) AS end_id
        |  ONE ROW PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v) AND U.v < FIRST(S.v)
        |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"),
        r.getAs[Double]("bottom"), r.getAs[Double]("top"), r.getAs[Long]("end_id"))).toSeq
    assert(rs == Seq(("k1", 1L, 7.0, 9.0, 4L)), s"got ${rs.mkString(", ")}")
  }

  test("self-FIRST DEFINE on the scan route: run capped relative to its own first row") {
    ticker.createOrReplaceTempView("mr_ticker")
    val rs = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id
        |  ONE ROW PER MATCH
        |  PATTERN (S U+)
        |  DEFINE U AS U.v > PREV(U.v) AND U.v < 1.5 * FIRST(U.v)
        |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"))).sortBy(t => (t._1, t._2)).toSeq
    // k1: 7→(9,12) capped at 1.5*9=13.5 keeps both, then 11→13; k2: 1→2 only
    // (3 fails 3 < 1.5*2); each FIRST(U.v) is the run's OWN first row
    assert(rs == Seq(("k1", 3L, 5L), ("k1", 6L, 7L), ("k2", 8L, 9L)), s"got ${rs.mkString(", ")}")
  }

  test("cross-variable DEFINE: scan route equals the bounded lead()-CASE on real events") {
    val events = core.Tables(spark, sfDir, "events")
    events.createOrReplaceTempView("mr_events_xvar")
    // bounded pattern so BOTH routes can run it; the MATCH_NUMBER() measure
    // forces the scan route without changing selection semantics
    def q(measuresExtra: String) = s"""
      SELECT * FROM mr_events_xvar MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(S.ts) AS start_ts, FIRST(S.event_id) AS start_tie,
                 LAST(U.ts) AS end_ts$measuresExtra
        ONE ROW PER MATCH
        PATTERN (S D{1,3} U{1,2})
        DEFINE D AS D.value < PREV(D.value),
               U AS U.value > PREV(U.value) AND U.value < FIRST(S.value)
      )"""
    val boundedPath = SqlFrontend.execute(spark, q(""))
      .select("user_id", "start_ts", "start_tie", "end_ts")
    val scanPath = SqlFrontend.execute(spark, q(", MATCH_NUMBER() AS mseq"))
      .select("user_id", "start_ts", "start_tie", "end_ts")
    assert(boundedPath.exceptAll(scanPath).isEmpty && scanPath.exceptAll(boundedPath).isEmpty,
      "cross-variable selection diverged between the CASE expansion and the NFA interpreter")
    assert(scanPath.count() > 0, "equivalence must not be vacuous")
  }

  test("Catalyst-fallback DEFINEs (ABS/CASE/BETWEEN): scan route equals the lead()-CASE route") {
    val events = core.Tables(spark, sfDir, "events")
    events.createOrReplaceTempView("mr_events_fb")
    // conditions the interpreter refuses (function calls, CASE, BETWEEN)
    // now compile through the Hybrid Catalyst fallback with the navigation
    // atoms (FIRST/PREV-rewritten refs) still interpreted; the bounded
    // route evaluates the same text natively — both must select identically
    def q(measuresExtra: String) = s"""
      SELECT * FROM mr_events_fb MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(S.ts) AS start_ts, FIRST(S.event_id) AS start_tie,
                 LAST(U.ts) AS end_ts$measuresExtra
        ONE ROW PER MATCH
        PATTERN (S D{1,3} U{1,2})
        DEFINE D AS D.value < PREV(D.value),
               U AS abs(U.value - PREV(U.value)) BETWEEN 0.000001 AND 1000000
                 AND (CASE WHEN U.value < FIRST(S.value) THEN U.value > PREV(U.value)
                      ELSE false END)
      )"""
    val boundedPath = SqlFrontend.execute(spark, q(""))
      .select("user_id", "start_ts", "start_tie", "end_ts")
    val scanPath = SqlFrontend.execute(spark, q(", MATCH_NUMBER() AS mseq"))
      .select("user_id", "start_ts", "start_tie", "end_ts")
    assert(boundedPath.exceptAll(scanPath).isEmpty && scanPath.exceptAll(boundedPath).isEmpty,
      "fallback selection diverged between the CASE expansion and the NFA + Hybrid")
    assert(scanPath.count() > 0, "equivalence must not be vacuous")
  }

  test("reluctant quantifiers: U+? takes the SHORTEST rising run, diverging from greedy") {
    ticker.createOrReplaceTempView("mr_ticker")
    def run(quant: String) = SqlFrontend.execute(spark,
      s"""SELECT * FROM mr_ticker MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ts, id
         |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id
         |  ONE ROW PER MATCH
         |  PATTERN (S U$quant)
         |  DEFINE U AS U.v > PREV(U.v)
         |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"))).sortBy(t => (t._1, t._2)).toSeq
    // greedy consumes whole rising runs; lazy stops after ONE rising row —
    // the freed rows let skip-past re-anchor differently on k2's long rise
    assert(run("+") == Seq(("k1", 3L, 5L), ("k1", 6L, 7L), ("k2", 8L, 10L)))
    assert(run("+?") == Seq(("k1", 3L, 4L), ("k1", 6L, 7L), ("k2", 8L, 9L)))
    // the {m,n}? form: lazy floor-2 takes exactly two rising rows
    assert(run("{1,2}?") == run("+?"), "with runs <= 2 long after lazy-1 anchoring, {1,2}? = +?")
  }

  test("reluctant bounded pattern: scan route equals the lead()-CASE route") {
    val events = core.Tables(spark, sfDir, "events")
    events.createOrReplaceTempView("mr_events_lazy")
    def q(extra: String) = s"""
      SELECT * FROM mr_events_lazy MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(S.ts) AS start_ts, FIRST(S.event_id) AS start_tie,
                 LAST(U.ts) AS end_ts$extra
        ONE ROW PER MATCH
        PATTERN (S U{1,3}?)
        DEFINE U AS U.value > PREV(U.value)
      )"""
    val casePath = SqlFrontend.execute(spark, q(""))
      .select("user_id", "start_ts", "start_tie", "end_ts")
    val scanPath = SqlFrontend.execute(spark, q(", MATCH_NUMBER() AS mseq"))
      .select("user_id", "start_ts", "start_tie", "end_ts")
    assert(casePath.exceptAll(scanPath).isEmpty && scanPath.exceptAll(casePath).isEmpty,
      "reluctant selection diverged between the CASE expansion and the NFA scan")
    assert(scanPath.count() > 0, "equivalence must not be vacuous")
    // and the lazy result genuinely differs from the greedy one on this data
    val greedy = SqlFrontend.execute(spark, q("").replace("U{1,3}?", "U{1,3}"))
      .select("user_id", "start_ts", "start_tie", "end_ts")
    assert(greedy.exceptAll(scanPath).count() > 0, "lazy must diverge from greedy here")
  }

  test("FIRST/LAST logical offsets in MEASURES: k-th occurrence, NULL past the run, both routes") {
    ticker.createOrReplaceTempView("mr_ticker")
    // scan route (unbounded): k1 match S@1 D=[8,7] U=[9,12]
    val rs = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, FIRST(U.v, 1) AS second_up,
        |           LAST(D.v, 1) AS before_bottom, LAST(U.v, 9) AS way_back
        |  ONE ROW PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin).collect()
    assert(rs.length == 1)
    val r = rs.head
    assert(r.getAs[Long]("start_id") == 1L)
    assert(r.getAs[Double]("second_up") == 12.0, "FIRST(U.v, 1) = the SECOND U row")
    assert(r.getAs[Double]("before_bottom") == 8.0, "LAST(D.v, 1) = one back from the last D")
    assert(r.isNullAt(r.fieldIndex("way_back")), "offset past the run is NULL")

    // bounded route (lead()-CASE) computes the same offsets
    val rb = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, FIRST(U.v, 1) AS second_up,
        |           LAST(D.v, 1) AS before_bottom, LAST(U.v, 9) AS way_back
        |  ONE ROW PER MATCH
        |  PATTERN (S D{1,3} U{1,3})
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin).collect()
    assert(rb.length == 1 && rb.head.getAs[Double]("second_up") == 12.0 &&
      rb.head.getAs[Double]("before_bottom") == 8.0 &&
      rb.head.isNullAt(rb.head.fieldIndex("way_back")),
      s"bounded-route offsets diverged: ${rb.mkString(", ")}")
  }

  test("self-LAST with a logical offset in DEFINE routes to the interpreter (run-relative read)") {
    ticker.createOrReplaceTempView("mr_ticker")
    // LAST(B.v, 1) = the run's PREVIOUS occurrence — NULL on the run's first
    // row, where the physical PREV() (the S row, runs are contiguous) takes
    // over. That composite is exactly the PREV() ticker idiom — the
    // equivalence is the assertion, and it mixes an interpreted offset atom
    // with a Catalyst-precomputed nav column in ONE condition.
    val viaOffset = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(B.id) AS end_id
        |  ONE ROW PER MATCH
        |  PATTERN (S B+)
        |  DEFINE B AS (LAST(B.v, 1) IS NULL AND B.v > PREV(B.v)) OR B.v > LAST(B.v, 1)
        |)""".stripMargin).select("k", "start_id", "end_id")
    val viaPrev = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(B.id) AS end_id
        |  ONE ROW PER MATCH
        |  PATTERN (S B+)
        |  DEFINE B AS B.v > PREV(B.v)
        |)""".stripMargin).select("k", "start_id", "end_id")
    assert(viaOffset.exceptAll(viaPrev).isEmpty && viaPrev.exceptAll(viaOffset).isEmpty &&
      viaOffset.count() > 0,
      "run-relative LAST(B.v, 1) must equal the PREV() ticker idiom on contiguous runs")
  }

  test("RUNNING measures under ALL ROWS: per-output-row view; RUNNING is the unmarked default") {
    ticker.createOrReplaceTempView("mr_ticker")
    val rs = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES CLASSIFIER() AS cls, LAST(D.v) AS run_bottom,
        |           RUNNING LAST(U.v) AS run_top, FINAL LAST(U.v) AS fin_top
        |  ALL ROWS PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin)
      .filter(col("k") === "k1").orderBy("id").collect()
    // k1 match rows 1..5 (S@1, D@2:8, D@3:7, U@4:9, U@5:12)
    assert(rs.length == 5)
    def d(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
    assert(rs.map(d(_, "run_bottom")).toSeq ==
      Seq(None, Some(8.0), Some(7.0), Some(7.0), Some(7.0)),
      "UNMARKED LAST(D.v) under ALL ROWS is RUNNING (the standard's default, r11): " +
        "NULL before D starts, then the last D row so far")
    assert(rs.map(d(_, "run_top")).toSeq ==
      Seq(None, None, None, Some(9.0), Some(12.0)),
      "RUNNING LAST(U.v): NULL until U starts, then grows per row")
    assert(rs.forall(_.getAs[Double]("fin_top") == 12.0),
      "FINAL opts a measure out of the running default")
    // RUNNING aggregates (r11 — the r10 refusal closed): per-output-row
    // prefix accumulators — cnt 0 / NULL sum before the run begins, equal
    // to the FINAL aggregate on the match's last row
    val ra = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES count(D.*) AS d_seen,
        |           RUNNING CAST(sum(U.v) AS DOUBLE) AS up_sum,
        |           RUNNING min(D.v) AS run_min,
        |           FINAL count(U.*) AS fin_up
        |  ALL ROWS PER MATCH
        |  PATTERN (S D+ U+)
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
        |)""".stripMargin)
      .filter(col("k") === "k1").orderBy("id").collect()
    assert(ra.length == 5)
    assert(ra.map(_.getAs[Long]("d_seen")).toSeq == Seq(0L, 1L, 2L, 2L, 2L),
      "UNMARKED count(D.*) under ALL ROWS is RUNNING (the standard's default): " +
        "0 before D, grows through D's run, final after")
    assert(ra.map(d(_, "up_sum")).toSeq ==
      Seq(None, None, None, Some(9.0), Some(21.0)),
      "RUNNING sum(U.v): NULL until U starts, prefix-accumulates per row")
    assert(ra.map(d(_, "run_min")).toSeq ==
      Seq(None, Some(8.0), Some(7.0), Some(7.0), Some(7.0)),
      "RUNNING min(D.v): per-prefix minimum")
    assert(ra.forall(_.getAs[Long]("fin_up") == 2L),
      "FINAL opts an aggregate out of the running default")
    // RUNNING == FINAL on the match's last row
    assert(d(ra.last, "up_sum").contains(9.0 + 12.0))
  }

  test("r10 features compose: cross-var cap + WITHIN + SKIP TO LAST + MATCH_NUMBER + aggregates") {
    ticker.createOrReplaceTempView("mr_ticker")
    val rs = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(S.id) AS start_id, LAST(U.id) AS end_id,
        |           MATCH_NUMBER() AS seq, count(U.*) AS n_up
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO LAST U
        |  PATTERN (S D+ U+) WITHIN INTERVAL '1' HOUR
        |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v) AND U.v < FIRST(S.v)
        |)""".stripMargin)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"), r.getAs[Long]("seq"), r.getAs[Long]("n_up"))).toSeq
    // the capped match 1..4; resuming AT id4 (SKIP TO LAST U) re-anchors but
    // the cap kills every later candidate (hand-traced), so exactly one
    // match with the interpreted predicate, the within bound, the targeted
    // skip, the ordinal, and the per-run aggregate all live at once
    assert(rs == Seq(("k1", 1L, 4L, 1L, 1L)), s"got ${rs.mkString(", ")}")
  }

  test("interpreter surface limits stay loud; empty-run references are NULL (no match)") {
    ticker.createOrReplaceTempView("mr_ticker")
    // a function inside a cross-variable condition rides the Catalyst
    // fallback since r11 (parity spec above); the remaining genuine limit —
    // non-determinism — stays a plan-time error on BOTH paths
    SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id MEASURES FIRST(S.id) AS s ONE ROW PER MATCH
        |  PATTERN (S U+) DEFINE U AS abs(U.v) > FIRST(S.v))""".stripMargin).collect()
    val err = intercept[RuntimeException](SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id MEASURES FIRST(S.id) AS s ONE ROW PER MATCH
        |  PATTERN (S U+) DEFINE U AS rand() > 0.5 AND U.v > FIRST(S.v))""".stripMargin))
    assert(err.getMessage.contains("deterministic"), err.getMessage)
    // B{0,} matched empty: C's reference to LAST(B.v) is NULL → C can never
    // classify, exactly the bounded path's forward/absent-reference rule
    val rs = SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id
        |  MEASURES FIRST(A.id) AS a_id, LAST(C.id) AS c_id ONE ROW PER MATCH
        |  PATTERN (A B{0,} C)
        |  DEFINE B AS B.v < PREV(B.v), C AS C.v > LAST(B.v)
        |)""".stripMargin).collect()
    // every match must have a non-empty B (k1: A@1 B down to 7 C 9>7): the
    // B-empty anchors (k2 rising rows) yield NO match despite C rows existing
    assert(rs.nonEmpty && rs.forall(_.getAs[String]("k") == "k1"),
      s"empty-B anchors must not match: ${rs.mkString(", ")}")
  }

  test("any __mr_-prefixed input column is rejected loudly (not just the helper names)") {
    // __mr_len is an OUTPUT name the scan appends — before the prefix guard it
    // slipped past the enumerated reserved set and produced a duplicate-name
    // output schema silently
    val poisoned = ticker.withColumn("__mr_len", lit(1L))
    val err = intercept[IllegalArgumentException] {
      MatchRecognize.scan(poisoned, Seq(col("k")), Seq(col("ts"), col("id")), "ts",
        Seq(MrTok("U", 1, None)), Seq(col("v") > 0), None,
        MatchRecognize.SkipPastLastRow, allRows = false, measureCols = Seq("v"))
    }
    assert(err.getMessage.contains("__mr_"), err.getMessage)
  }

  test("min/max aggregate MEASURES over a non-orderable column fails at plan time") {
    // binary doesn't implement Comparable — before the guard this was a raw
    // mid-job ClassCastException from the cursor's Comparable cast
    val withBin = ticker.withColumn("payload", encode(col("k"), "UTF-8"))
    val err = intercept[IllegalArgumentException] {
      MatchRecognize.scan(withBin, Seq(col("k")), Seq(col("ts"), col("id")), "ts",
        Seq(MrTok("U", 1, None)), Seq(col("v") > 0), None,
        MatchRecognize.SkipPastLastRow, allRows = false, measureCols = Seq.empty,
        aggSpecs = Seq(Seq(("max", "payload"))))
    }
    assert(err.getMessage.contains("orderable"), err.getMessage)
    // and SUM over a string is equally a plan-time error now
    val err2 = intercept[IllegalArgumentException] {
      MatchRecognize.scan(ticker, Seq(col("k")), Seq(col("ts"), col("id")), "ts",
        Seq(MrTok("U", 1, None)), Seq(col("v") > 0), None,
        MatchRecognize.SkipPastLastRow, allRows = false, measureCols = Seq.empty,
        aggSpecs = Seq(Seq(("sum", "k"))))
    }
    assert(err2.getMessage.contains("numeric"), err2.getMessage)
  }

  test("SQL route drops its ephemeral scan views after the statement") {
    ticker.createOrReplaceTempView("mr_ticker")
    SqlFrontend.execute(spark,
      """SELECT * FROM mr_ticker MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts, id MEASURES FIRST(S.id) AS s ONE ROW PER MATCH
        |  PATTERN (S U+) DEFINE U AS U.v > PREV(U.v))""".stripMargin).collect()
    val leftover = spark.catalog.listTables().collect()
      .map(_.name).filter(n => n.startsWith("__graft_mr_") || n.startsWith("__graft_llmops_"))
    assert(leftover.isEmpty, s"ephemeral rewrite views leaked: ${leftover.mkString(", ")}")
  }

  // WITHIN INTERVAL '0' used to mean three things: no bound (standing),
  // single-instant matches only (batch bounded route), an error (batch scan)
  private def zeroWithin(pattern: String): IllegalArgumentException = {
    ticker.createOrReplaceTempView("mr_ticker")
    intercept[IllegalArgumentException](SqlFrontend.execute(spark,
      s"""SELECT * FROM mr_ticker MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ts, id MEASURES FIRST(S.id) AS s ONE ROW PER MATCH
         |  PATTERN ($pattern) WITHIN INTERVAL '0' MINUTE
         |  DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v))""".stripMargin).collect())
  }

  test("WITHIN INTERVAL '0' is refused on the bounded route") {
    val e = zeroWithin("S D U")
    assert(e.getMessage.contains("WITHIN bound must be positive"), e.getMessage)
  }

  test("WITHIN INTERVAL '0' is refused on the scan route") {
    val e = zeroWithin("S D+ U+")
    assert(e.getMessage.contains("WITHIN bound must be positive"), e.getMessage)
  }
}
