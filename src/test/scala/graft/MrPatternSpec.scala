package graft

import org.apache.spark.sql.functions._
import graft.operators.MrPattern
import graft.sql.SqlFrontend

/** PATTERN alternation / grouping / PERMUTE / exclusion and SUBSET union
  * variables (r11 — none of these exist in Flink's MATCH_RECOGNIZE; ISO
  * 9075-2 row-pattern semantics): MrPattern's branch expansion, the scan's
  * branch-preference matching, and the SQL route end-to-end.
  */
class MrPatternSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  // -------------------------------------------------------------- expansion

  test("alternation expands to branches in written (preference) order") {
    val (bs, names) = MrPattern.expand("A B | C")
    assert(names == Seq("A", "B", "C"))
    assert(bs.map(_.map(_.name)) == Seq(Vector("A", "B"), Vector("C")))
  }

  test("grouping distributes over the following sequence") {
    val (bs, _) = MrPattern.expand("(A | B) C")
    assert(bs.map(_.map(_.name)) == Seq(Vector("A", "C"), Vector("B", "C")))
  }

  test("PERMUTE expands to the lexicographic alternation of permutations") {
    val (bs, names) = MrPattern.expand("PERMUTE(A, B, C)")
    assert(names == Seq("A", "B", "C"))
    assert(bs.size == 6)
    assert(bs.head.map(_.name) == Vector("A", "B", "C"), "first permutation = listed order")
    assert(bs.last.map(_.name) == Vector("C", "B", "A"), "last = reversed (lexicographic)")
    assert(bs.map(_.map(_.name)).distinct.size == 6)
  }

  test("optional group: greedy prefers presence, reluctant prefers absence") {
    val (g, _) = MrPattern.expand("A (B)? C")
    assert(g.map(_.map(_.name)) == Seq(Vector("A", "B", "C"), Vector("A", "C")))
    val (r, _) = MrPattern.expand("A (B)?? C")
    assert(r.map(_.map(_.name)) == Seq(Vector("A", "C"), Vector("A", "B", "C")))
  }

  test("variable quantifiers survive expansion; exclusion marks tokens") {
    val (bs, _) = MrPattern.expand("S {- D+ -} U{2,5}")
    assert(bs.size == 1)
    val b = bs.head
    assert(b.map(_.name) == Vector("S", "D", "U"))
    assert(b(1).excluded && !b(0).excluded && !b(2).excluded)
    assert(b(1).lo == 1 && b(1).hi.isEmpty)
    assert(b(2).lo == 2 && b(2).hi.contains(5))
  }

  test("expansion refusals are loud: group repetition, per-branch duplicates, caps") {
    val e1 = intercept[RuntimeException](MrPattern.expand("(A B)+"))
    assert(e1.getMessage.contains("rewrite the repetition"))
    val e2 = intercept[IllegalArgumentException](MrPattern.expand("A B | A A"))
    assert(e2.getMessage.contains("one occurrence per branch"))
    val e3 = intercept[IllegalArgumentException](MrPattern.expand("PERMUTE(A, B, C, D, E, F)"))
    assert(e3.getMessage.contains("cap is 5"))
    // a variable may repeat ACROSS alternatives
    val (ok, _) = MrPattern.expand("A B | B A")
    assert(ok.map(_.map(_.name)) == Seq(Vector("A", "B"), Vector("B", "A")))
  }

  // --------------------------------------------------- SQL route: alternation

  // one key; event kinds chosen so alternatives OVERLAP (both X and Y hold on
  // row 2): leftmost-alternative preference is observable, not assumed
  private lazy val alt = Seq(
    ("k1", ts(0), 1L, "a", 5.0), ("k1", ts(1), 2L, "both", 6.0),
    ("k1", ts(2), 3L, "a", 7.0), ("k1", ts(3), 4L, "y", 8.0),
    ("k1", ts(4), 5L, "z", 9.0))
    .toDF("k", "ts", "id", "kind", "v")

  test("alternation: leftmost alternative wins when both match (SQL route)") {
    alt.createOrReplaceTempView("mr_alt")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_alt MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(A.id) AS a_id, LAST(X.id) AS x_id, LAST(Y.id) AS y_id
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A (X | Y))
           DEFINE A AS A.kind = 'a',
                  X AS X.kind IN ('both', 'x'),
                  Y AS Y.kind IN ('both', 'y')
         )""").select("a_id", "x_id", "y_id").as[(Long, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    // row 2 ('both') satisfies X and Y: X (leftmost) must win; row 4 only Y
    assert(out.toSeq == Seq((1L, Some(2L), None), (3L, None, Some(4L))))
  }

  test("CLASSIFIER under ONE ROW follows the matched BRANCH's last variable (r14)") {
    // ISO ONE-ROW CLASSIFIER = the last matched row's label; under
    // alternation that is the winning branch's variable, exercising the
    // deepest-placed-path-entry read on the composite walk
    alt.createOrReplaceTempView("mr_alt_cls")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_alt_cls MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(A.id) AS a_id, CLASSIFIER() AS lbl
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A (X | Y))
           DEFINE A AS A.kind = 'a',
                  X AS X.kind IN ('both', 'x'),
                  Y AS Y.kind IN ('both', 'y')
         )""").select("a_id", "lbl").as[(Long, String)].collect().sortBy(_._1)
    // row 2 satisfies both: X (leftmost) wins and labels the match; row 4
    // matches only Y
    assert(out.toSeq == Seq((1L, "X"), (3L, "Y")))
  }

  test("PERMUTE matches both orders; measures bind per variable (SQL route)") {
    val df = Seq(
      ("k1", ts(0), 1L, "v", 1.0), ("k1", ts(1), 2L, "c", 2.0), ("k1", ts(2), 3L, "p", 3.0),
      ("k2", ts(0), 4L, "v", 1.0), ("k2", ts(1), 5L, "p", 2.0), ("k2", ts(2), 6L, "c", 3.0),
      ("k3", ts(0), 7L, "v", 1.0), ("k3", ts(1), 8L, "c", 2.0), ("k3", ts(2), 9L, "c", 3.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_perm")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_perm MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(V.id) AS v_id, LAST(C.id) AS c_id, LAST(P.id) AS p_id
           ONE ROW PER MATCH
           PATTERN (V PERMUTE(C, P))
           DEFINE V AS V.kind = 'v', C AS C.kind = 'c', P AS P.kind = 'p'
         )""").select($"k", $"c_id", $"p_id").as[(String, Long, Long)].collect().sortBy(_._1)
    // k1: c then p; k2: p then c (the other permutation); k3: no p — no match
    assert(out.toSeq == Seq(("k1", 2L, 3L), ("k2", 6L, 5L)))
  }

  test("composite pattern + WITHIN: balanced-paren extraction keeps the bound") {
    val df = Seq(
      ("k1", ts(0), 1L, "a", 1.0), ("k1", ts(1), 2L, "b", 2.0),
      ("k1", ts(500), 3L, "a", 3.0), ("k1", ts(1000), 4L, "b", 4.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_within")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_within MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(A.id) AS a_id
           ONE ROW PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A (B | C)) WITHIN INTERVAL '1' HOUR
           DEFINE A AS A.kind = 'a', B AS B.kind = 'b', C AS C.kind = 'c'
         )""").select("a_id").as[Long].collect().toSeq
    // the id-3 candidate's successor is 500 minutes later — WITHIN kills it
    assert(out == Seq(1L))
  }

  test("cross-variable DEFINE under alternation uses branch placement, not global order") {
    // PATTERN (A B | B A): in branch 2, B precedes A, so DEFINE A's LAST(B.v)
    // reads B's placed run; in branch 1 nothing precedes B and its DEFINE's
    // LAST(A.v) sees A. Global variable order would get branch 2 wrong.
    val df = Seq(
      // key r1: b(5) then a(7) — only branch [B A] fits (A needs a B before it)
      ("r1", ts(0), 1L, "b", 5.0), ("r1", ts(1), 2L, "a", 7.0),
      // key r2: a(7) then b(9) — branch [A B] fits (B needs value > A's)
      ("r2", ts(0), 3L, "a", 7.0), ("r2", ts(1), 4L, "b", 9.0),
      // key r3: b(5) then a(4) — branch 2's cross check (A.v > B.v) fails
      ("r3", ts(0), 5L, "b", 5.0), ("r3", ts(1), 6L, "a", 4.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_xbr")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_xbr MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES LAST(A.id) AS a_id, LAST(B.id) AS b_id
           ONE ROW PER MATCH
           PATTERN (A B | B A)
           DEFINE A AS A.kind = 'a' AND (LAST(B.v) IS NULL OR A.v > LAST(B.v)),
                  B AS B.kind = 'b' AND (LAST(A.v) IS NULL OR B.v > LAST(A.v))
         )""").select($"k", $"a_id", $"b_id").as[(String, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("r1", 2L, 1L), ("r2", 3L, 4L)))
  }

  // ------------------------------------------------------------------ SUBSET

  test("SUBSET union variable: FIRST/LAST span member runs, aggregates pool them") {
    val df = Seq(
      ("k1", ts(0), 1L, "s", 10.0), ("k1", ts(1), 2L, "d", 8.0), ("k1", ts(2), 3L, "d", 7.0),
      ("k1", ts(3), 4L, "u", 9.0), ("k1", ts(4), 5L, "u", 12.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_sub")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_sub MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(M.id) AS move_first, LAST(M.id) AS move_last,
                    count(M.*) AS move_rows, sum(M.v) AS move_sum,
                    min(M.v) AS move_min, max(M.v) AS move_max
           ONE ROW PER MATCH
           PATTERN (S D+ U+)
           SUBSET M = (D, U)
           DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
         )""")
      .selectExpr("move_first", "move_last", "move_rows", "CAST(move_sum AS DOUBLE)",
        "move_min", "move_max")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    assert(out.toSeq == Seq((2L, 5L, 4L, 36.0, 7.0, 12.0)))
  }

  test("SUBSET misuse is loud: unknown member, DEFINE reference, RUNNING/offset measures") {
    alt.createOrReplaceTempView("mr_sub_err")
    def run(sql: String) = intercept[Exception](SqlFrontend.execute(spark, sql))
    val base = """SELECT * FROM mr_sub_err MATCH_RECOGNIZE (
        PARTITION BY k ORDER BY ts, id
        MEASURES %s
        %s PER MATCH
        PATTERN (A X) %s
        DEFINE %s
      )"""
    assert(run(base.format("FIRST(U.id) AS f", "ONE ROW", "SUBSET U = (A, Z)",
      "A AS A.kind = 'a', X AS X.kind = 'x'")).getMessage.contains("unknown pattern variable"))
    assert(run(base.format("FIRST(U.id, 2) AS f", "ONE ROW", "SUBSET U = (A, X)",
      "A AS A.kind = 'a', X AS X.kind = 'x'")).getMessage.contains("SUBSET"))
  }

  test("SUBSET in DEFINE (r11): union FIRST/LAST reads over placed member runs") {
    // M = (S, D): while defining U, FIRST(M.v) = the S row's value (S places
    // first in the union) — the rise is capped by 2x the union's first value
    val df = Seq(
      ("k1", ts(0), 1L, 10.0), ("k1", ts(1), 2L, 8.0), ("k1", ts(2), 3L, 7.0),
      ("k1", ts(3), 4L, 9.0), ("k1", ts(4), 5L, 12.0), ("k1", ts(5), 6L, 25.0))
      .toDF("k", "ts", "id", "v")
    df.createOrReplaceTempView("mr_sub_def")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_sub_def MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(S.id) AS s_id, LAST(U.id) AS u_last, LAST(U.v) AS u_top,
                    LAST(M.v) AS m_last
           ONE ROW PER MATCH
           PATTERN (S D+ U+)
           SUBSET M = (S, D)
           DEFINE D AS D.v < PREV(D.v),
                  U AS U.v > PREV(U.v) AND U.v < 2 * FIRST(M.v)
         )""").select($"s_id", $"u_last", $"u_top", $"m_last")
      .as[(Long, Long, Double, Double)].collect()
    // 2 * FIRST(M.v) = 20: the rise 9, 12 is kept, 25 is cut;
    // LAST(M.v) in MEASURES (FINAL) = the last D row's value, 7
    assert(out.toSeq == Seq((1L, 5L, 12.0, 7.0)), out.mkString(";"))
  }

  test("SUBSET in DEFINE: running self-membership — the union includes the self run's prefix") {
    // M = (D, U): while classifying a row as U, the union is D's placed run
    // PLUS U's running prefix INCLUDING the candidate (standard RUNNING:
    // bare LAST = the current row) — so the union's previous row is the
    // offset form LAST(M.v, 1). Each rise must exceed it by more than 1.
    val df = Seq(
      ("k1", ts(0), 1L, 10.0), ("k1", ts(1), 2L, 7.0),
      ("k1", ts(2), 3L, 9.0), ("k1", ts(3), 4L, 10.5), ("k1", ts(4), 5L, 11.0))
      .toDF("k", "ts", "id", "v")
    df.createOrReplaceTempView("mr_sub_self")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_sub_self MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES LAST(U.id) AS u_last, count(U.*) AS n_up
           ONE ROW PER MATCH
           PATTERN (S D+ U+)
           SUBSET M = (D, U)
           DEFINE D AS D.v < PREV(D.v),
                  U AS U.v > LAST(M.v, 1) + 1
         )""").select($"u_last", $"n_up").as[(Long, Long)].collect()
    // U candidates: 9 > 7+1 yes (union = D's 7, then the candidate);
    // 10.5 > 9+1 yes (the union's previous row is the placed U prefix's 9);
    // 11 > 10.5+1 NO — the run ends at id 4, two U rows
    assert(out.toSeq == Seq((4L, 2L)), out.mkString(";"))
  }

  // --------------------------------------------------------------- exclusion

  test("exclusion {- D+ -} matches but does not emit (ALL ROWS); ONE ROW refuses") {
    val df = Seq(
      ("k1", ts(0), 1L, 10.0), ("k1", ts(1), 2L, 8.0), ("k1", ts(2), 3L, 7.0),
      ("k1", ts(3), 4L, 9.0), ("k1", ts(4), 5L, 12.0))
      .toDF("k", "ts", "id", "v")
    df.createOrReplaceTempView("mr_excl")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_excl MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES CLASSIFIER() AS cls, FINAL count(D.*) AS n_down,
                    count(D.*) AS d_seen
           ALL ROWS PER MATCH
           PATTERN (S {- D+ -} U+)
           DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
         )""").select($"id", $"cls", $"n_down", $"d_seen")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // the match covers rows 1..5; D rows (2, 3) are matched — FINAL n_down =
    // 2, and skip-past consumed them — but not emitted. The unmarked measure
    // is RUNNING (the standard's ALL-ROWS default): 0 at S, and the EXCLUDED
    // D rows still fold into the accumulator before the first emitted U row.
    assert(out.toSeq == Seq((1L, "S", 2L, 0L), (4L, "U", 2L, 2L), (5L, "U", 2L, 2L)))
    val err = intercept[Exception](SqlFrontend.execute(spark,
      """SELECT * FROM mr_excl MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(S.id) AS s_id
           ONE ROW PER MATCH
           PATTERN (S {- D+ -} U+)
           DEFINE D AS D.v < PREV(D.v), U AS U.v > PREV(U.v)
         )"""))
    assert(err.getMessage.contains("ALL ROWS"))
  }

  // ------------------------------------------------- scan-level invariants

  test("plan guard: composite patterns keep the ONE exchange + ONE sort scan shape") {
    // branch expansion happens at PLAN time; the physical scan is the same
    // single MrScanExec over the shared (key, order) sort — alternation
    // must not add an exchange, a sort, or a second Window at 100 TB
    alt.createOrReplaceTempView("mr_plan_alt")
    val df = SqlFrontend.execute(spark,
      """SELECT * FROM mr_plan_alt MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES FIRST(A.id) AS a_id, LAST(X.v) AS xv, LAST(Y.v) AS yv
           ONE ROW PER MATCH
           PATTERN (A (X | Y))
           DEFINE A AS A.kind = 'a', X AS X.kind = 'x', Y AS Y.v > PREV(Y.v)
         )""")
    // the exchange and sort sit below the MrScanExec node of the one plan
    val plan = finalPlanOnly(df.queryExecution.executedPlan.toString)
    val scanAt = plan.indexOf("MrScanExec")
    assert(scanAt >= 0, s"no MrScanExec node:\n${plan.take(3000)}")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"composite pattern added an exchange:\n${plan.take(3000)}")
    assert("\\bSort\\b".r.findAllIn(plan).size == 1,
      s"composite pattern added a sort:\n${plan.take(3000)}")
    assert(plan.indexOf("Exchange") > scanAt &&
      "\\bSort\\b".r.findFirstMatchIn(plan).exists(_.start > scanAt) &&
      !plan.contains("DeserializeToObject"),
      s"plan regressed:\n${plan.take(3000)}")
  }

  // ---------------------------------------- ISO choice-point order (r12)

  test("ISO preferment: a greedy quantifier BEFORE an alternation dominates it") {
    // r12 (ADVICE r11 medium): PATTERN (A+ (B | C)) over rows where A can
    // extend only in front of C — the standard decides choice points in
    // left-to-right encounter order, so the greedy A+ (encountered first)
    // prefers the longer 'A A C' over 'A B'. Branch-major expansion used to
    // pick 'A B' (all of branch [A+ B] before any of [A+ C]).
    // kinds: a, a|b (both A and B hold), c — A+ greedy takes both a-rows,
    // leaving only the c row for the choice.
    val df = Seq(
      ("k1", ts(0), 1L, "a", 0.0), ("k1", ts(1), 2L, "ab", 0.0), ("k1", ts(2), 3L, "c", 0.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_iso1")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_iso1 MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES count(A.*) AS n_a, LAST(B.id) AS b_id, LAST(C.id) AS c_id
           ONE ROW PER MATCH
           PATTERN (A+ (B | C))
           DEFINE A AS A.kind IN ('a', 'ab'),
                  B AS B.kind IN ('ab', 'b'),
                  C AS C.kind = 'c'
         )""").select($"n_a", $"b_id", $"c_id").as[(Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(out == Seq((2L, None, Some(3L))),
      s"greedy A+ must dominate the later (B | C) choice — expected 'A A C', got $out")
  }

  test("ISO preferment: an explicit top-level alternation dominates its quantifiers") {
    // the shape branch expansion could not distinguish from the previous
    // test: PATTERN (A+ B | A+ C) writes the choice point FIRST, so
    // alternative 1 is explored fully (its greedy A+ included) before
    // alternative 2 — 'A B' wins over 'A A C' here, per the standard.
    val df = Seq(
      ("k1", ts(0), 1L, "a", 0.0), ("k1", ts(1), 2L, "ab", 0.0), ("k1", ts(2), 3L, "c", 0.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_iso2")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_iso2 MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES count(A.*) AS n_a, LAST(B.id) AS b_id, LAST(C.id) AS c_id
           ONE ROW PER MATCH
           PATTERN (A+ B | A+ C)
           DEFINE A AS A.kind IN ('a', 'ab'),
                  B AS B.kind IN ('ab', 'b'),
                  C AS C.kind = 'c'
         )""").select($"n_a", $"b_id", $"c_id").as[(Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(out == Seq((1L, Some(2L), None)),
      s"a written-first alternation must dominate its inner quantifiers — expected 'A B', got $out")
  }

  test("ISO preferment: reluctant quantifier before a choice point stays shortest-first") {
    // A*? (B | C): the reluctant quantifier (encountered first) prefers the
    // SHORTEST run, so with both B and C viable at the start row the match
    // is the bare choice — and B (leftmost) wins it.
    val df = Seq(("k1", ts(0), 1L, "ab", 0.0), ("k1", ts(1), 2L, "c", 0.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_iso3")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_iso3 MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES count(A.*) AS n_a, LAST(B.id) AS b_id, LAST(C.id) AS c_id
           ONE ROW PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (A*? (B | C))
           DEFINE A AS A.kind IN ('a', 'ab'),
                  B AS B.kind IN ('ab', 'b'),
                  C AS C.kind = 'c'
         )""").select($"n_a", $"b_id", $"c_id").as[(Long, Option[Long], Option[Long])]
      .collect().sortBy(_._3).toSeq
    // match 1: zero A rows, B takes row 1; match 2: zero A rows, C takes row 2
    assert(out == Seq((0L, Some(1L), None), (0L, None, Some(2L))), out.toString)
  }

  test("streaming value route agrees with the batch scan on quantifier-before-choice") {
    // the streaming program walk must make the same ISO selection: A+ (B|C)
    // with A extensible only in front of C → 'A A C' once the c row arrives
    import graft.streaming.StreamingMatchRecognize
    import graft.operators.{MatchRecognize, MrPattern}
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val enc =
      org.apache.spark.sql.Encoders.product[(String, java.sql.Timestamp, Long, String, Double)]
    val mem = MemoryStream[(String, java.sql.Timestamp, Long, String, Double)]
    val (bs, names) = MrPattern.expand("A+ (B | C)")
    val nidx = names.zipWithIndex.toMap
    val branches = bs.map(_.map(t =>
      MatchRecognize.BTok(nidx(t.name), t.lo, t.hi, t.reluctant)).toIndexedSeq)
    val defs = Seq(Some("A.kind IN ('a', 'ab')"), Some("B.kind IN ('ab', 'b')"),
      Some("C.kind = 'c'"))
    val matches = StreamingMatchRecognize.applyPattern(
      mem.toDF().toDF("u", "ts", "id", "kind", "v"), "u",
      condCols = Seq("kind", "v"), tsCol = "ts", tieCol = "id",
      varNames = names, branches = branches, defs = defs,
      withinMicros = 3600L * 1000000L,
      aggMeasures = Seq(StreamingMatchRecognize.MrAggMeasure("cnt", nidx("A"), "*", "n_a")),
      measures = Seq(StreamingMatchRecognize.MrMeasure(isFirst = false, nidx("C"), "v", "c_v")),
      tree = Some(MrPattern.parse("A+ (B | C)")))
    val q = matches.writeStream.format("memory").queryName("mriso_sink")
      .outputMode("append").start()
    try {
      mem.addData(("k1", ts(0), 1L, "a", 1.0), ("k1", ts(1), 2L, "ab", 2.0))
      q.processAllAvailable()
      // the greedy A+ is still extensible — nothing decides yet
      assert(spark.table("mriso_sink").isEmpty)
      mem.addData(("k1", ts(2), 3L, "c", 9.0), ("k1", ts(61), 4L, "z", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mriso_sink").select("n_a", "c_v", "matched_len")
      .as[(Long, Option[Double], Int)].collect().toSeq
    assert(got == Seq((2L, Some(9.0), 3)),
      s"streaming must select 'A A C' like the batch scan (ISO), got $got")
  }

  test("alternation preference is positional: a later-starting branch-1 match never " +
    "outranks an earlier branch-2 match") {
    // at cursor row 1 only branch C (id 1-2) matches; branch (A B) would match
    // at rows 3-4. The scan tries the cursor position first: C wins rows 1-2,
    // then A B matches at 3-4 — both emit under skip-past.
    val df = Seq(
      ("k1", ts(0), 1L, "c1", 0.0), ("k1", ts(1), 2L, "c2", 0.0),
      ("k1", ts(2), 3L, "a", 0.0), ("k1", ts(3), 4L, "b", 0.0))
      .toDF("k", "ts", "id", "kind", "v")
    df.createOrReplaceTempView("mr_pos")
    val out = SqlFrontend.execute(spark,
      """SELECT * FROM mr_pos MATCH_RECOGNIZE (
           PARTITION BY k ORDER BY ts, id
           MEASURES MATCH_NUMBER() AS seq, LAST(A.id) AS a_id, LAST(C2.id) AS c2_id
           ONE ROW PER MATCH
           PATTERN (A B | C1 C2)
           DEFINE A AS A.kind = 'a', B AS B.kind = 'b',
                  C1 AS C1.kind = 'c1', C2 AS C2.kind = 'c2'
         )""").select($"seq", $"a_id", $"c2_id").as[(Long, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, None, Some(2L)), (2L, Some(3L), None)))
  }
}
