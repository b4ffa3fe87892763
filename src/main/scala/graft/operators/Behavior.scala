package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over event logs: ordered funnels and cohort
  * retention. Both are user-keyed — every stage shuffles on the SAME user
  * key, so co-partitioning carries through the plan and each step is a
  * hash-agg or co-located join, never a replication.
  */
object Behavior {

  /** Ordered funnel: for each user, the earliest time of each stage such that
    * stage i+1 STRICTLY follows the user's committed stage-i time (the
    * classic "view → click → purchase within ordering" funnel). One row per
    * user who reached stage 1; later-stage columns are null until reached;
    * `stage` names the furthest stage reached.
    *
    * Each stage is: filter to the stage's events (pushed to the scan), join
    * to the previous stage's per-user commit times, keep strictly-later
    * events, min per user. All joins/aggs key on `userCol` — at 100 TB this
    * is |stages| user-keyed hash-aggs over ever-shrinking inputs, no
    * replication anywhere.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
             stages: Seq[String], maxGapSeconds: Long = 0L): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got $stages")
    require(stages.distinct.size == stages.size,
      s"stage names must be distinct (they name the <stage>_ts columns), got $stages")
    require(maxGapSeconds >= 0 && maxGapSeconds <= Long.MaxValue / 1000000L,
      s"maxGapSeconds must be in [0, ${Long.MaxValue / 1000000L}] (micros must not overflow), " +
        s"got $maxGapSeconds; 0 already means unbounded")
    def stageTs(i: Int) = s"${stages(i)}_ts"
    // conversion-window bound: stage i+1 must land within `maxGapSeconds` of
    // the committed stage-i time (0 = unbounded — the pure ordering funnel).
    // micros via cast, NTZ-safe (see sessionize)
    def withinGap(cur: Column, prev: Column): Column =
      if (maxGapSeconds == 0L) lit(true)
      else unix_micros(cur.cast("timestamp")) - unix_micros(prev.cast("timestamp")) <=
        maxGapSeconds * 1000000L
    val first = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as(stageTs(0)))
    val perStage = stages.indices.tail.foldLeft(List(first)) { (acc, i) =>
      val prev = acc.head
      val reached = events.filter(col(typeCol) === stages(i))
        .join(prev.select(col(userCol), col(stageTs(i - 1))), userCol)
        .filter(col(tsCol) > col(stageTs(i - 1)) &&
          withinGap(col(tsCol), col(stageTs(i - 1))))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as(stageTs(i)))
      reached :: acc
    }.reverse
    val joined = perStage.tail.foldLeft(perStage.head) { (acc, s) =>
      acc.join(s, Seq(userCol), "left")
    }
    val stage = stages.indices.reverse.tail.foldLeft(lit(stages.last): Column) {
      (acc, i) => when(col(stageTs(i + 1)).isNull, stages(i)).otherwise(acc)
    }
    joined.withColumn("stage", stage)
  }

  /** Sessionization (gaps-and-islands): assign each event a per-user session
    * sequence number, where a gap larger than `gapSeconds` starts a new
    * session. The batch complement of the streaming `session_window` agg
    * (q47): that one emits one row per closed session, this one labels every
    * EVENT with its session — the form downstream per-event features join
    * against. One shuffle: both window passes (gap flag, running sum) share
    * the (user, ts, tie) sort.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 tieBreak: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val prev = lag(col(tsCol), 1).over(w)
    // cast: event tables load timestamps as NTZ; the session tz is UTC, so
    // the micros are the same instant either way
    val isNew = when(prev.isNull ||
      unix_micros(col(tsCol).cast("timestamp")) - unix_micros(prev.cast("timestamp")) > gapSeconds * 1000000L,
      1L).otherwise(0L)
    events.withColumn("session_seq",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Weekly cohort retention: users grouped by the week they first appeared;
    * for each (cohort week, weeks since) cell, the count of distinct cohort
    * users active that week. Two user-keyed aggs + one co-located join +
    * one (cohort, week) agg — the fixed recipe of every retention dashboard,
    * here as one declarative plan.
    */
  def weeklyRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firstSeen = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).as("cohort_week"))
    val active = events
      .select(col(userCol), date_trunc("week", col(tsCol)).as("active_week"))
      .distinct()
    active.join(firstSeen, userCol)
      .withColumn("week_no", (datediff(col("active_week"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_no"))
      .agg(countDistinct(col(userCol)).as("active_users"))
  }

  /** Consecutive event-sequence detection — the MATCH_RECOGNIZE/CEP primitive
    * (`PATTERN (A B C)` with STRICT contiguity, the default in Flink's
    * MATCH_RECOGNIZE): a match is `pattern.size` CONSECUTIVE events of the
    * user's time-ordered stream whose types equal the pattern, with the whole
    * span inside `withinMicros` (event-time micros; 0 = unbounded). Contrast with [[funnel]],
    * which is the SKIP-TILL-NEXT relaxation (other events may intervene).
    *
    * One shuffle on the user key; each row sees only its next
    * `pattern.size - 1` events through `lead()` over one (user, ts, tie)
    * sort — no self-joins, no per-user explode, state O(pattern) per row.
    * Overlapping matches all emit (AFTER MATCH SKIP TO NEXT ROW semantics);
    * ties order deterministically by `tieCol`.
    */
  def sequenceMatch(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
                    tieCol: String, pattern: Seq[String], withinMicros: Long = 0L): DataFrame = {
    require(pattern.nonEmpty, "pattern must name at least one event type")
    require(withinMicros >= 0, s"withinMicros must be >= 0, got $withinMicros")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val n = pattern.size
    val matched = events
      .withColumn("__sm_end_ts", lead(col(tsCol), n - 1).over(w))
      .withColumn("__sm_ok",
        pattern.zipWithIndex.map { case (p, i) =>
          (if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w)) === p
        }.reduce(_ && _))
      .filter(col("__sm_ok"))
    val bounded =
      if (withinMicros == 0) matched
      else matched.filter(
        unix_micros(col("__sm_end_ts").cast("timestamp")) -
          unix_micros(col(tsCol).cast("timestamp")) <= withinMicros)
    bounded.select(col(userCol), col(tsCol).as("match_start_ts"),
      col("__sm_end_ts").as("match_end_ts"), col(tieCol).as("start_tie"))
  }

  /** [[sequenceMatch]] with quantifiers (`QTok(t, min, max)`, `max =
    * QTok.Unbounded` for `+`/`{m,}`, reluctant tokens shortest-first) under
    * AFTER MATCH SKIP TO NEXT ROW: every start row is decided independently,
    * greedy leftmost-longest. Output adds `matched_len` (the match's row
    * count). The DataFrame twin of the SQL `MATCH_RECOGNIZE` rewrite and of
    * [[graft.streaming.StreamingSequenceMatchQ]]: all three run the one
    * [[MrMatcher]], here through [[MatchRecognize.scan]] — one shuffle on the
    * user key and one (user, ts, tie) sort.
    */
  def sequenceMatchQ(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
                     tieCol: String,
                     pattern: Seq[graft.streaming.StreamingSequenceMatchQ.QTok],
                     withinMicros: Long = 0L): DataFrame =
    scanTyped(events, userCol, typeCol, tsCol, tieCol, pattern, withinMicros, skipToNext = true)

  /** [[sequenceMatchQ]] under the SQL-standard DEFAULT skip strategy, `AFTER
    * MATCH SKIP PAST LAST ROW`: selected matches never overlap — once a match
    * is selected, the next may start only AFTER its last row. (A fixed
    * pattern is `pattern.map(t => QTok(t, 1, 1))`.) The scan's cursor
    * resumes past each selected match, so every decision depends on all
    * earlier ones of its key — the standard's cursor semantics exactly.
    */
  def sequenceMatchSkipPast(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
                            tieCol: String,
                            pattern: Seq[graft.streaming.StreamingSequenceMatchQ.QTok],
                            withinMicros: Long = 0L): DataFrame =
    scanTyped(events, userCol, typeCol, tsCol, tieCol, pattern, withinMicros, skipToNext = false)

  /** Both quantified surfaces: [[MatchRecognize.scan]] with per-token
    * type-equality DEFINEs, one output row per match.
    */
  private def scanTyped(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
                        tieCol: String,
                        pattern: Seq[graft.streaming.StreamingSequenceMatchQ.QTok],
                        withinMicros: Long, skipToNext: Boolean): DataFrame = {
    require(withinMicros >= 0, s"withinMicros must be >= 0, got $withinMicros")
    val unbounded = graft.streaming.StreamingSequenceMatchQ.QTok.Unbounded
    val toks = pattern.zipWithIndex.map { case (t, i) =>
      MatchRecognize.MrTok(s"T$i", t.min,
        if (t.max == unbounded) None else Some(t.max), t.reluctant) }
    val defs = pattern.map(t => col(typeCol) === t.typ)
    val within = if (withinMicros == 0L) None else Some(withinMicros)
    val skip = if (skipToNext) MatchRecognize.SkipToNextRow else MatchRecognize.SkipPastLastRow
    val out = MatchRecognize.scan(events, Seq(col(userCol)), Seq(col(tsCol), col(tieCol)),
      tsCol, toks, defs, within, skip, allRows = false, measureCols = Seq(tsCol))
    // the match's end is the LAST token that matched at least one row
    val endTs = coalesce(pattern.indices.reverse.map(i => col(s"__mr_last_T$i.$tsCol")): _*)
    out.select(col(userCol), col(tsCol).as("match_start_ts"), endTs.as("match_end_ts"),
      col(tieCol).as("start_tie"), col("__mr_len").cast("int").as("matched_len"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next_type | prev_type) estimated from adjacent pairs. The behavioral
    * summary behind next-action prediction and anomalous-flow detection.
    *
    * One user-keyed window (lag over ts + tie — each partition is one user's
    * bounded history, the same shuffle key every Behavior op uses), then a
    * map-side-combined count to |types|² rows; per-prev totals come from a
    * WINDOW over that tiny aggregate — a join formulation would re-plan the
    * event scan + lag window as a separate totals subplan (measured 3×).
    * `prob` is one double division of two exact longs — deterministic
    * across engines.
    *
    * Output: (prev_type, next_type, n, prob).
    */
  def transitionMatrix(events: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .withColumn("prev_type", lag(col(typeCol), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    // per-prev totals as a window over the |types|²-row aggregate — a
    // broadcast-join formulation plans the totals as a SEPARATE subplan and
    // re-scans the event log + re-runs the lag window for it (the bm25TopK
    // exchange-reuse lesson); the window shares the aggregate's one plan
    val tw = Window.partitionBy("prev_type")
    pairs
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / sum("n").over(tw).cast("double")).as("prob"))
  }
}
