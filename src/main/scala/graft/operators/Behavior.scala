package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

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

  /** [[sequenceMatch]] with BOUNDED quantifiers — the DataFrame twin of the
    * SQL `MATCH_RECOGNIZE` quantifier rewrite and of
    * [[graft.streaming.StreamingSequenceMatchQ]] (whose greedy order its
    * expansions enumerate, so all three surfaces share one semantics): the pattern
    * expands into fixed type-sequences tried leftmost-longest-first, compiled
    * into ONE when-chain over shared lead() windows — one shuffle, one sort,
    * every start row decided independently (SKIP TO NEXT ROW). Output adds
    * `matched_len` (the winning alternative's length).
    */
  def sequenceMatchQ(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
                     tieCol: String,
                     pattern: Seq[graft.streaming.StreamingSequenceMatchQ.QTok],
                     withinMicros: Long = 0L): DataFrame = {
    if (pattern.exists(_.max == graft.streaming.StreamingSequenceMatchQ.QTok.Unbounded))
      return scanTyped(events, userCol, typeCol, tsCol, tieCol, pattern, withinMicros,
        skipToNext = true)
    val winner = qWinner(userCol, typeCol, tsCol, tieCol, pattern, withinMicros)
    events
      .withColumn("__smq", winner)
      .filter(col("__smq").isNotNull)
      .select(col(userCol), col(tsCol).as("match_start_ts"),
        col("__smq.end_ts").as("match_end_ts"), col(tieCol).as("start_tie"),
        col("__smq.len").as("matched_len"))
  }

  /** Unbounded-quantifier route for the type-token surfaces: the same
    * [[graft.operators.MatchRecognize.scan]] NFA cursor the SQL rewrite
    * uses, with per-token type-equality DEFINEs — output schema identical to
    * the bounded forms, greedy order identical by the scan's equivalence
    * spec.
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

  /** The per-start-row greedy candidate of [[sequenceMatchQ]] as a Column:
    * NULL when no alternative matches at this row, else a struct of the
    * winning alternative's (end_ts, len). Shared by the SKIP TO NEXT ROW and
    * SKIP PAST LAST ROW surfaces so both decide candidates identically.
    */
  private def qWinner(userCol: String, typeCol: String, tsCol: String, tieCol: String,
                      pattern: Seq[graft.streaming.StreamingSequenceMatchQ.QTok],
                      withinMicros: Long): Column = {
    require(withinMicros >= 0, s"withinMicros must be >= 0, got $withinMicros")
    val exps = graft.streaming.StreamingSequenceMatchQ.expansions(pattern)
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    def at(c: String, k: Int) = if (k == 0) col(c) else lead(col(c), k).over(w)
    exps.map { ex =>
      val types = ex.zipWithIndex.map { case (p, i) => at(typeCol, i) === p }.reduce(_ && _)
      val endTs = at(tsCol, ex.size - 1)
      val exists = endTs.isNotNull
      val within =
        if (withinMicros == 0) lit(true)
        else unix_micros(endTs.cast("timestamp")) - unix_micros(col(tsCol).cast("timestamp")) <=
          withinMicros
      when(types && exists && within,
        struct(endTs.as("end_ts"), lit(ex.size).as("len")))
    }.reduce((a, b) => coalesce(a, b))
  }

  /** [[sequenceMatchQ]] under the SQL-standard DEFAULT skip strategy, `AFTER
    * MATCH SKIP PAST LAST ROW`: selected matches never overlap — once a match
    * is selected, the next candidate may start only AFTER its last row.
    * (A fixed pattern is `pattern.map(t => QTok(t, 1, 1))`.)
    *
    * Candidates are still decided per start row by the same shared lead()
    * windows as the SKIP TO NEXT ROW twins (greedy longest alternative); the
    * non-overlap selection is then [[skipPastSelect]]'s per-key linear scan:
    * scanning (ts, tie)-ordered rows, a candidate is selected iff its start
    * row is not consumed by the previously selected match, and selecting a
    * length-L match consumes the following L−1 rows — the standard's cursor
    * semantics exactly.
    */
  def sequenceMatchSkipPast(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
                            tieCol: String,
                            pattern: Seq[graft.streaming.StreamingSequenceMatchQ.QTok],
                            withinMicros: Long = 0L): DataFrame = {
    if (pattern.exists(_.max == graft.streaming.StreamingSequenceMatchQ.QTok.Unbounded))
      return scanTyped(events, userCol, typeCol, tsCol, tieCol, pattern, withinMicros,
        skipToNext = false)
    val cand = events
      .withColumn("__smq", qWinner(userCol, typeCol, tsCol, tieCol, pattern, withinMicros))
      .select(col(userCol), col(tsCol), col(tieCol), col("__smq"),
        col("__smq.len").as("__len"))
    skipPastSelect(cand, Seq(col(userCol)), Seq(col(tsCol), col(tieCol)), "__len")
      .select(col(userCol), col(tsCol).as("match_start_ts"),
        col("__smq.end_ts").as("match_end_ts"), col(tieCol).as("start_tie"),
        col("__smq.len").as("matched_len"))
  }

  /** Greedy non-overlap selection over per-row match candidates — the engine
    * half of AFTER MATCH SKIP PAST LAST ROW, factored out so the DataFrame
    * operator and the SQL MATCH_RECOGNIZE rewrite share one semantics.
    *
    * Input: every row of the relation (candidate or not — non-candidates
    * still occupy positions the cursor must consume), with `lenCol` holding
    * the candidate's row count at this start (NULL/0 = no candidate).
    * Output: only the selected match-start rows, original schema.
    *
    * Scale shape: ONE hash repartition on the key + one sort within
    * partitions + a streaming O(1)-state pass. The within-key scan is
    * inherently sequential — that IS the skip-past contract (each decision
    * depends on every earlier selection) and is how any MATCH_RECOGNIZE
    * engine executes it; keys parallelize across partitions, nothing
    * materializes per key, nothing reaches the driver.
    */
  private[graft] def skipPastSelect(df: DataFrame, keyCols: Seq[Column],
                                    orderCols: Seq[Column], lenCol: String): DataFrame = {
    graft.core.KeyImage.requireAtomic(df, keyCols)
    // collision-free length-prefixed key image (same reasoning as Cusum: a
    // separator encoding could merge crafted keys and the cursor would leak
    // across their series), zero-normalized (KeyImage.ofNormalized): the
    // scan sorts by the REAL key columns, which groups -0.0 with 0.0 (SQL key
    // equality) and lets Catalyst reuse an upstream window's (key, order)
    // sort, so the key-change probe image must agree or the cursor would
    // reset mid-series on ±0.0 keys
    val pre = df.withColumn("__spk", graft.core.KeyImage.ofNormalized(df, keyCols))
    val preSchema = pre.schema
    val lenIdx = preSchema.fieldIndex(lenCol)
    val keyIdx = preSchema.fieldIndex("__spk")
    // the candidate length, integral widths only: a fractional length has no
    // row count, so DOUBLE, FLOAT and DECIMAL columns fail at build rather
    // than truncate
    val lenType = preSchema(lenIdx).dataType
    if (!Seq(LongType, IntegerType, ShortType, ByteType).contains(lenType))
      sys.error(s"skipPastSelect: length column '$lenCol' must be integral, got $lenType")
    // a one-in/one-out filter over the sorted UnsafeRows: no buffering, no
    // per-row conversion, cloning only the key image it must retain across
    // rows for the key-change probe
    graft.core.MrScan.of(pre, keyCols, orderCols, preSchema) { it =>
      var curKey: org.apache.spark.unsafe.types.UTF8String = null
      var consume = 0L
      it.filter { r =>
        val key = r.getUTF8String(keyIdx)
        // exact twin of the external `key != curKey` probe incl. nulls
        // (consecutive null images are ONE series)
        val changed =
          if (key == null) curKey != null
          else curKey == null || !key.equals(curKey)
        if (changed) { curKey = if (key == null) null else key.clone(); consume = 0L }
        if (consume > 0L) { consume -= 1L; false }
        else {
          val len = if (r.isNullAt(lenIdx)) 0L else r.get(lenIdx, lenType).asInstanceOf[Number].longValue
          if (len > 0L) { consume = len - 1L; true } else false
        }
      }
    }.drop("__spk")
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
