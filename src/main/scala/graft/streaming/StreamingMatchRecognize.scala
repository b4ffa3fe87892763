package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

import graft.operators.{MatchRecognize, MrConditions, MrMatcher, MrProg}

/** Streaming MATCH_RECOGNIZE — every standing MATCH_RECOGNIZE statement,
  * from literal type DEFINEs (also reached through the
  * [[StreamingSequenceMatchQ]] adapter) to the ticker idiom
  * (`D AS D.value < PREV(D.value)`; Flink's CEP runs these natively, so a
  * reference user's first streaming value pattern lands here).
  *
  * Semantics contract: each key's buffer runs the batch scan's own matcher,
  * [[graft.operators.MrMatcher]] — bounded, unbounded AND reluctant
  * quantifiers, cross-variable / FIRST() / logical-offset DEFINE conditions —
  * with the one answer batch never gives: a row past the newest buffered one
  * has not arrived yet, so a run still extensible by future events stays
  * OPEN until a breaking event, the WITHIN horizon, or (reluctant) the
  * shortest completion the moment it exists. On a closed stream the emitted
  * spans and MATCH_NUMBER ordinals equal the batch scan's row-for-row
  * (spec-pinned, MrParitySpec).
  *
  * DEFINE columns (r11 — generalized from the r10 one-numeric+one-string
  * shape): `condCols` are the columns the conditions reference, buffered
  * per row in their ORIGINAL external types — integral/decimal values
  * compare exactly (BigDecimal), never through a lossy double cast, so
  * streaming spans agree with the batch scan bit-for-bit on wide longs and
  * high-precision decimals. Any number of numeric/string/boolean/time
  * columns is accepted; conditions are plan-time type-checked against the
  * projected schema.
  *
  * DEFINE evaluation: the batch routes precompute row-local booleans as
  * Catalyst lag()/lead() columns — a stream cannot (no lag over an unbounded
  * preceding window), so EVERY condition here runs on [[MrConditions]] with
  * `allowNav`: `PREV(V.col, n)` is physical back-navigation into the per-key
  * buffer, and rows below the retention margin answer NULL exactly like rows
  * before a batch partition's start. `NEXT(V.col, n)` (r11, Flink's streaming
  * semantics) is physical forward-navigation with ONE-EVENT DECISION
  * DEFERRAL: a read past the newest buffered row does not evaluate to NULL —
  * the whole attempt stays OPEN until the successor arrives (it always does,
  * or the stream ends and the open attempt never emits, the bounded-stream
  * tail contract shared with unbounded greedy runs).
  *
  * Event-time order contract: rows are sorted by (ts, tie) WITHIN each
  * micro-batch, but the buffer is append-only across batches — in-order
  * arrival per key across micro-batches is the parity contract's assumption
  * (the bounded replays and Kafka-per-key ordering satisfy it). A late event
  * arriving BELOW the buffer tail is detected, counted in `lateRows`, logged
  * loudly at ERROR, and DROPPED — the watermark rule applied even when no TTL
  * watermark is configured — rather than silently corrupting PREV navigation
  * and run detection.
  *
  * Scale shape: one `groupByKey(key)` shuffle; per-key state is the rows
  * from `navDepth` before the selection frontier onward (navDepth = the
  * deepest PREV offset any condition uses) — the decided prefix is
  * evicted down to that margin, so state is O(longest open
  * attempt + navDepth), event-time-capped by WITHIN and wall-capped by the
  * TTL. Buffered rows wrap their cell arrays in a [[GenericRow]] ONCE at
  * append/restore time — the interpreter's per-read path allocates nothing.
  * Nothing reaches the driver.
  *
  * State engine: `transformWithState` on the session's RocksDB state store
  * ([[graft.core.Sessions.local]]) — state off-heap, the backend that
  * survives 100M+ standing keys; the TTL is one explicit event-time timer
  * per key ([[StreamingOps.resetTtlTimer]], shared with StreamingAnomaly).
  *
  * Recovery contract (r13, spec-pinned in RecoverySpec): the whole [[Buf]] —
  * buffered rows, selection cursor, undecided attempts AND `matchSeq`
  * (MATCH_NUMBER continuity) — rides the streaming checkpoint, so a standing
  * query restarted mid-pattern resumes exactly where it stopped and emits
  * output row-identical to a never-stopped run.
  *
  * AFTER MATCH strategies (r14 — all four of the standard's): SKIP PAST LAST
  * ROW and the variable-targeted SKIP TO FIRST|LAST <var> share the
  * cursor-frontier walk — the skip strategy only picks the cursor's next
  * position, so the targeted forms produce OVERLAPPING standing matches
  * (resume AT the target row) with batch-identical spans, ordinals and
  * loud empty-target/self-re-anchor errors; SKIP TO NEXT ROW keeps the
  * per-position undecided walk (every start decides independently).
  */
// Serializable: the per-key step is a local def (a method on this module), so
// the StatefulProcessor captures the module reference; Scala
// serializes modules by readResolve back to MODULE$, so this costs nothing.
object StreamingMatchRecognize extends Serializable {

  /** A value MEASURE over the buffered columns (r11 — Flink standing queries
    * report prices, not just span timestamps): `FIRST|LAST(tokens(tok).name
    * .col)` where `col` must be one of the operator's buffered `condCols`.
    * `tok` may also index a SUBSET union variable (r12): `nTok + subsetIdx`
    * reads the union of the member runs in row order. Emitted per match from
    * the winning placement; a token that matched no rows yields NULL (the
    * optional-variable rule). `running` (ALL ROWS only, r12): the view at
    * each emitted row — first/last of the target's rows AT OR BEFORE it,
    * NULL before the run begins (the standard's RUNNING semantics, the
    * ALL-ROWS default in the batch frontend).
    */
  case class MrMeasure(isFirst: Boolean, tok: Int, col: String, alias: String,
                       running: Boolean = false)

  /** An aggregate MEASURE over a variable's matched rows (r11 — Flink CEP
    * supports aggregates in standing MEASURES; the batch scan's exactness
    * contract applies): fn ∈ cnt|sum|min|max|avg over `col` of the winning
    * run; `col = "*"` only for cnt (= run length). cnt emits LongType (0 on
    * an empty run); sum an EXACT DecimalType(38,6) over HALF_UP-scale-6
    * values (order-independent, bit-equal to the batch scan and the DuckDB
    * decimal forms); avg ONE double division of that exact sum by the
    * non-null count; min/max the column's type by natural order. Non-cnt
    * aggregates are NULL on an empty run. `tok` may index a SUBSET union
    * variable (`nTok + subsetIdx`, r12) — the aggregate pools the member
    * runs. `running` (ALL ROWS only, r12): incremental per-emitted-row
    * prefix aggregates, excluded rows folded before the next emitted row
    * (the batch scan's __mr_run_agg contract).
    */
  case class MrAggMeasure(fn: String, tok: Int, col: String, alias: String,
                          running: Boolean = false) {
    require(Set("cnt", "sum", "min", "max", "avg").contains(fn), s"unknown aggregate '$fn'")
    require(col != "*" || fn == "cnt", s"'$fn(*)' is not a thing — name a column")
  }

  /** Aligned per-row state; `cells(i)` = row i's condCols values in their
    * original external types (Kryo-encoded state — the only state this
    * module keeps); `cursor` = the cursor-mode selection frontier's index
    * within the retained arrays (skip-past and the variable-targeted skips;
    * 0 in skip-to-next mode); `undecided` = skip-to-next per-position flags
    * (margin-retained rows are decided); `matchSeq` = the key's
    * emitted-match ordinal so far (MATCH_NUMBER(), r11 — cursor-mode
    * emission is positional, so the ordinal equals the batch scan's
    * `__mr_seq`); `pending` (r15) = SKIP TO NEXT ROW matches decided while
    * an EARLIER start is still undecided, held back so MATCH_NUMBER
    * ordinals flush in start order (batch-equal): (buffer-relative start,
    * rendered output rows with the ordinal slot unstamped). Bounded by the
    * undecided frontier — a pending match exists only while an older start
    * is open, the same WITHIN/TTL-bounded condition that bounds the row
    * buffer itself; empty unless MATCH_NUMBER is requested.
    *
    * CHECKPOINT COMPATIBILITY: Buf rides streaming checkpoints KRYO-encoded
    * (field-serialized), so ANY change to this field layout — adding
    * `pending` in r15 did this across the r14→r15 boundary — invalidates
    * state written by earlier builds: a standing statement RESUMEd
    * (relightStanding) from a pre-change checkpoint fails or misreads
    * deserialization. Operational rule, also in README: after upgrading
    * across a Buf layout change, re-submit standing MATCH_RECOGNIZE
    * statements on a fresh checkpoint instead of relighting the old one.
    * Within one build (the kill-mid-drain recovery surface) the encoding is
    * stable by construction.
    */
  case class Buf(cells: Array[Array[Any]], tsMicros: Array[Long], ties: Array[Long],
                 cursor: Int, undecided: Array[Boolean], matchSeq: Long = 0L,
                 pending: Array[(Int, Array[Array[Any]])] = Array.empty)

  /** The one matcher over a key's growing buffers, and the DEFINE
    * evaluation context it tests rows through: rows are pre-wrapped
    * GenericRows over the stored cell arrays (zero per-read allocation); a
    * row past the newest buffered one has not arrived yet, so a run reaching
    * it stays open and a NEXT() read of it defers the attempt. Cross-variable
    * visibility is PATH-positional (the matcher's `placed` flags).
    */
  private final class Matcher(prog: MrProg, nTok: Int, withinUs: Long,
                              rowsB: ArrayBuffer[Row], tssB: ArrayBuffer[Long],
                              compiled: Array[MrConditions.Compiled])
    extends MrMatcher(prog, nTok, withinUs) with MrConditions.Ctx {
    private var curPos = 0
    private var self = 0
    private var runStart = 0
    protected def avail(pos: Int): Int = if (pos < rowsB.length) 1 else -1
    protected def micros(pos: Int): Long = tssB(pos)
    protected def test(v: Int, pos: Int, runStart: Int): Int = {
      val d = compiled(v)
      if (d == null) 1
      else {
        self = v; this.runStart = runStart; curPos = pos
        d.holdsOrDefer(this)
      }
    }
    def cur: Row = rowsB(curPos)
    def rowAt(pos: Int): Row = rowsB(pos)
    def selfTok: Int = self
    def selfRunStart: Int = runStart
    def selfPos: Int = curPos
    override def maxPos: Int = rowsB.length - 1
    override def placedBefore(tok: Int): Boolean = placed(tok)
  }

  /** Linear-sequence entry (the pre-r11 surface, unchanged): every token is
    * one variable in pattern order, one branch.
    */
  def apply(df: DataFrame, keyCol: String, condCols: Seq[String],
            tsCol: String, tieCol: String,
            tokens: Seq[MatchRecognize.MrTok], defs: Seq[Option[String]],
            withinMicros: Long = 0L, ttl: Option[StreamingOps.StateTtl] = None,
            skip: MatchRecognize.Skip = MatchRecognize.SkipPastLastRow,
            stateProbe: Option[StreamingOps.MaxAccumulator] = None,
            measures: Seq[MrMeasure] = Seq.empty,
            aggMeasures: Seq[MrAggMeasure] = Seq.empty,
            matchNumberAlias: Option[String] = None): DataFrame = {
    require(tokens.nonEmpty, "pattern must name at least one token")
    val branch = tokens.zipWithIndex
      .map { case (t, i) => MatchRecognize.BTok(i, t.lo, t.hi, t.reluctant) }.toIndexedSeq
    applyPattern(df, keyCol, condCols, tsCol, tieCol, tokens.map(_.name), Seq(branch),
      defs, withinMicros, ttl, skip, stateProbe, measures,
      aggMeasures, matchNumberAlias)
  }

  /** Branch-general entry (r11): `branches` are [[graft.operators.MrPattern]]-
    * expanded alternative linear sequences in PREFERENCE order over the
    * GLOBAL `varNames` table — streaming alternation/grouping/PERMUTE as a
    * standing query (Flink CEP's SQL surface has none of these). Branch
    * preference under the open/dead/winner rules: at a start position the
    * branches are tried in order; a DEAD branch falls through to the next, a
    * WINNING branch emits, and an OPEN branch (extensible by future events)
    * DEFERS the whole position — a later branch that already matches must
    * not pre-empt an earlier one that may yet match (leftmost preference is
    * decided, never raced). Since r12 choice points execute by the caller's
    * parse `tree` when given (ISO per-choice-point preferment — see
    * [[graft.operators.MrProg]]); `allRows` switches the output to one row
    * per non-excluded matched row (`row_ts`/`row_tie`/`cls` + the buffered
    * columns, RUNNING/FINAL measure views), emitted in row order in the
    * micro-batch that decides the winner — which is also what makes
    * `{- exclusion -}` meaningful on a standing query; `subsets` are the
    * SUBSET union variables (measure `tok = nTok + subsetIdx` pools the
    * member runs; DEFINE references resolve as SubCol union reads).
    */
  def applyPattern(df: DataFrame, keyCol: String, condCols: Seq[String],
                   tsCol: String, tieCol: String,
                   varNames: Seq[String], branches: Seq[IndexedSeq[MatchRecognize.BTok]],
                   defs: Seq[Option[String]],
                   withinMicros: Long = 0L, ttl: Option[StreamingOps.StateTtl] = None,
                   skip: MatchRecognize.Skip = MatchRecognize.SkipPastLastRow,
                   stateProbe: Option[StreamingOps.MaxAccumulator] = None,
                   measures: Seq[MrMeasure] = Seq.empty,
                   aggMeasures: Seq[MrAggMeasure] = Seq.empty,
                   matchNumberAlias: Option[String] = None,
                   tree: Option[graft.operators.MrPattern.Node] = None,
                   allRows: Boolean = false,
                   subsets: Seq[(String, Seq[Int])] = Seq.empty,
                   openTailAcc: Option[org.apache.spark.util.LongAccumulator] = None,
                   oneRowClassifier: Boolean = false,
                   lateRows: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val nTok = varNames.size
    // cursor-mode strategies (skip-past and the variable-targeted skips, r14)
    // share the selection-frontier walk: emission is strictly positional, so
    // MATCH_NUMBER ordinals stay batch-equal; only SKIP TO NEXT ROW decides
    // starts independently (the undecided-flags walk)
    val cursorMode = skip != MatchRecognize.SkipToNextRow
    MrMatcher.requireSkipTarget(skip, nTok)
    val nSub = subsets.size
    require(df.isStreaming, "StreamingMatchRecognize runs on a streaming input; a static " +
      "frame runs through MatchRecognize.scanPattern")
    require(condCols.nonEmpty, "conditions must reference at least one column")
    require(nTok > 0, "pattern must name at least one variable")
    require(varNames.distinct.size == nTok, s"duplicate variable name in $varNames")
    require(branches.nonEmpty, "pattern must carry at least one branch")
    MrMatcher.requireSubsets(varNames, subsets)
    branches.foreach { b =>
      require(b.nonEmpty, "empty pattern branch")
      require(b.map(_.v).distinct.size == b.size, "a variable may appear only once per branch")
      b.foreach { t =>
        require(t.v >= 0 && t.v < nTok, s"branch token indexes unknown variable ${t.v}")
        require(allRows || !t.excluded,
          "streaming MATCH_RECOGNIZE supports {- exclusion -} only under ALL ROWS PER MATCH " +
            "(under the ONE-ROW shape it has no effect — same rule as the batch scan)")
      }
    }
    require(branches.exists(_.exists(t => t.hi.forall(_ > 0))),
      "pattern admits only the empty match")
    // the ALL-ROWS output adds per-row columns and the buffered condCols by
    // their source names — widen the reserved-name guard accordingly
    val reservedOut: Set[String] =
      Set("key", "match_start_ts", "match_end_ts", "start_tie", "matched_len") ++
        (if (allRows) Set("row_ts", "row_tie", "cls") else Set.empty) ++
        (if (oneRowClassifier) Set("cls") else Set.empty)
    require(!oneRowClassifier || !allRows,
      "oneRowClassifier is the ONE-ROW shape's CLASSIFIER (the last matched row's label, " +
        "ISO) — ALL ROWS already emits the per-row cls column")
    if (allRows) {
      val clash = condCols.filter(reservedOut.contains)
      require(clash.isEmpty,
        s"ALL ROWS PER MATCH emits the buffered columns by name; $clash collide with the " +
          "operator's fixed output columns — rename them upstream")
    }
    measures.foreach { m =>
      require(m.tok >= 0 && m.tok < nTok + nSub,
        s"measure over unknown token/subset index ${m.tok}")
      require(condCols.contains(m.col),
        s"measure column '${m.col}' must be among the buffered condCols $condCols")
      require(!m.running || allRows, s"RUNNING measure '${m.alias}' needs ALL ROWS PER MATCH")
      require(!reservedOut.contains(m.alias) && !m.alias.startsWith("__mr_") &&
        !(allRows && condCols.contains(m.alias)),
        s"measure alias '${m.alias}' collides with an output/reserved name")
    }
    aggMeasures.foreach { m =>
      require(m.tok >= 0 && m.tok < nTok + nSub,
        s"aggregate measure over unknown token/subset index ${m.tok}")
      require(m.col == "*" || condCols.contains(m.col),
        s"aggregate measure column '${m.col}' must be among the buffered condCols $condCols")
      require(!m.running || allRows, s"RUNNING measure '${m.alias}' needs ALL ROWS PER MATCH")
      require(!reservedOut.contains(m.alias) && !m.alias.startsWith("__mr_") &&
        !(allRows && condCols.contains(m.alias)),
        s"measure alias '${m.alias}' collides with an output/reserved name")
      if (m.col != "*") MrMatcher.requireAggType(m.fn, m.col, df.schema(m.col).dataType)
    }
    // MATCH_NUMBER(): the key's 1-based emitted-match ordinal. Cursor-mode
    // emission (skip-past AND the variable-targeted skips, r14) is strictly
    // positional (the cursor is the selection frontier), so the ordinal
    // equals the batch scan's __mr_seq. Under SKIP TO NEXT ROW a later start
    // can DECIDE before an earlier deferred one; r15 closes the last
    // MATCH_NUMBER gap by buffering decided winners behind the undecided
    // frontier (Buf.pending) and flushing them in START order — the ordinal
    // is then batch-equal on every strategy. The deferral is bounded by the
    // frontier: a match waits only while an OLDER start is undecided, the
    // same WITHIN/TTL-bounded condition that bounds the row buffer; at TTL
    // expiry pending winners flush (open tails still never emit).
    matchNumberAlias.foreach { a =>
      // same collision rule as every other measure alias: the WIDENED
      // reserved set (row_ts/row_tie/cls under ALL ROWS) plus the buffered
      // condCols the ALL-ROWS shape re-emits by name (r12 ADVICE)
      require(!reservedOut.contains(a) && !a.startsWith("__mr_") &&
        !(allRows && condCols.contains(a)),
        s"measure alias '$a' collides with an output/reserved name")
    }
    require((measures.map(_.alias) ++ aggMeasures.map(_.alias) ++ matchNumberAlias).distinct.size ==
      measures.size + aggMeasures.size + matchNumberAlias.size,
      s"duplicate measure aliases: ${measures.map(_.alias) ++ aggMeasures.map(_.alias) ++
        matchNumberAlias}")
    require(condCols.distinct == condCols, s"duplicate condCols: $condCols")
    require(!condCols.exists(_.startsWith("__mr_")),
      s"condCols collide with the operator's reserved __mr_ prefix: $condCols")
    condCols.foreach(c => require(df.columns.contains(c), s"unknown DEFINE column '$c'"))
    require(defs.size == nTok, "one DEFINE option per pattern variable")
    require(withinMicros >= 0, s"withinMicros out of range: $withinMicros")
    if (branches.exists(_.exists(_.hi.isEmpty)) && withinMicros == 0L && ttl.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "StreamingMatchRecognize: unbounded quantifier with neither withinMicros nor " +
          "ttl — an unbroken greedy run grows per-key state without bound and " +
          "never emits; set a WITHIN bound (and/or a TTL >= it) to cap state age")
    // MATCH_NUMBER + SKIP TO NEXT ROW defers decided winners behind the
    // undecided frontier (r15); a permanently-undecided earlier start (an
    // open tail that no future event ever breaks) then withholds them
    // FOREVER when no TTL exists — on a bounded drain they never emit where
    // batch emits them (r15 ADVICE). The TTL-expiry flush is the release
    // valve; without one, warn loudly up front.
    if (matchNumberAlias.isDefined && skip == MatchRecognize.SkipToNextRow && ttl.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "StreamingMatchRecognize: MATCH_NUMBER() under SKIP TO NEXT ROW without a TTL — " +
          "a decided winner behind a permanently-undecided earlier start is withheld " +
          "until TTL expiry flushes it, and with no TTL that is FOREVER (a bounded drain " +
          "will omit it where the batch scan emits it); configure 'sql.state-ttl' (or the " +
          "operator's ttl) so abandoned open tails release their deferred winners")

    // conditions compile against the referenced columns IN THEIR ORIGINAL
    // TYPES, named as in the input so SQL DEFINE text passes through
    // unchanged; the compile also runs the plan-time type check
    val condSchema = StructType(condCols.map(c => df.schema(c)))
    val varIdx = varNames.zipWithIndex.toMap
    val subsetDefMap: Map[String, Seq[Int]] = subsets.toMap
    val compiled: Array[MrConditions.Compiled] = defs.zipWithIndex.map { case (o, i) =>
      o.map(MrConditions.compile(_, condSchema, varIdx, varNames(i), allowNav = true,
        subsets = subsetDefMap)).orNull
    }.toArray
    val navDepth = compiled.filter(_ != null).map(MrConditions.maxPrevDepth).foldLeft(0)(math.max)

    val nCond = condCols.size
    // the execution program (r12): the parse tree when the caller has one —
    // choice points decided at their written positions (ISO preferment) —
    // otherwise the branch-shaped choice (identical order for linear and
    // front-choice patterns)
    val prog: MrProg = tree.map(t => MrProg.ofTree(t, varIdx)).getOrElse(MrProg.ofBranches(branches))
    val withinUs = withinMicros

    // QMatch's shape (the r10 contract); under ALL ROWS (r12) each matched
    // row additionally carries its own (ts, tie), the CLASSIFIER and the
    // buffered columns by their source names — then the value-measure
    // columns in declaration order, typed from the buffered schema
    val outSchema = StructType(Seq(
      StructField("key", StringType, nullable = true),
      StructField("match_start_ts", TimestampType, nullable = true),
      StructField("match_end_ts", TimestampType, nullable = true),
      StructField("start_tie", LongType, nullable = false),
      StructField("matched_len", IntegerType, nullable = false)) ++
      (if (allRows) Seq(
        StructField("row_ts", TimestampType, nullable = true),
        StructField("row_tie", LongType, nullable = false),
        StructField("cls", StringType, nullable = false)) ++
        condSchema.fields.toSeq.map(_.copy(nullable = true))
      // ONE-ROW CLASSIFIER (r14, ISO): the LAST matched row's label
      else if (oneRowClassifier) Seq(StructField("cls", StringType, nullable = false))
      else Nil) ++
      measures.map(m => condSchema(condSchema.fieldIndex(m.col)).copy(
        name = m.alias, nullable = true)) ++
      aggMeasures.map(m => StructField(m.alias, m.fn match {
        case "cnt" => LongType
        case "sum" => DecimalType(38, 6)
        case "avg" => DoubleType
        case _ => condSchema(condSchema.fieldIndex(m.col)).dataType
      }, nullable = true)) ++
      matchNumberAlias.map(a => StructField(a, LongType, nullable = false)))
    val measArr: Array[(Boolean, Int, Int, Boolean)] =
      measures.map(m => (m.isFirst, m.tok, condSchema.fieldIndex(m.col), m.running)).toArray
    val nMeas = measArr.length
    // (fnCode, tok, colIdx or -1 for '*', running)
    val aggMeasArr: Array[(Int, Int, Int, Boolean)] = aggMeasures.map(m =>
      (MrMatcher.fnCode(m.fn), m.tok, if (m.col == "*") -1 else condSchema.fieldIndex(m.col),
        m.running)).toArray
    val nAggMeas = aggMeasArr.length
    val hasMatchNumber = matchNumberAlias.isDefined
    val aggFns: Array[Int] = aggMeasArr.map(_._1)
    // each measure target's variables: a variable itself, or a SUBSET's members
    val tokVars: Array[Array[Int]] =
      (0 until nTok).map(Array(_)).toArray ++ subsets.map(_._2.toArray)
    // per-row extras under ALL ROWS: row_ts, row_tie, cls, the condCols
    val nRowCols = if (allRows) 3 + nCond else 0
    // ONE-ROW CLASSIFIER slot (mutually exclusive with allRows by the
    // require above)
    val nClsCols = if (oneRowClassifier) 1 else 0
    // the MATCH_NUMBER output slot — stamped at EMISSION time (emitNow /
    // the pending flush), never at render time, so deferred SKIP TO NEXT
    // ROW winners take their ordinal in start order (r15)
    val ordIdx = 5 + (if (allRows) nRowCols else nClsCols) + nMeas + nAggMeas
    // RUNNING-aggregate fold membership: measure am folds rows classified as
    // variable gv (the target itself, or a member of the target SUBSET)
    val aggFoldTarget: Array[Array[Boolean]] = aggMeasures.map { m =>
      val a = new Array[Boolean](nTok)
      if (m.tok < nTok) a(m.tok) = true
      else subsets(m.tok - nTok)._2.foreach(u => a(u) = true)
      a
    }.toArray

    implicit val outEnc = Encoders.row(outSchema)
    implicit val stEnc = Encoders.kryo[Buf]
    implicit val keyEnc = Encoders.STRING

    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    // projection layout: 0 = key, 1 = ts, 2 = tie, 3.. = cond columns as-is
    val sel = df.select(
      col(keyCol).cast("string").as("__mr_key") +:
        col(tsCol).cast("timestamp").as("__mr_ts") +:
        col(tieCol).cast("long").as("__mr_tie") +:
        condCols.map(col): _*)
    val srcQ = StreamingOps.withTtlWatermark(sel, "__mr_ts", ttl)

    /** Per-key still-OPEN attempt count at expiry — the open-tail contract. */
    def openRuns(buf: Buf): Int =
      if (cursorMode) { if (buf.cursor < buf.cells.length) 1 else 0 }
      else buf.undecided.count(identity)

    // the open-tail contract, made observable (r12): a key expiring with a
    // still-OPEN attempt is a run that never decided and never emitted — the
    // bounded-stream tail a user previously saw only by diffing against the
    // batch scan. Counted per expiring key into the caller's named
    // accumulator and logged; keys on a bounded stream WITHOUT a TTL never
    // time out, so the harness diff stays the oracle there (scaladoc).
    def reportOpenTails(key: String, bufOpt: Option[Buf]): Unit =
      openTailAcc.foreach { acc =>
        bufOpt.foreach { buf =>
          val open = openRuns(buf)
          if (open > 0) {
            acc.add(open.toLong)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"StreamingMatchRecognize: key '$key' expired (TTL) with $open undecided " +
                "open attempt(s) — runs that never completed and were never emitted")
          }
        }
      }

    /** TTL-expiry flush of the SKIP TO NEXT ROW deferral buffer (r15): the
      * pending entries are DECIDED winners that waited only for an earlier
      * undecided start; at expiry those open starts are abandoned (the
      * open-tail contract — they never emit), so the winners take the next
      * ordinals in start order, exactly what the batch scan assigns on a
      * series where those starts never complete.
      */
    def flushPendingAtExpiry(bufOpt: Option[Buf]): Seq[Row] =
      bufOpt.filter(_.pending.nonEmpty).fold(Seq.empty[Row]) { buf =>
        var seq = buf.matchSeq
        buf.pending.sortBy(_._1).iterator.flatMap { case (_, rows) =>
          if (hasMatchNumber) { seq += 1L; rows.foreach(v => v(ordIdx) = seq) }
          rows.iterator.map(v => new GenericRow(v): Row)
        }.toSeq
      }

    /** The per-key micro-batch step, shared VERBATIM by both state engines
      * (r13): append the batch's rows in (ts, tie) order, walk the selection
      * frontier, emit decided winners, evict the decided prefix. Returns
      * (new state, emitted rows, newest appended event-time micros —
      * Long.MinValue when every row was late-dropped).
      */
    def processKey(key: String, rows: Iterator[Row], prior: Option[Buf]): (Buf, Seq[Row], Long) = {
          {
            val buf = prior.getOrElse(
              Buf(Array.empty, Array.empty, Array.empty, 0, Array.empty))
            val out = Seq.newBuilder[Row]
            var newest = Long.MinValue
            var late = 0

            var matchSeq = buf.matchSeq
            val cellsB = ArrayBuffer.from(buf.cells)
            val rowsB = cellsB.map(a => new GenericRow(a): Row).to(ArrayBuffer)
            val tssB = ArrayBuffer.from(buf.tsMicros)
            val tiesB = ArrayBuffer.from(buf.ties)
            val undecB = ArrayBuffer.from(buf.undecided)
            var cursor = buf.cursor
            // SKIP TO NEXT ROW + MATCH_NUMBER deferral (r15): decided
            // winners held behind the undecided frontier, flushed in start
            // order; positions are buffer-relative and shift with drops
            val pendB = ArrayBuffer.from(buf.pending)
            // the emitters RENDER here (ordinal slot unstamped); emitNow
            // stamps + publishes
            val rendered = ArrayBuffer.empty[Array[Any]]
            def emitNow(rows: Iterable[Array[Any]]): Unit = {
              if (hasMatchNumber) { matchSeq += 1L; rows.foreach(v => v(ordIdx) = matchSeq) }
              rows.foreach(v => out += new GenericRow(v))
            }

            val finAcc = new MrMatcher.Agg(aggFns)
            val runAcc = new MrMatcher.Agg(aggFns)
            val m = new Matcher(prog, nTok, withinUs, rowsB, tssB, compiled)

            def cell(pos: Int, colI: Int): Any =
              if (colI < 0) java.lang.Boolean.TRUE // a row-count field counts every row
              else { val row = rowsB(pos); if (row.isNullAt(colI)) null else row.get(colI) }

            /** FIRST/LAST of measure target `tok` (a variable, or a SUBSET
              * union at `nTok + i`) at or before buffer position `limit` —
              * Int.MaxValue is the FINAL whole-match view, any other the
              * RUNNING view at that row (NULL before the target's run begins).
              */
            def valueMeasureAt(isFirst: Boolean, tok: Int, colI: Int, limit: Int): Any = {
              val at = if (isFirst) m.firstRowIn(tokVars(tok), limit) else m.lastRowIn(tokVars(tok), limit)
              if (at < 0) null else cell(at, colI)
            }

            /** The FINAL aggregate measures (the non-running ones) of the
              * winner just resolved.
              */
            def finalAggs(): Array[Any] = {
              finAcc.clear()
              val vals = new Array[Any](nAggMeas)
              var am = 0
              while (am < nAggMeas) {
                val (_, tok, colI, running) = aggMeasArr(am)
                if (!running) {
                  m.foldRuns(finAcc, am, tokVars(tok))(cell(_, colI))
                  vals(am) = finAcc.result(am)
                }
                am += 1
              }
              vals
            }

            /** ONE ROW PER MATCH for the winner starting at buffer position
              * p: the QMatch columns plus the value/aggregate measures read
              * from the WINNING placement.
              */
            def emitMatch(p: Int, len: Int): Unit = {
              val vals = new Array[Any](5 + nClsCols + nMeas + nAggMeas +
                (if (hasMatchNumber) 1 else 0))
              vals(0) = key
              vals(1) = toTs(tssB(p))
              vals(2) = toTs(tssB(p + len - 1))
              vals(3) = tiesB(p)
              vals(4) = len
              if (oneRowClassifier) vals(5) = varNames(m.lastVar) // ISO: the LAST matched row's label
              var i = 0
              while (i < nMeas) {
                val (isFirst, tok, colI, _) = measArr(i)
                vals(5 + nClsCols + i) = valueMeasureAt(isFirst, tok, colI, Int.MaxValue)
                i += 1
              }
              System.arraycopy(finalAggs(), 0, vals, 5 + nClsCols + nMeas, nAggMeas)
              // the MATCH_NUMBER slot (ordIdx) stays unstamped here; emitNow
              // or the pending flush assigns it in emission order
              rendered += vals
            }

            /** ALL ROWS PER MATCH (r12): one output row per NON-EXCLUDED
              * matched row of the decided winner, in row order — the batch
              * scan's emission chain as a standing query. FINAL measures are
              * computed once per match; RUNNING value measures read the
              * placement clipped at the emitted row; RUNNING aggregates keep
              * incremental accumulators (never a per-row prefix rescan), and
              * an excluded `{- X -}` row folds into them BEFORE the next
              * emitted row, exactly the batch contract. All rows of a match
              * emit in the micro-batch that decides the winner.
              */
            def emitMatchRows(p: Int, len: Int): Unit = {
              val finVals = new Array[Any](nMeas)
              locally { var i = 0
                while (i < nMeas) {
                  val (isFirst, tok, colI, running) = measArr(i)
                  if (!running) finVals(i) = valueMeasureAt(isFirst, tok, colI, Int.MaxValue)
                  i += 1
                } }
              val finAgg = finalAggs()
              runAcc.clear()
              val startTs = toTs(tssB(p)); val endTs = toTs(tssB(p + len - 1))
              val startTie = tiesB(p)
              var t = 0
              while (t < m.pathLen) {
                val gv = m.pathVar(t)
                var r = 0
                while (r < m.pathCount(t)) {
                  val pos = m.pathStart(t) + r
                  val row = rowsB(pos)
                  // fold into RUNNING accumulators BEFORE the exclusion check
                  var am = 0
                  while (am < nAggMeas) {
                    val (_, _, colI, running) = aggMeasArr(am)
                    if (running && aggFoldTarget(am)(gv)) runAcc.add(am, cell(pos, colI))
                    am += 1
                  }
                  if (!m.pathExcl(t)) { // {- X -}: matched but not emitted
                    val vals = new Array[Any](5 + nRowCols + nMeas + nAggMeas +
                      (if (hasMatchNumber) 1 else 0))
                    vals(0) = key; vals(1) = startTs; vals(2) = endTs
                    vals(3) = startTie; vals(4) = len
                    vals(5) = toTs(tssB(pos)); vals(6) = tiesB(pos); vals(7) = varNames(gv)
                    var ci = 0
                    while (ci < nCond) {
                      vals(8 + ci) = if (row.isNullAt(ci)) null else row.get(ci)
                      ci += 1
                    }
                    var i = 0
                    while (i < nMeas) {
                      val (isFirst, tok, colI, running) = measArr(i)
                      vals(5 + nRowCols + i) =
                        if (running) valueMeasureAt(isFirst, tok, colI, pos) else finVals(i)
                      i += 1
                    }
                    var am2 = 0
                    while (am2 < nAggMeas) {
                      vals(5 + nRowCols + nMeas + am2) =
                        if (aggMeasArr(am2)._4) runAcc.result(am2) else finAgg(am2)
                      am2 += 1
                    }
                    // ordinal slot stamped at emission (emitNow / flush)
                    rendered += vals
                  }
                  r += 1
                }
                t += 1
              }
            }

            /** Render the winner at `p` (both shapes) — rows with the
              * MATCH_NUMBER slot unstamped; the caller emits or defers.
              */
            def render(p: Int, len: Int): Array[Array[Any]] = {
              rendered.clear()
              if (allRows) emitMatchRows(p, len) else emitMatch(p, len)
              rendered.toArray
            }

            rows.toSeq.sortBy(r => (StreamingOps.tsMicros(r.getTimestamp(1)),
              if (r.isNullAt(2)) 0L else r.getLong(2))).foreach { r =>
              val us = StreamingOps.tsMicros(r.getTimestamp(1))
              val tie = if (r.isNullAt(2)) 0L else r.getLong(2)
              if (tssB.nonEmpty && (us < tssB.last || (us == tssB.last && tie < tiesB.last))) {
                // a late event below the buffer tail: appending it would
                // silently corrupt PREV navigation and run detection — drop
                // it (the watermark rule) and report loudly after the batch
                late += 1
              } else {
                newest = math.max(newest, us)
                val cells = new Array[Any](nCond)
                var ci = 0
                while (ci < nCond) {
                  cells(ci) = if (r.isNullAt(3 + ci)) null else r.get(3 + ci)
                  ci += 1
                }
                cellsB += cells; rowsB += new GenericRow(cells); tssB += us; tiesB += tie
                if (!cursorMode) undecB += true
                if (cursorMode) {
                  // the buffer cursor is the selection frontier: only the
                  // oldest unresolved start may decide (an older open start
                  // can still consume a younger one's rows). The skip
                  // strategy picks the cursor's NEXT position — past the
                  // match (skip-past) or AT a placed variable's first/last
                  // row (the overlapping-runs strategies, r14); either way
                  // the cursor strictly advances, so the walk terminates.
                  var walking = true
                  while (walking && cursor < rowsB.length) {
                    m.resolve(cursor) match {
                      case -1 => walking = false
                      case 0 => cursor += 1
                      case len =>
                        emitNow(render(cursor, len)) // positional: ordinal = batch __mr_seq
                        cursor = m.skipTarget(skip, cursor, len, varNames)
                    }
                  }
                  val drop = math.max(0, cursor - navDepth)
                  if (drop > 0) {
                    cellsB.remove(0, drop); rowsB.remove(0, drop)
                    tssB.remove(0, drop); tiesB.remove(0, drop)
                    cursor -= drop
                  }
                } else {
                  // SKIP TO NEXT ROW: every start decides independently
                  var p = 0
                  while (p < rowsB.length) {
                    if (undecB(p)) {
                      m.resolve(p) match {
                        case -1 => ()
                        case 0 => undecB(p) = false
                        case w =>
                          // with MATCH_NUMBER, a winner must take its
                          // ordinal in START order: defer it behind the
                          // undecided frontier (flushed below); without,
                          // decide-order emission is the unchanged contract
                          if (hasMatchNumber) pendB += ((p, render(p, w)))
                          else emitNow(render(p, w))
                          undecB(p) = false
                      }
                    }
                    p += 1
                  }
                  val firstUndec = undecB.indexOf(true) match {
                    case -1 => rowsB.length
                    case i => i
                  }
                  // flush deferred winners whose start cleared the frontier
                  // — every earlier start is decided, so the start-order
                  // ordinal is final (batch-equal)
                  if (pendB.nonEmpty) {
                    pendB.sortInPlaceBy(_._1)
                    while (pendB.nonEmpty && pendB.head._1 < firstUndec)
                      emitNow(pendB.remove(0)._2)
                  }
                  val drop = math.max(0, firstUndec - navDepth)
                  if (drop > 0) {
                    cellsB.remove(0, drop); rowsB.remove(0, drop)
                    tssB.remove(0, drop); tiesB.remove(0, drop)
                    undecB.remove(0, drop)
                    // surviving deferred starts are >= firstUndec > drop:
                    // shift them into the post-drop coordinates
                    var pi = 0
                    while (pi < pendB.length) {
                      val (s, r) = pendB(pi); pendB(pi) = (s - drop, r); pi += 1
                    }
                  }
                }
              }
            }
            if (late > 0) {
              lateRows.foreach(_.add(late.toLong))
              org.slf4j.LoggerFactory.getLogger(getClass).error(
                s"StreamingMatchRecognize: dropped $late late event(s) for key '$key' " +
                  "arriving below the buffer tail — per-key event-time order across " +
                  "micro-batches is the operator's contract (see scaladoc); configure " +
                  "a TTL watermark or repair the upstream ordering")
            }
            (Buf(cellsB.toArray, tssB.toArray, tiesB.toArray,
              cursor, undecB.toArray, matchSeq, pendB.toArray), out.result(), newest)
          }
    }

    val proc = new StatefulProcessor[String, Row, Row] {
      @transient private var st: ValueState[Buf] = _
      override def init(om: OutputMode, tm: TimeMode): Unit =
        // TTL rides explicit event-time timers below (TTLConfig's own
        // expiry is processing-time and silent — it would drop open
        // tails uncounted)
        st = getHandle.getValueState[Buf]("mrbuf", stEnc, TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Row],
                                   tv: TimerValues): Iterator[Row] = {
        val (nb, out, newest) = processKey(key, rows, Option(st.get()))
        st.update(nb)
        stateProbe.foreach(_.add(nb.cells.length.toLong)) // peak retained rows per key
        StreamingOps.resetTtlTimer(getHandle, ttl, newest, tv)
        out.iterator
      }
      override def handleExpiredTimer(key: String, tv: TimerValues,
                                      info: ExpiredTimerInfo): Iterator[Row] = {
        val bufOpt = Option(st.get())
        reportOpenTails(key, bufOpt)
        val flushed = flushPendingAtExpiry(bufOpt)
        st.clear()
        flushed.iterator
      }
    }
    srcQ.groupByKey(_.getString(0))
      .transformWithState(proc, StreamingOps.ttlTimeMode(ttl), OutputMode.Append())
      .toDF()
  }
}
