package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.{MatchRecognize, MrConditions}

/** Streaming MATCH_RECOGNIZE over VALUE predicates — the ticker idiom
  * (`D AS D.value < PREV(D.value)`) as a standing query, which the typed
  * operator ([[StreamingSequenceMatchQ]], literal type tokens only) cannot
  * express (r10; Flink's CEP runs these natively, so a reference user's
  * first streaming value pattern lands here).
  *
  * Semantics contract: identical greedy leftmost-longest selection to the
  * batch NFA scan ([[MatchRecognize.scan]]) — bounded, unbounded AND
  * reluctant quantifiers, cross-variable / FIRST() / logical-offset DEFINE
  * conditions — decided with the streaming twins' open/dead/winner rules: a
  * run still extensible by future events stays OPEN until a breaking event,
  * the WITHIN horizon, or (reluctant) the shortest completion the moment it
  * exists. On a closed stream the emitted spans equal the batch scan's
  * row-for-row (spec-pinned).
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
  * arriving BELOW the buffer tail is detected, counted, logged loudly at
  * ERROR, and DROPPED — the watermark rule applied even when no TTL
  * watermark is configured — rather than silently corrupting PREV navigation
  * and run detection.
  *
  * Scale shape: one `groupByKey(key)` shuffle; per-key state is the rows
  * from `navDepth` before the selection frontier onward (navDepth = the
  * deepest PREV offset any condition uses) — the typed operator's
  * decided-prefix eviction plus that margin, so state is O(longest open
  * attempt + navDepth), event-time-capped by WITHIN and wall-capped by the
  * TTL. Buffered rows wrap their cell arrays in a [[GenericRow]] ONCE at
  * append/restore time — the interpreter's per-read path allocates nothing.
  * Nothing reaches the driver.
  *
  * State engine (r13): on a session with the RocksDB state store provider
  * (the [[graft.core.Graft.session]] default) the operator runs on
  * `transformWithState` — state off-heap in RocksDB, TTL via explicit
  * event-time timers, the backend that survives 100M+ standing keys; other
  * sessions keep `flatMapGroupsWithState` (heap state). Both engines run
  * the same per-key step, so outputs are identical by construction.
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
// the flatMapGroupsWithState lambda captures the module reference; Scala
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

  /** Mutable evaluation context over the growing per-key buffers; rows are
    * pre-wrapped GenericRows over the stored cell arrays (zero per-read
    * allocation). `placedA` carries the attempt path's committed placements
    * so cross-variable visibility is PATH-positional — the program-order
    * generalization of the batch scan's placedBefore rule (r12).
    */
  private final class Cx(rowsB: ArrayBuffer[Row], val startsA: Array[Int],
                         val countsA: Array[Int], val placedA: Array[Boolean])
    extends MrConditions.Ctx {
    var curPos = 0
    var self = 0
    var runStart = 0
    var maxP = 0
    def cur: Row = rowsB(curPos)
    def rowAt(pos: Int): Row = rowsB(pos)
    def selfTok: Int = self
    def selfRunStart: Int = runStart
    def selfPos: Int = curPos
    def starts: Array[Int] = startsA
    def counts: Array[Int] = countsA
    override def maxPos: Int = maxP
    override def placedBefore(tok: Int): Boolean = placedA(tok)
  }

  /** Linear-sequence entry (the pre-r11 surface, unchanged): every token is
    * one variable in pattern order, one branch.
    */
  def apply(df: DataFrame, keyCol: String, condCols: Seq[String],
            tsCol: String, tieCol: String,
            tokens: Seq[MatchRecognize.MrTok], defs: Seq[Option[String]],
            withinMicros: Long = 0L, ttlSeconds: Long = 0L,
            ttlWatermarkDelay: String = "0 seconds",
            skip: MatchRecognize.Skip = MatchRecognize.SkipPastLastRow,
            stateProbe: Option[StreamingOps.MaxAccumulator] = None,
            measures: Seq[MrMeasure] = Seq.empty,
            aggMeasures: Seq[MrAggMeasure] = Seq.empty,
            matchNumberAlias: Option[String] = None): DataFrame = {
    require(tokens.nonEmpty, "pattern must name at least one token")
    val branch = tokens.zipWithIndex
      .map { case (t, i) => MatchRecognize.BTok(i, t.lo, t.hi, t.reluctant) }.toIndexedSeq
    applyPattern(df, keyCol, condCols, tsCol, tieCol, tokens.map(_.name), Seq(branch),
      defs, withinMicros, ttlSeconds, ttlWatermarkDelay, skip, stateProbe, measures,
      aggMeasures, matchNumberAlias)
  }

  private val AggFnCode = Map("cnt" -> 0, "sum" -> 1, "min" -> 2, "max" -> 3, "avg" -> 4)

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
                   withinMicros: Long = 0L, ttlSeconds: Long = 0L,
                   ttlWatermarkDelay: String = "0 seconds",
                   skip: MatchRecognize.Skip = MatchRecognize.SkipPastLastRow,
                   stateProbe: Option[StreamingOps.MaxAccumulator] = None,
                   measures: Seq[MrMeasure] = Seq.empty,
                   aggMeasures: Seq[MrAggMeasure] = Seq.empty,
                   matchNumberAlias: Option[String] = None,
                   tree: Option[graft.operators.MrPattern.Node] = None,
                   allRows: Boolean = false,
                   subsets: Seq[(String, Seq[Int])] = Seq.empty,
                   openTailAcc: Option[org.apache.spark.util.LongAccumulator] = None,
                   oneRowClassifier: Boolean = false): DataFrame = {
    val nTok = varNames.size
    // cursor-mode strategies (skip-past and the variable-targeted skips, r14)
    // share the selection-frontier walk: emission is strictly positional, so
    // MATCH_NUMBER ordinals stay batch-equal; only SKIP TO NEXT ROW decides
    // starts independently (the undecided-flags walk)
    val cursorMode = skip != MatchRecognize.SkipToNextRow
    skip match {
      case MatchRecognize.SkipToFirst(i) =>
        require(i >= 0 && i < nTok, s"skip target out of range: $i")
      case MatchRecognize.SkipToLast(i) =>
        require(i >= 0 && i < nTok, s"skip target out of range: $i")
      case _ => ()
    }
    val nSub = subsets.size
    require(condCols.nonEmpty, "conditions must reference at least one column")
    require(nTok > 0, "pattern must name at least one variable")
    require(varNames.distinct.size == nTok, s"duplicate variable name in $varNames")
    require(branches.nonEmpty, "pattern must carry at least one branch")
    subsets.foreach { case (nm, members) =>
      require(members.nonEmpty, s"SUBSET $nm needs at least one member variable")
      require(members.forall(m => m >= 0 && m < nTok),
        s"SUBSET $nm references an unknown variable index")
      require(members.distinct.size == members.size, s"SUBSET $nm repeats a member")
      require(!varNames.contains(nm), s"SUBSET $nm collides with a pattern variable name")
    }
    require(subsets.map(_._1).distinct.size == nSub, "duplicate SUBSET name")
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
      if (m.col != "*") {
        val dt = df.schema(m.col).dataType
        if (m.fn == "sum" || m.fn == "avg")
          require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
            s"${m.fn.toUpperCase} MEASURES column '${m.col}' must be numeric, got ${dt.simpleString}")
        if (m.fn == "min" || m.fn == "max")
          require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] || (dt match {
            case StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
            case _ => false
          }), s"${m.fn.toUpperCase} MEASURES column '${m.col}' must have an orderable atomic " +
            s"type, got ${dt.simpleString}")
      }
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
    if (branches.exists(_.exists(_.hi.isEmpty)) && withinMicros == 0L && ttlSeconds == 0L)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "StreamingMatchRecognize: unbounded quantifier with neither withinMicros nor " +
          "ttlSeconds — an unbroken greedy run grows per-key state without bound and " +
          "never emits; set a WITHIN bound (and/or a TTL >= it) to cap state age")
    // MATCH_NUMBER + SKIP TO NEXT ROW defers decided winners behind the
    // undecided frontier (r15); a permanently-undecided earlier start (an
    // open tail that no future event ever breaks) then withholds them
    // FOREVER when no TTL exists — on a bounded drain they never emit where
    // batch emits them (r15 ADVICE). The TTL-expiry flush is the release
    // valve; without one, warn loudly up front.
    if (matchNumberAlias.isDefined && skip == MatchRecognize.SkipToNextRow && ttlSeconds == 0L)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "StreamingMatchRecognize: MATCH_NUMBER() under SKIP TO NEXT ROW without a TTL — " +
          "a decided winner behind a permanently-undecided earlier start is withheld " +
          "until TTL expiry flushes it, and with no TTL that is FOREVER (a bounded drain " +
          "will omit it where the batch scan emits it); configure 'sql.state-ttl' (or the " +
          "operator's ttlSeconds) so abandoned open tails release their deferred winners")

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
    val prog: graft.operators.MrProg = tree
      .map(t => graft.operators.MrProg.ofTree(t, varIdx))
      .getOrElse(graft.operators.MrProg.ofBranches(branches))
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
      (AggFnCode(m.fn), m.tok, if (m.col == "*") -1 else condSchema.fieldIndex(m.col),
        m.running)).toArray
    val nAggMeas = aggMeasArr.length
    val hasMatchNumber = matchNumberAlias.isDefined
    val subMembersArr: Array[Array[Int]] = subsets.map(_._2.toArray).toArray
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
    val srcQ = if (ttlSeconds > 0) sel.withWatermark("__mr_ts", ttlWatermarkDelay) else sel

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

            val starts = new Array[Int](nTok)
            val counts = new Array[Int](nTok)
            val placed = new Array[Boolean](nTok)
            val cx = new Cx(rowsB, starts, counts, placed)
            // program tables (hoisted for the hot loop)
            val pKind = prog.kind; val pV = prog.v
            val pLo = prog.lo; val pHi = prog.hi
            val pRel = prog.rel; val pExcl = prog.excl
            val pNxt = prog.nxt; val pAlts = prog.alts
            // the winning attempt path in ROW order (ALL ROWS emission and
            // exclusion need the order; depth <= nTok)
            val pathVar = new Array[Int](nTok)
            val pathStart = new Array[Int](nTok)
            val pathCount = new Array[Int](nTok)
            val pathExcl = new Array[Boolean](nTok)
            var pathLen = 0

            /** 1 holds, 0 not, -1 undecidable until the successor arrives. */
            def predOk(gv: Int, pos: Int, runStart: Int): Int = {
              val d = compiled(gv)
              if (d == null) 1
              else {
                cx.self = gv; cx.runStart = runStart; cx.curPos = pos
                d.holdsOrDefer(cx)
              }
            }

            /** >0 winner len, -1 open, 0 dead — the batch program walk
              * (choice points at their written positions, ISO preferment)
              * with the streaming open rules: the FIRST non-dead outcome in
              * preference order decides, so an OPEN possibility met before
              * any completed match defers the WHOLE position (a lower-
              * preference match must not pre-empt a higher-preference
              * attempt that future events may yet complete). A NEXT() read
              * past the newest row aborts the whole attempt to OPEN
              * (decision deferred one event).
              */
            def resolve(p: Int): Int = {
              val len = rowsB.length
              val futureViolated = withinUs > 0L && tssB(len - 1) - tssB(p) > withinUs
              java.util.Arrays.fill(counts, 0)
              java.util.Arrays.fill(placed, false)
              pathLen = 0
              def walk(ip: Int, pos: Int): Int = pKind(ip) match {
                case 2 => if (pos > p) pos - p else 0 // the empty match never selects
                case 1 =>
                  val ts = pAlts(ip)
                  var i = 0
                  while (i < ts.length) {
                    val r = walk(ts(i), pos)
                    if (r != 0) return r // winner or open — both stop lower preference
                    i += 1
                  }
                  0
                case _ =>
                  val gv = pV(ip)
                  starts(gv) = pos
                  // scan the run, capped at the quantifier's hi — rows beyond
                  // the cap are never placed, so they must not defer/decide
                  var avail = 0
                  var stop = 0 // 1 pred-false, 2 buffer-end, 3 within, 4 cap
                  while (stop == 0) {
                    if (avail >= pHi(ip)) stop = 4
                    else if (pos + avail >= len) stop = 2
                    else if (withinUs > 0L && tssB(pos + avail) - tssB(p) > withinUs) stop = 3
                    else predOk(gv, pos + avail, pos) match {
                      case 1 => avail += 1
                      case 0 => stop = 1
                      case _ => throw MrConditions.NotYet
                    }
                  }
                  // stop==2 implies avail < hi (cap checked first): the run is
                  // still extensible by future events unless the horizon is
                  // already past every extension
                  val openHere = stop == 2 && !futureViolated
                  val d = pathLen
                  pathVar(d) = gv; pathStart(d) = pos; pathExcl(d) = pExcl(ip)
                  def tryCount(k: Int): Int = {
                    counts(gv) = k
                    pathCount(d) = k
                    placed(gv) = true
                    pathLen = d + 1
                    val r = walk(pNxt(ip), pos + k)
                    if (r == 0) { pathLen = d; placed(gv) = false }
                    r
                  }
                  if (pRel(ip)) {
                    // lazy: shortest first; a win or an open at count k blocks
                    // every longer k, and only an all-dead scan of an
                    // extensible run stays open
                    var c = pLo(ip)
                    while (c <= avail) {
                      val r = tryCount(c)
                      if (r != 0) return r
                      c += 1
                    }
                    if (openHere) return -1
                    counts(gv) = 0
                    0
                  } else {
                    if (openHere) return -1
                    var c = avail
                    while (c >= pLo(ip)) {
                      val r = tryCount(c)
                      if (r != 0) return r
                      c -= 1
                    }
                    counts(gv) = 0
                    0
                  }
              }
              try walk(prog.entry, p) catch { case MrConditions.NotYet => -1 }
            }

            /** Buffer position of variable i's FIRST matched row on the
              * winning path, -1 when the variable matched no rows — valid
              * right after a winning resolve. A variable can occupy several
              * path entries (PATTERN (A B A)) and any placement can be an
              * empty run; ISO's first/last-row-mapped skip semantics need the
              * zero-count entries skipped and, for LAST, the scan to run from
              * the END — identical to the batch scan's firstRowOf/lastRowOf.
              */
            def firstRowOf(i: Int): Int = {
              var t = 0
              while (t < pathLen && !(pathVar(t) == i && pathCount(t) > 0)) t += 1
              if (t == pathLen) -1 else pathStart(t)
            }

            /** Buffer position of variable i's LAST matched row, -1 when absent. */
            def lastRowOf(i: Int): Int = {
              var t = pathLen - 1
              while (t >= 0 && !(pathVar(t) == i && pathCount(t) > 0)) t -= 1
              if (t < 0) -1 else pathStart(t) + pathCount(t) - 1
            }

            /** The cursor's next position after a winner at `p` of length
              * `len` — the batch scan's skipAdvance in buffer-absolute form
              * (r14). The variable-targeted strategies resume AT the target
              * variable's first/last matched row, so matches may OVERLAP (a
              * later match starts inside the previous span); an empty-run
              * target or a self-re-anchor fails loudly, the standard's
              * infinite-loop rules — identical to the batch scan and Flink.
              */
            def skipAdvanceTo(p: Int, len: Int): Int = skip match {
              case MatchRecognize.SkipPastLastRow => p + len
              case MatchRecognize.SkipToFirst(i) =>
                val pos = firstRowOf(i)
                if (pos < 0) sys.error(s"AFTER MATCH SKIP TO FIRST ${varNames(i)}: " +
                  "the variable matched no rows in the selected match")
                if (pos == p) sys.error(s"AFTER MATCH SKIP TO FIRST ${varNames(i)} would " +
                  "re-anchor at the match's own start row (infinite loop)")
                pos
              case MatchRecognize.SkipToLast(i) =>
                val pos = lastRowOf(i)
                if (pos < 0) sys.error(s"AFTER MATCH SKIP TO LAST ${varNames(i)}: " +
                  "the variable matched no rows in the selected match")
                if (pos == p) sys.error(s"AFTER MATCH SKIP TO LAST ${varNames(i)} would " +
                  "re-anchor at the match's own start row (infinite loop)")
                pos
              case MatchRecognize.SkipToNextRow =>
                throw new IllegalStateException("unreachable: SKIP TO NEXT ROW never walks " +
                  "the cursor")
            }

            /** Placed runs of measure target `m` — a variable, or a SUBSET
              * union (`nTok + i`): the member runs pooled in row order —
              * packed (start << 32 | len). Valid right after a winning
              * resolve (a successful recursion returns without mutation).
              */
            def runsOf(m: Int): Array[Long] =
              if (m < nTok) {
                if (counts(m) > 0)
                  Array((starts(m).toLong << 32) | (counts(m).toLong & 0xffffffffL))
                else Array.emptyLongArray
              } else subMembersArr(m - nTok).filter(u => counts(u) > 0).sortBy(starts(_))
                .map(u => (starts(u).toLong << 32) | (counts(u).toLong & 0xffffffffL))

            /** FIRST/LAST over runs. `limitPos < 0` = the FINAL whole-match
              * view; otherwise the RUNNING view at that buffer position
              * (rows at or before it; NULL before the target's run begins).
              */
            def valueMeasureAt(isFirst: Boolean, rs: Array[Long], colI: Int,
                               limitPos: Int): Any = {
              var firstIdx = -1; var lastIdx = -1
              var i = 0
              while (i < rs.length) {
                val s = (rs(i) >> 32).toInt; val c = rs(i).toInt
                if (limitPos < 0 || s <= limitPos) {
                  if (firstIdx < 0) firstIdx = s
                  val e = s + c - 1
                  val eEff = if (limitPos < 0) e else math.min(e, limitPos)
                  if (eEff > lastIdx) lastIdx = eEff
                }
                i += 1
              }
              val at = if (isFirst) firstIdx else lastIdx
              if (at < 0) null
              else {
                val row = rowsB(at)
                if (row.isNullAt(colI)) null else row.get(colI)
              }
            }

            /** Aggregate over runs (same exactness contract as the batch
              * scan: exact HALF_UP-scale-6 decimal sums, one-division avg,
              * natural-order min/max with strings in code-point order,
              * non-null counting).
              */
            def aggOverRuns(fn: Int, rs: Array[Long], colI: Int): Any = {
              var cntAcc = 0L
              var dec: java.math.BigDecimal = null; var nd = 0L
              var cmp: Any = null
              var i = 0
              while (i < rs.length) {
                val s = (rs(i) >> 32).toInt; val e = s + rs(i).toInt - 1
                var pos = s
                while (pos <= e) {
                  val row = rowsB(pos)
                  fn match {
                    case 0 => if (colI < 0 || !row.isNullAt(colI)) cntAcc += 1L
                    case 1 | 4 => if (!row.isNullAt(colI)) {
                      val d = MatchRecognize.toDecimal6(row.get(colI))
                      dec = if (dec == null) d else dec.add(d)
                      nd += 1L
                    }
                    case _ => if (!row.isNullAt(colI)) {
                      val v = row.get(colI)
                      if (cmp == null) cmp = v
                      else {
                        val r = MatchRecognize.compareMeasure(v, cmp)
                        if ((fn == 2 && r < 0) || (fn == 3 && r > 0)) cmp = v
                      }
                    }
                  }
                  pos += 1
                }
                i += 1
              }
              fn match {
                case 0 => cntAcc
                case 1 => dec // scale-6 by construction (DecimalType(38,6))
                case 4 => if (dec == null) null
                  else java.lang.Double.valueOf(dec.doubleValue() / nd)
                case _ => cmp
              }
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
              if (oneRowClassifier) {
                // ISO ONE-ROW CLASSIFIER: the LAST matched row's label — the
                // deepest path entry that placed at least one row (matchLen >
                // 0 guarantees one exists)
                var t = pathLen - 1
                while (t >= 0 && pathCount(t) == 0) t -= 1
                vals(5) = varNames(pathVar(t))
              }
              var m = 0
              while (m < nMeas) {
                val (isFirst, tok, colI, _) = measArr(m)
                vals(5 + nClsCols + m) = valueMeasureAt(isFirst, runsOf(tok), colI, -1)
                m += 1
              }
              var am = 0
              while (am < nAggMeas) {
                val (fn, tok, colI, _) = aggMeasArr(am)
                vals(5 + nClsCols + nMeas + am) = aggOverRuns(fn, runsOf(tok), colI)
                am += 1
              }
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
              val measRuns: Array[Array[Long]] =
                if (nMeas == 0) null else Array.tabulate(nMeas)(m => runsOf(measArr(m)._2))
              val finVals = new Array[Any](nMeas)
              locally { var m = 0
                while (m < nMeas) {
                  val (isFirst, _, colI, running) = measArr(m)
                  if (!running) finVals(m) = valueMeasureAt(isFirst, measRuns(m), colI, -1)
                  m += 1
                } }
              val finAgg = new Array[Any](nAggMeas)
              locally { var am = 0
                while (am < nAggMeas) {
                  val (fn, tok, colI, running) = aggMeasArr(am)
                  if (!running) finAgg(am) = aggOverRuns(fn, runsOf(tok), colI)
                  am += 1
                } }
              val accCnt = new Array[Long](nAggMeas)
              val accDec = new Array[java.math.BigDecimal](nAggMeas)
              val accN = new Array[Long](nAggMeas)
              val accCmp = new Array[Any](nAggMeas)
              val startTs = toTs(tssB(p)); val endTs = toTs(tssB(p + len - 1))
              val startTie = tiesB(p)
              var t = 0
              while (t < pathLen) {
                val gv = pathVar(t)
                var r = 0
                while (r < pathCount(t)) {
                  val pos = pathStart(t) + r
                  val row = rowsB(pos)
                  // fold into RUNNING accumulators BEFORE the exclusion check
                  var am = 0
                  while (am < nAggMeas) {
                    val (fn, _, colI, running) = aggMeasArr(am)
                    if (running && aggFoldTarget(am)(gv)) fn match {
                      case 0 => if (colI < 0 || !row.isNullAt(colI)) accCnt(am) += 1L
                      case 1 | 4 => if (!row.isNullAt(colI)) {
                        val d = MatchRecognize.toDecimal6(row.get(colI))
                        accDec(am) = if (accDec(am) == null) d else accDec(am).add(d)
                        accN(am) += 1L
                      }
                      case _ => if (!row.isNullAt(colI)) {
                        val v = row.get(colI)
                        if (accCmp(am) == null) accCmp(am) = v
                        else {
                          val c = MatchRecognize.compareMeasure(v, accCmp(am))
                          if ((fn == 2 && c < 0) || (fn == 3 && c > 0)) accCmp(am) = v
                        }
                      }
                    }
                    am += 1
                  }
                  if (!pathExcl(t)) { // {- X -}: matched but not emitted
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
                    var m = 0
                    while (m < nMeas) {
                      val (isFirst, _, colI, running) = measArr(m)
                      vals(5 + nRowCols + m) =
                        if (running) valueMeasureAt(isFirst, measRuns(m), colI, pos)
                        else finVals(m)
                      m += 1
                    }
                    var am2 = 0
                    while (am2 < nAggMeas) {
                      val (fn, _, _, running) = aggMeasArr(am2)
                      vals(5 + nRowCols + nMeas + am2) =
                        if (!running) finAgg(am2)
                        else fn match {
                          case 0 => accCnt(am2)
                          case 1 => accDec(am2)
                          case 4 => if (accDec(am2) == null) null
                            else java.lang.Double.valueOf(accDec(am2).doubleValue() / accN(am2))
                          case _ => accCmp(am2)
                        }
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
                cx.maxP = rowsB.length - 1
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
                    resolve(cursor) match {
                      case -1 => walking = false
                      case 0 => cursor += 1
                      case len =>
                        emitNow(render(cursor, len)) // positional: ordinal = batch __mr_seq
                        cursor = skipAdvanceTo(cursor, len)
                    }
                  }
                  val drop = math.max(0, cursor - navDepth)
                  if (drop > 0) {
                    cellsB.remove(0, drop); rowsB.remove(0, drop)
                    tssB.remove(0, drop); tiesB.remove(0, drop)
                    cursor -= drop
                    cx.maxP = rowsB.length - 1
                  }
                } else {
                  // SKIP TO NEXT ROW: every start decides independently
                  var p = 0
                  while (p < rowsB.length) {
                    if (undecB(p)) {
                      resolve(p) match {
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
                    cx.maxP = rowsB.length - 1
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
            if (late > 0)
              org.slf4j.LoggerFactory.getLogger(getClass).error(
                s"StreamingMatchRecognize: dropped $late late event(s) for key '$key' " +
                  "arriving below the buffer tail — per-key event-time order across " +
                  "micro-batches is the operator's contract (see scaladoc); configure " +
                  "a TTL watermark or repair the upstream ordering")
            (Buf(cellsB.toArray, tssB.toArray, tiesB.toArray,
              cursor, undecB.toArray, matchSeq, pendB.toArray), out.result(), newest)
          }
    }

    val grouped = srcQ.groupByKey(_.getString(0))
    // State-engine selection (r13, VERDICT r12 #6): per-key state is bounded
    // (O(longest open attempt + navDepth) rows), but at 100M+ standing keys a
    // heap-backed flatMapGroupsWithState store is the executor-memory
    // ceiling — the RocksDB state store is the scale-safe backend, reached
    // through transformWithState (ValueState + event-time timers for the
    // TTL, the TtlAnomaly pattern). Both engines run the SAME processKey, so
    // outputs are identical by construction; the session opts in by setting
    // the RocksDB provider (Graft.session/Bench.session do), and sessions on
    // the default heap provider — or batch execution of this operator — keep
    // the flatMapGroupsWithState path (transformWithState requires RocksDB).
    val useTws = df.isStreaming && df.sparkSession.conf
      .get("spark.sql.streaming.stateStore.providerClass", "")
      .contains("RocksDBStateStoreProvider")
    val result =
      if (useTws) {
        import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
        val proc = new org.apache.spark.sql.streaming.StatefulProcessor[String, Row, Row] {
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
            if (ttlSeconds > 0 && newest != Long.MinValue) {
              // re-arm the eviction timer at newest-event + ttl (clamped one
              // past the watermark — armTtl's rule)
              val timers = getHandle.listTimers()
              while (timers.hasNext) getHandle.deleteTimer(timers.next())
              val target = Math.floorDiv(newest, 1000L) + ttlSeconds * 1000L
              getHandle.registerTimer(math.max(target, tv.getCurrentWatermarkInMs() + 1L))
            }
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
        grouped.transformWithState(proc,
          if (ttlSeconds > 0) TimeMode.EventTime() else TimeMode.None(), OutputMode.Append())
      } else {
        grouped.flatMapGroupsWithState[Buf, Row](OutputMode.Append(),
          StreamingOps.ttlConf(ttlSeconds)) {
          (key: String, rows: Iterator[Row], state: GroupState[Buf]) =>
            if (state.hasTimedOut) {
              val bufOpt = state.getOption
              reportOpenTails(key, bufOpt)
              val flushed = flushPendingAtExpiry(bufOpt)
              state.remove(); flushed.iterator
            } else {
              val (nb, out, newest) = processKey(key, rows, state.getOption)
              state.update(nb)
              stateProbe.foreach(_.add(nb.cells.length.toLong)) // peak retained rows per key
              StreamingOps.armTtl(state, ttlSeconds, newest)
              out.iterator
            }
        }
      }
    result.toDF()
  }
}
