package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-pattern recognition by a per-key sequential cursor — the execution
  * shape MATCH_RECOGNIZE needs when the lead()-expansion rewrite cannot apply:
  * UNBOUNDED quantifiers (`A+`, `A*`, `A{m,}`) admit no fixed-length
  * alternative set, and `ALL ROWS PER MATCH` emits every matched row rather
  * than one per start.
  *
  * Division of labor (the r8 `skipPastSelect` architecture, generalized):
  *   - Catalyst evaluates every DEFINE predicate ONCE per row as a boolean
  *     column (lag/lead physical navigation included) — codegen'd, vectorized,
  *     pushdown-friendly; the scan never re-evaluates a predicate.
  *   - The scan itself is ONE Catalyst node, [[graft.core.MrScan]]: it
  *     requires its input clustered by the key and sorted by (key, order),
  *     so EnsureRequirements plans that exchange and sort — or reuses the
  *     DEFINE window's, so the whole operator costs a single shuffle — and
  *     its body streams each partition holding only the current match
  *     attempt's rows. Keys parallelize across partitions; nothing reaches
  *     the driver.
  *
  * Matching is the SQL-standard GREEDY semantics shared with the bounded
  * rewrite and [[graft.streaming.StreamingSequenceMatchQ]]: quantifier counts
  * are explored leftmost-longest-first (descending lexicographic), with
  * backtracking, so for bounded patterns the scan and the CASE-expansion
  * formulation select identical matches (spec-pinned). RELUCTANT quantifiers
  * (`A+?`/`A*?`/`A{m,n}?` — Flink's lazy forms, r10) flip that token's
  * exploration to ascending (shortest-first) while keeping leftmost priority,
  * on every surface identically. `AFTER MATCH SKIP PAST
  * LAST ROW` (the default) advances the cursor past a selected match —
  * matches never overlap; `SKIP TO NEXT ROW` advances one row — overlapping
  * matches all emit.
  *
  * ALTERNATION / PERMUTE / exclusion (r11): [[scanPattern]] takes the
  * [[MrPattern]]-expanded alternative BRANCHES and tries them in the
  * standard's preference order at each cursor position — the first branch
  * that matches wins (leftmost-alternative preference, ISO 9075-2 row-pattern
  * rules; PERMUTE is by definition its lexicographic alternation expansion).
  * Within a branch the greedy/reluctant quantifier machinery is unchanged.
  * A variable may appear in several branches but once per branch, so the
  * per-variable contiguous-run model (MEASURES structs, aggregates, skip
  * targets) holds per match: variables absent from the matched branch have
  * empty runs — NULL structs, cnt 0, and a SKIP TO target on them fails
  * loudly exactly like an empty-run target. Tokens marked `excluded`
  * (`{- X -}`, ALL ROWS only) match and count toward `__mr_len`, WITHIN and
  * MEASURES, but their rows are not emitted — the standard's output
  * exclusion.
  *
  * The per-key dependency chain is inherently sequential (every skip decision
  * depends on all earlier ones — `Behavior.skipPastSelect`'s contract);
  * memory is O(longest match attempt), which a `WITHIN` bound caps in event
  * time, and an unbounded greedy run (`A+` over an always-true DEFINE) can
  * stretch to the key's row count — the same bound any CEP engine has.
  *
  * Row-local DEFINE predicates (the variable's own current row plus PREV/NEXT
  * physical navigation) are precomputed Catalyst boolean columns — codegen'd,
  * zero per-row interpretation. Cross-variable and FIRST() DEFINEs (r10) ride
  * the optional `dynDefs` interpreted predicates ([[MrConditions]]): inside
  * one attempt every earlier variable's placement is fixed, so they read the
  * buffered rows directly. Under branches "earlier" means earlier in the
  * CURRENT branch (the context's `placedBefore`), not the global variable
  * order.
  *
  * Reference behavior covered: Flink's MATCH_RECOGNIZE accepts unbounded
  * quantifiers (confluent docs, flink-sql match_recognize) which the r8
  * bounded rewrite refused; ALL ROWS PER MATCH, alternation, PERMUTE,
  * exclusion and SUBSET go beyond Flink (none exist there). Measure
  * semantics under ALL ROWS follow the standard: unmarked = RUNNING,
  * FINAL opts out (the SQL frontend maps both onto this scan's final
  * structs and per-output-row `__mr_run_*` views).
  */
object MatchRecognize {

  /** One pattern token: variable `name` repeated [lo, hi] times;
    * hi = None → unbounded (`+`/`*`/`{m,}`); `reluctant` → the lazy forms
    * (`+?`/`*?`/`{m,n}?`): counts explored shortest-first.
    */
  case class MrTok(name: String, lo: Int, hi: Option[Int], reluctant: Boolean = false) {
    require(lo >= 0, s"quantifier lower bound must be >= 0, got {$lo,} on '$name'")
    hi.foreach(h => require(h >= lo, s"empty quantifier range {$lo,$h} on '$name'"))
  }

  /** One branch token for [[scanPattern]]: `v` indexes the GLOBAL variable
    * table; `excluded` → matched but not emitted under ALL ROWS (`{- X -}`).
    */
  final case class BTok(v: Int, lo: Int, hi: Option[Int],
                        reluctant: Boolean = false, excluded: Boolean = false) {
    require(lo >= 0, s"quantifier lower bound must be >= 0, got {$lo,}")
    hi.foreach(h => require(h >= lo, s"empty quantifier range {$lo,$h}"))
  }

  /** A SUBSET union variable (`SUBSET U = (A, B)`): MEASURES over `name` see
    * the union of the member variables' matched rows in row order. FIRST/LAST
    * structs ride as `__mr_first_<name>`/`__mr_last_<name>` (emitted when
    * `measureCols` is non-empty), aggregates as `__mr_agg_<name>` with the
    * same field/exactness contract as the per-variable structs.
    */
  final case class SubsetSpec(name: String, members: Seq[Int],
                              aggs: Seq[(String, String)] = Seq.empty) {
    require(members.nonEmpty, s"SUBSET $name needs at least one member variable")
    require(members.distinct.size == members.size, s"SUBSET $name repeats a member")
  }

  /** AFTER MATCH skip strategy — all four of the standard's forms. The
    * variable-targeted forms resume the cursor AT the named variable's
    * first/last matched row (matches may overlap); a target that would
    * re-anchor at the match's own start row, or a variable that matched no
    * rows, fails loudly (the standard's infinite-loop/empty rules — Flink
    * throws too). `tokenIdx` is resolved by the caller from the variable
    * name.
    */
  sealed trait Skip
  case object SkipPastLastRow extends Skip
  case object SkipToNextRow extends Skip
  final case class SkipToFirst(tokenIdx: Int) extends Skip
  final case class SkipToLast(tokenIdx: Int) extends Skip

  /** A double/float/integral/decimal as an EXACT scale-6 decimal, rounded
    * HALF_UP exactly like Spark's double→decimal cast — so a sequential sum
    * of these is order-independent and matches `SUM(CAST(x AS DECIMAL(_,6)))`
    * in any engine. Takes internal (Decimal, the batch scan) and external
    * (BigDecimal, the streaming twin) values alike.
    */
  private[graft] def toDecimal6(v: Any): java.math.BigDecimal = (v match {
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case b: java.math.BigDecimal => b
    case b: scala.math.BigDecimal => b.bigDecimal
    case d: java.lang.Double => java.math.BigDecimal.valueOf(d)
    case f: java.lang.Float => new java.math.BigDecimal(f.toString)
    case n: java.lang.Number => java.math.BigDecimal.valueOf(n.longValue)
    case other => sys.error("SUM over a non-numeric MEASURES column: " +
      (if (other == null) "NULL" else other.getClass.getSimpleName))
  }).setScale(6, java.math.RoundingMode.HALF_UP)

  /** MIN/MAX MEASURES order over EXTERNAL values (the streaming twin): the
    * type's natural order, strings in UTF-8 byte order like the batch scan's
    * UTF8String — Java's UTF-16 `String.compareTo` disagrees once a
    * supplementary code point meets U+E000..U+FFFF.
    */
  private[graft] def compareMeasure(a: Any, b: Any): Int = (a, b) match {
    case (s: String, t: String) => UTF8String.fromString(s).compareTo(UTF8String.fromString(t))
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Single-linear-sequence entry — the pre-r11 surface, unchanged: every
    * token is one global variable in pattern order, one branch.
    */
  def scan(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column], tsCol: String,
           tokens: Seq[MrTok], defs: Seq[Column], withinMicros: Option[Long],
           skip: Skip, allRows: Boolean, measureCols: Seq[String],
           aggSpecs: Seq[Seq[(String, String)]] = Seq.empty,
           dynDefs: Seq[Option[String]] = Seq.empty,
           offsetMeasures: Seq[(Int, Boolean, Int)] = Seq.empty,
           runningStructs: Boolean = false,
           runningAggStructs: Boolean = false): DataFrame = {
    require(tokens.nonEmpty, "MATCH_RECOGNIZE requires a non-empty PATTERN")
    require(tokens.map(_.name).distinct.size == tokens.size,
      s"duplicate pattern variable in ${tokens.map(_.name).mkString(" ")}")
    val branch = tokens.zipWithIndex
      .map { case (t, i) => BTok(i, t.lo, t.hi, t.reluctant) }.toIndexedSeq
    scanPattern(df, keyCols, orderCols, tsCol, tokens.map(_.name), Seq(branch), defs,
      withinMicros, skip, allRows, measureCols, aggSpecs, dynDefs, offsetMeasures,
      runningStructs, runningAggStructs)
  }

  /** Run the pattern over `df`.
    *
    * @param keyCols     PARTITION BY columns (atomic — KeyImage contract)
    * @param orderCols   ORDER BY columns; the FIRST is the event time
    * @param tsCol       name of the event-time column (WITHIN measures it;
    *                    unused when `withinMicros` is empty)
    * @param varNames    the GLOBAL variable table (first-appearance order);
    *                    defs/aggSpecs/dynDefs/offset + skip targets index it
    * @param branches    alternative linear token sequences in PREFERENCE
    *                    order ([[MrPattern.expand]]); each variable at most
    *                    once per branch
    * @param defs        one boolean predicate per VARIABLE (aligned with
    *                    varNames); row-local — evaluated by Catalyst before
    *                    the scan. `lit(true)` for an undefined variable.
    * @param withinMicros every matched row must lie within this many micros
    *                    of the match's first row
    * @param skip        the AFTER MATCH strategy ([[Skip]]); SKIP PAST LAST
    *                    ROW is the standard default
    * @param allRows     true → one output row per MATCHED ROW (`__mr_var`
    *                    carries the classifier); false → one per match (the
    *                    match's start row)
    * @param measureCols input columns captured into the per-variable
    *                    `__mr_first_<v>` / `__mr_last_<v>` structs that
    *                    MEASURES read (FINAL semantics); empty → no structs
    * @param aggSpecs    per VARIABLE (aligned), the aggregate MEASURES over
    *                    its matched rows: (fn, col) with fn ∈ cnt|sum|min|max,
    *                    col = "*" for cnt = the run length. Emitted as an
    *                    `__mr_agg_<v>` struct (`<fn>_<col>` fields): cnt_*
    *                    LongType (0 on an empty run); sum_* DecimalType(38,6)
    *                    — each value rounded HALF_UP to scale 6 exactly like
    *                    Spark's double→decimal cast, then summed EXACTLY, so
    *                    the result is order-independent and oracle-comparable
    *                    (the catalog's money-sum determinism rule); min/max
    *                    keep the input type; non-cnt fields NULL on an empty
    *                    run
    * @param subsets     SUBSET union variables ([[SubsetSpec]]): their
    *                    FIRST/LAST structs (union of member runs, row order)
    *                    and aggregate structs append after the per-variable
    *                    ones
    * @return df's columns plus the structs, `__mr_len` (match row count),
    *         `__mr_seq` (the match's 1-based ordinal WITHIN its key, in
    *         (order) position — deterministic under any parallelism, unlike
    *         a query-global counter; MATCH_NUMBER() maps here) and, under
    *         `allRows`, `__mr_var`
    */
  def scanPattern(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column], tsCol: String,
                  varNames: Seq[String], branches: Seq[IndexedSeq[BTok]], defs: Seq[Column],
                  withinMicros: Option[Long], skip: Skip, allRows: Boolean,
                  measureCols: Seq[String],
                  aggSpecs: Seq[Seq[(String, String)]] = Seq.empty,
                  dynDefs: Seq[Option[String]] = Seq.empty,
                  offsetMeasures: Seq[(Int, Boolean, Int)] = Seq.empty,
                  runningStructs: Boolean = false,
                  runningAggStructs: Boolean = false,
                  subsets: Seq[SubsetSpec] = Seq.empty,
                  tree: Option[MrPattern.Node] = None,
                  oneRowClassifier: Boolean = false): DataFrame = {
    val n = varNames.size
    // CLASSIFIER() under ONE ROW PER MATCH (r14, ISO 9075-2): the label of
    // the match's LAST row rides __mr_var — the same column ALL ROWS emits
    // per row (where this flag is redundant, hence refused)
    require(!oneRowClassifier || !allRows,
      "oneRowClassifier is the ONE-ROW shape's CLASSIFIER — ALL ROWS already emits __mr_var")
    require(n > 0, "MATCH_RECOGNIZE requires at least one pattern variable")
    require(varNames.distinct.size == n, s"duplicate variable name in ${varNames.mkString(" ")}")
    require(branches.nonEmpty, "MATCH_RECOGNIZE requires at least one pattern branch")
    branches.foreach { b =>
      require(b.nonEmpty, "empty pattern branch (MrPattern drops these — direct callers must too)")
      require(b.map(_.v).distinct.size == b.size,
        "a variable may appear only once per branch — expand repetitions across alternatives")
      b.foreach(t => require(t.v >= 0 && t.v < n, s"branch token indexes unknown variable ${t.v}"))
    }
    require(branches.exists(_.exists(t => t.hi.forall(_ > 0))),
      "MATCH_RECOGNIZE: pattern admits only the empty match")
    require(allRows || branches.forall(_.forall(!_.excluded)),
      "pattern exclusion ({- X -}) requires ALL ROWS PER MATCH (under ONE ROW it has no effect)")
    // RUNNING measure semantics under ALL ROWS (r10): per emitted row,
    // __mr_run_first_<v>/__mr_run_last_<v> hold the variable's first/last
    // matched row AT OR BEFORE that row — NULL while the variable hasn't
    // matched yet. The match-level __mr_first/__mr_last structs stay FINAL.
    require(!runningStructs || (allRows && measureCols.nonEmpty),
      "runningStructs needs ALL ROWS PER MATCH and measureCols")
    // RUNNING aggregates under ALL ROWS (r11): __mr_run_agg_<v> mirrors
    // __mr_agg_<v>'s fields over the variable's rows AT OR BEFORE each
    // emitted row — incremental accumulators, cnt 0 / NULLs before the run
    // begins, equal to the FINAL struct on the match's last row.
    require(!runningAggStructs || (allRows && aggSpecs.exists(_.nonEmpty)),
      "runningAggStructs needs ALL ROWS PER MATCH and aggSpecs")
    require(aggSpecs.isEmpty || aggSpecs.size == n,
      "aggSpecs must align with varNames (or be empty)")
    // Flink's logical-offset navigation in MEASURES — FIRST(A.c, k)/LAST(A.c,
    // k): each distinct (var, isFirst, k>0) emits one additional
    // __mr_off_<f|l><k>_<var> struct over the measure columns; out-of-run
    // offsets are NULL structs
    offsetMeasures.foreach { case (t, _, k) =>
      require(t >= 0 && t < n, s"offset measure for unknown variable index $t")
      require(k >= 1, s"offset measure needs k >= 1, got $k (k = 0 is the plain FIRST/LAST)")
      require(measureCols.nonEmpty, "offset measures need measureCols") }
    require(offsetMeasures.distinct.size == offsetMeasures.size,
      "duplicate offset-measure specs")
    require(dynDefs.isEmpty || dynDefs.size == n,
      "dynDefs must align with varNames (or be empty)")
    // a SUBSET with neither aggregates nor measureCols emits nothing — legal
    // since r11: DEFINE conditions may reference it (MrConditions SubCol)
    subsets.foreach { s =>
      s.members.foreach(m => require(m >= 0 && m < n,
        s"SUBSET ${s.name} references unknown variable index $m"))
      require(!varNames.contains(s.name),
        s"SUBSET ${s.name} collides with a pattern variable name")
    }
    require(subsets.map(_.name).distinct.size == subsets.size, "duplicate SUBSET name")
    // cross-variable DEFINE conditions (r10): compiled once at plan time
    // against the INPUT schema (helper columns are appended after it, so
    // field indices stay valid on the scan's rows), evaluated per tested row
    // inside the NFA attempt where every earlier variable's placement is
    // fixed — see MrConditions. AND-composed with the Catalyst-compiled
    // row-local booleans (lit(true) when the whole condition is dynamic).
    val varIdxMap: Map[String, Int] = varNames.zipWithIndex.toMap
    val subsetDefMap: Map[String, Seq[Int]] = subsets.map(s => s.name -> s.members).toMap
    val dynArr: Array[MrConditions.Compiled] =
      if (dynDefs.isEmpty) new Array[MrConditions.Compiled](n)
      else dynDefs.zipWithIndex.map { case (o, i) =>
        o.map(c => MrConditions.compile(c, df.schema, varIdxMap, varNames(i),
          subsets = subsetDefMap)).orNull
      }.toArray
    val aggs: Seq[Seq[(String, String)]] =
      if (aggSpecs.isEmpty) varNames.map(_ => Seq.empty) else aggSpecs
    (aggs.flatten ++ subsets.flatMap(_.aggs)).foreach { case (fn, c) =>
      require(Set("cnt", "sum", "min", "max").contains(fn), s"unknown aggregate '$fn'")
      require(c == "*" || df.columns.contains(c), s"aggregate over unknown column '$c'")
      require(fn == "cnt" || c != "*", s"'$fn(*)' is not a thing — name a column")
      // fail at plan time, not mid-job: sum needs a numeric external type
      // (toDecimal6's contract); min/max compare via Comparable, which binary
      // (Array[Byte]) and nested types don't implement
      if (fn == "sum") {
        val dt = df.schema(c).dataType
        require(dt.isInstanceOf[NumericType],
          s"SUM MEASURES column '$c' must be numeric, got ${dt.simpleString}")
      }
      if (fn == "min" || fn == "max") {
        val dt = df.schema(c).dataType
        val orderableAtomic = dt.isInstanceOf[NumericType] || (dt match {
          case StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
          case _ => false
        })
        require(orderableAtomic,
          s"${fn.toUpperCase} MEASURES column '$c' must have an orderable atomic type " +
            s"(numeric/string/boolean/date/timestamp), got ${dt.simpleString}")
      } }
    skip match {
      case SkipToFirst(i) => require(i >= 0 && i < n, s"skip target out of range: $i")
      case SkipToLast(i)  => require(i >= 0 && i < n, s"skip target out of range: $i")
      case _ => ()
    }
    require(defs.size == n, "one DEFINE predicate per variable (lit(true) when absent)")
    withinMicros.foreach(w => require(w > 0, s"WITHIN bound must be positive, got $w micros"))
    graft.core.KeyImage.requireAtomic(df, keyCols)
    // every helper AND output column the scan appends starts with __mr_
    // (__mr_spk, __mr_def_*, __mr_first_/__mr_last_/__mr_agg_<var>, __mr_len,
    // __mr_seq, __mr_var) — guard the whole prefix, not an enumerated set, so
    // an input column can never silently duplicate an appended name
    val mrClash = df.columns.filter(_.startsWith("__mr_"))
    require(mrClash.isEmpty,
      s"input columns collide with MATCH_RECOGNIZE's reserved __mr_ prefix: ${mrClash.mkString(", ")}")
    val missing = measureCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"MEASURES reference columns absent from the input: ${missing.mkString(", ")}")

    val withDefs = (0 until n).foldLeft(df)((d, i) => d.withColumn(s"__mr_def_$i", defs(i)))
    // the scan sorts on the REAL key columns (not the image) so Catalyst can
    // reuse the DEFINE window's own (key, order) sort; the image is only the
    // collision-free equality probe for key-change detection. Zero-normalized:
    // the sort groups -0.0 with 0.0, so the key-change probe must agree (see
    // KeyImage.ofNormalized)
    val pre = withDefs.withColumn("__mr_spk", graft.core.KeyImage.ofNormalized(withDefs, keyCols))

    val inSchema = pre.schema
    val inTypes: Array[DataType] = inSchema.fields.map(_.dataType)
    val nOrig = df.schema.fields.length // original columns lead; helpers appended
    val keyIdx = inSchema.fieldIndex("__mr_spk")
    val defIdxArr = (0 until n).map(i => inSchema.fieldIndex(s"__mr_def_$i")).toArray
    val tsIdx = inSchema.fieldIndex(tsCol)
    val measureIdxArr = measureCols.map(inSchema.fieldIndex).toArray
    val hasMeasures = measureCols.nonEmpty
    val mStruct = StructType(measureCols.map(c => inSchema(inSchema.fieldIndex(c)).copy(nullable = true)))
    def aggFieldType(fn: String, c: String) = fn match {
      case "cnt" => LongType
      case "sum" => DecimalType(38, 6)
      case _     => df.schema(c).dataType
    }
    def aggStructOf(spec: Seq[(String, String)]): Option[StructType] =
      if (spec.isEmpty) None
      else Some(StructType(spec.map { case (fn, c) =>
        StructField(s"${fn}_${if (c == "*") "rows" else c}", aggFieldType(fn, c), nullable = true) }))
    val aggStructTypes: Seq[Option[StructType]] = (0 until n).map(i => aggStructOf(aggs(i)))
    val subAggStructTypes: Seq[Option[StructType]] = subsets.map(s => aggStructOf(s.aggs))
    val nAggStructs = aggStructTypes.count(_.isDefined)
    val nSubAggStructs = subAggStructTypes.count(_.isDefined)
    val nSub = subsets.size
    val outSchema = StructType(
      df.schema.fields.toSeq ++
        (if (hasMeasures) varNames.flatMap(v => Seq(
          StructField(s"__mr_first_$v", mStruct, nullable = true),
          StructField(s"__mr_last_$v", mStruct, nullable = true)))
        else Nil) ++
        (if (hasMeasures) subsets.flatMap(s => Seq(
          StructField(s"__mr_first_${s.name}", mStruct, nullable = true),
          StructField(s"__mr_last_${s.name}", mStruct, nullable = true)))
        else Nil) ++
        offsetMeasures.map { case (t, isFirst, k) =>
          StructField(s"__mr_off_${if (isFirst) "f" else "l"}${k}_${varNames(t)}",
            mStruct, nullable = true) } ++
        (if (runningStructs) varNames.flatMap(v => Seq(
          StructField(s"__mr_run_first_$v", mStruct, nullable = true),
          StructField(s"__mr_run_last_$v", mStruct, nullable = true)))
        else Nil) ++
        (if (runningAggStructs) (0 until n).flatMap(i => aggStructTypes(i).map(t =>
          StructField(s"__mr_run_agg_${varNames(i)}", t, nullable = false)))
        else Nil) ++
        (0 until n).flatMap(i => aggStructTypes(i).map(t =>
          StructField(s"__mr_agg_${varNames(i)}", t, nullable = false))) ++
        subsets.zipWithIndex.flatMap { case (s, i) => subAggStructTypes(i).map(t =>
          StructField(s"__mr_agg_${s.name}", t, nullable = false)) } ++
        Seq(StructField("__mr_len", LongType, nullable = false),
          StructField("__mr_seq", LongType, nullable = false)) ++
        (if (allRows || oneRowClassifier)
          Seq(StructField("__mr_var", StringType, nullable = false)) else Nil))
    val outArity = outSchema.fields.length
    val lenPos = nOrig + (if (hasMeasures) 2 * (n + nSub) else 0) +
      offsetMeasures.size + (if (runningStructs) 2 * n else 0) +
      (if (runningAggStructs) nAggStructs else 0) + nAggStructs + nSubAggStructs
    val offSpecArr: Array[(Int, Boolean, Int)] = offsetMeasures.toArray
    val emitRunning = runningStructs
    val emitRunningAgg = runningAggStructs
    // per variable / subset: (fn, input field index or -1 for "*")
    def aggIdxOf(spec: Seq[(String, String)]): Array[(String, Int)] =
      spec.map { case (fn, c) => (fn, if (c == "*") -1 else inSchema.fieldIndex(c)) }.toArray
    val aggIdxArr: Array[Array[(String, Int)]] = aggs.map(aggIdxOf).toArray
    val subAggIdxArr: Array[Array[(String, Int)]] = subsets.map(s => aggIdxOf(s.aggs)).toArray
    val subMembersArr: Array[Array[Int]] = subsets.map(_.members.toArray).toArray

    // the execution program (r12): the parse tree when the caller has one —
    // choice points decided at their written positions, the ISO preferment —
    // otherwise the branch-shaped choice (identical order for linear and
    // front-choice patterns, which is every branch-only caller)
    val prog: MrProg = tree.map(t => MrProg.ofTree(t, varIdxMap)).getOrElse(MrProg.ofBranches(branches))
    val hasWithin = withinMicros.isDefined
    val withinUs = withinMicros.getOrElse(0L)
    val skipMode = skip
    val nameByIdx = varNames.toArray
    val nameU8: Array[UTF8String] = varNames.map(UTF8String.fromString).toArray
    val emitAll = allRows
    val emitOneRowCls = oneRowClassifier
    // both timestamp flavors store epoch micros as an internal long — WITHIN
    // reads them directly (the external path converted to LocalDateTime/
    // Instant per row and re-derived the same micros)
    val tsIsTimestampTyped = inTypes(tsIdx) match {
      case TimestampType | TimestampNTZType => true
      case _ => false
    }
    val tsTypeName = inTypes(tsIdx).simpleString
    val needsDyn = dynArr.exists(_ != null)

    // the scan consumes the sorted UnsafeRows directly — the only per-row
    // work is one buffer copy (rows must outlive the iterator slot for
    // backtracking) — and emits internal rows. min/max MEASURES over
    // StringType compare UTF8String binary order, Spark's and DuckDB's own
    // string collation.
    graft.core.MrScan.of(pre, keyCols, orderCols, outSchema) { it =>
      new scala.collection.AbstractIterator[org.apache.spark.sql.catalyst.InternalRow] {
        import org.apache.spark.sql.catalyst.InternalRow
        import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
        // cross-variable (interpreted) DEFINEs read EXTERNAL rows —
        // MrConditions' value model is String/BigDecimal/Timestamp — so
        // convert lazily, only the rows a dynamic predicate actually touches
        private val toScala: InternalRow => Row =
          if (!needsDyn) null
          else {
            val c = org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToScalaConverter(inSchema)
            (r: InternalRow) => c(r).asInstanceOf[Row]
          }
        private val out = scala.collection.mutable.Queue.empty[InternalRow]
        private var stash: InternalRow = null // first row of the NEXT key, read past the boundary
        private var curKey: UTF8String = null
        private var keyDone = false
        private var finished = false
        // rows of the current key from the cursor on; base = cursor's index
        private val buf = new java.util.ArrayList[InternalRow]()
        private var base = 0

        private def bufLen: Int = buf.size - base
        private def rowAt(j: Int): InternalRow = buf.get(base + j)

        /** WITHIN's event time: internal epoch micros, read directly. */
        private def tsMicrosAt(r: InternalRow): Long = {
          if (!tsIsTimestampTyped)
            sys.error("MATCH_RECOGNIZE WITHIN requires a timestamp ORDER BY column, got " + tsTypeName)
          if (r.isNullAt(tsIdx))
            sys.error("MATCH_RECOGNIZE WITHIN requires a timestamp ORDER BY column, got NULL")
          r.getLong(tsIdx)
        }

        /** Pull rows until index j (cursor-relative) exists or the key ends.
          * Rows are copied ON INGESTION: the source iterator reuses one
          * UnsafeRow buffer, and the NFA buffers rows for backtracking.
          */
        private def ensure(j: Int): Boolean = {
          while (bufLen <= j && !keyDone) {
            val r =
              if (stash != null) { val s = stash; stash = null; s }
              else if (it.hasNext) it.next().copy()
              else null
            if (r == null) keyDone = true
            else {
              val k = r.getUTF8String(keyIdx)
              if (curKey == null) curKey = k
              if (k == curKey) { buf.add(r); () }
              else { stash = r; keyDone = true }
            }
          }
          bufLen > j
        }

        /** Advance the cursor k rows; amortized-O(1) front compaction. */
        private def advance(k: Int): Unit = {
          base += k
          if (base >= 1024 && base * 2 >= buf.size) { buf.subList(0, base).clear(); base = 0 }
        }

        private def defOk(r: InternalRow, t: Int): Boolean = {
          val i = defIdxArr(t); !r.isNullAt(i) && r.getBoolean(i)
        }

        // cross-variable predicate context: one mutable instance per task,
        // repointed per tested row (zero allocation in the scan loop).
        // Placement visibility is PATH-positional: a variable is readable iff
        // its run is committed on the attempt path being explored (placed
        // flags set/cleared as the walk recurses/backtracks) — the program-
        // order generalization of the r11 branch-positional rule.
        private val dynStarts = new Array[Int](n)
        private val placed = new Array[Boolean](n)
        private object dynCtx extends MrConditions.Ctx {
          var curRow: Row = _
          var self = 0
          var runStart = 0
          var candPos = 0
          var countsRef: Array[Int] = _
          def cur: Row = curRow
          def rowAt(pos: Int): Row = toScala(buf.get(base + pos))
          def selfTok: Int = self
          def selfRunStart: Int = runStart
          def selfPos: Int = candPos
          def starts: Array[Int] = dynStarts
          def counts: Array[Int] = countsRef
          override def placedBefore(tok: Int): Boolean = placed(tok)
        }
        private def dynOk(r: InternalRow, gv: Int, runStart: Int, pos: Int): Boolean = {
          val d = dynArr(gv)
          d == null || {
            dynCtx.curRow = toScala(r); dynCtx.self = gv; dynCtx.runStart = runStart
            dynCtx.candPos = pos
            d.holds(dynCtx)
          }
        }

        // program tables (hoisted from the MrProg for the hot loop)
        private val pKind = prog.kind; private val pV = prog.v
        private val pLo = prog.lo; private val pHi = prog.hi
        private val pRel = prog.rel; private val pExcl = prog.excl
        private val pNxt = prog.nxt; private val pAlts = prog.alts
        private val pEntry = prog.entry
        // the winning attempt path: placements in ROW order (ALL ROWS
        // emission and variable-targeted skips need the order, not just the
        // per-variable arrays); depth <= n (one placement per variable)
        private val pathVar = new Array[Int](n)
        private val pathStart = new Array[Int](n)
        private val pathCount = new Array[Int](n)
        private val pathExcl = new Array[Boolean](n)
        private var pathLen = 0
        private var matchLen = 0

        /** Walk the ordered-choice program at the cursor: greedy leftmost-
          * longest with backtracking, choice points decided at their written
          * positions (ISO 9075-2 preferment — a quantifier written before an
          * alternation dominates it). Cross-variable predicates are sound
          * inside the avail-scan because a row's test depends only on the
          * run's start and PATH-earlier variables' placements, both fixed
          * here (the prefix property: a valid run's prefixes are valid).
          * On success the placement arrays and path hold the winning match.
          */
        private def walk(ip: Int, pos: Int, startUs: Long, counts: Array[Int]): Boolean = {
          pKind(ip) match {
            case 2 => // Done: the empty match never selects
              if (pos > 0) { matchLen = pos; true } else false
            case 1 => // Split: alternatives in written (preference) order
              val ts = pAlts(ip)
              var i = 0
              while (i < ts.length) {
                if (walk(ts(i), pos, startUs, counts)) return true
                i += 1
              }
              false
            case _ => // Var: scan the run, explore counts, recurse
              val gv = pV(ip)
              dynStarts(gv) = pos
              var c = 0
              while (c < pHi(ip) && ensure(pos + c) && defOk(rowAt(pos + c), gv) &&
                dynOk(rowAt(pos + c), gv, pos, pos + c) &&
                (!hasWithin || tsMicrosAt(rowAt(pos + c)) - startUs <= withinUs)) c += 1
              val d = pathLen
              pathVar(d) = gv; pathStart(d) = pos; pathExcl(d) = pExcl(ip)
              def tryCount(k: Int): Boolean = {
                counts(gv) = k
                pathCount(d) = k
                placed(gv) = true
                pathLen = d + 1
                if (walk(pNxt(ip), pos + k, startUs, counts)) true
                else { pathLen = d; placed(gv) = false; false }
              }
              if (pRel(ip)) { // reluctant: shortest first (Flink's lazy forms)
                var k = pLo(ip)
                while (k <= c) {
                  if (tryCount(k)) return true
                  k += 1
                }
              } else {
                while (c >= pLo(ip)) {
                  if (tryCount(c)) return true
                  c -= 1
                }
              }
              counts(gv) = 0 // clean failed placement (later alternatives read zeros)
              false
          }
        }

        /** One attempt at the cursor position. Returns true on a match (the
          * path/placement arrays hold it).
          */
        private def tryMatch(counts: Array[Int]): Boolean = {
          java.util.Arrays.fill(placed, false)
          pathLen = 0
          dynCtx.countsRef = counts
          val startUs = if (hasWithin) tsMicrosAt(rowAt(0)) else 0L
          walk(pEntry, 0, startUs, counts)
        }

        private def projMeasure(r: InternalRow): InternalRow = {
          val vals = new Array[Any](measureIdxArr.length)
          var i = 0
          while (i < measureIdxArr.length) {
            val at = measureIdxArr(i)
            vals(i) = r.get(at, inTypes(at))
            i += 1
          }
          new GenericInternalRow(vals)
        }

        private def mk(src: InternalRow, structVals: Array[Any], subVals: Array[Any],
                       offVals: Array[Any], runVals: Array[Any], runAggVals: Array[Any],
                       aggVals: Array[Any], subAggVals: Array[Any],
                       len: Long, seq: Long, cls: UTF8String): InternalRow = {
          val vals = new Array[Any](outArity)
          var i = 0
          while (i < nOrig) { vals(i) = src.get(i, inTypes(i)); i += 1 }
          var at = nOrig
          def put(a: Array[Any]): Unit = if (a != null) {
            var j = 0
            while (j < a.length) { vals(at + j) = a(j); j += 1 }
            at += a.length
          }
          put(structVals); put(subVals); put(offVals); put(runVals); put(runAggVals)
          put(aggVals); put(subAggVals)
          vals(lenPos) = len
          vals(lenPos + 1) = seq
          if (emitAll || emitOneRowCls) vals(lenPos + 2) = cls
          new GenericInternalRow(vals)
        }

        /** Aggregates over a set of matched runs (p, c): cnt exact, sum EXACT
          * decimal over HALF_UP-scale-6 values (order-independent, the Spark
          * double→decimal cast's rounding), min/max by the column type's
          * natural order; non-cnt fields NULL when the runs are empty.
          */
        /** Materialize an aggregate-accumulator array as an internal struct
          * row: exact BigDecimal sums become scale-6 internal Decimals; cnt
          * longs and min/max internal values pass through.
          */
        private def aggRowOf(vals: Array[Any]): InternalRow = {
          val out = new Array[Any](vals.length)
          var j = 0
          while (j < vals.length) {
            out(j) = vals(j) match {
              case b: java.math.BigDecimal => Decimal(new scala.math.BigDecimal(b), 38, 6)
              case v => v
            }
            j += 1
          }
          new GenericInternalRow(out)
        }

        private def aggOver(spec: Array[(String, Int)], runs: Array[Long]): InternalRow = {
          val vals = new Array[Any](spec.length)
          var j = 0
          while (j < spec.length) {
            val (fn, colIdx) = spec(j)
            var acc: Any = if (fn == "cnt") 0L else null
            var ri = 0
            while (ri < runs.length) {
              val p = (runs(ri) >> 32).toInt; val c = runs(ri).toInt
              var r = 0
              while (r < c) {
                val row = rowAt(p + r)
                fn match {
                  case "cnt" =>
                    if (colIdx < 0 || !row.isNullAt(colIdx)) acc = acc.asInstanceOf[Long] + 1L
                  case "sum" =>
                    if (!row.isNullAt(colIdx)) {
                      val d = toDecimal6(row.get(colIdx, inTypes(colIdx)))
                      acc = if (acc == null) d else acc.asInstanceOf[java.math.BigDecimal].add(d)
                    }
                  case _ =>
                    if (!row.isNullAt(colIdx)) {
                      val v = row.get(colIdx, inTypes(colIdx))
                      if (acc == null) acc = v
                      else {
                        val cmp = v.asInstanceOf[Comparable[Any]].compareTo(acc)
                        if ((fn == "min" && cmp < 0) || (fn == "max" && cmp > 0)) acc = v
                      }
                    }
                }
                r += 1
              }
              ri += 1
            }
            vals(j) = acc
            j += 1
          }
          aggRowOf(vals)
        }

        private def run1(p: Int, c: Int): Array[Long] =
          if (c == 0) Array.emptyLongArray else Array((p.toLong << 32) | (c.toLong & 0xffffffffL))

        private def emit(counts: Array[Int], seq: Long): Unit = {
          // global starts (-1 = variable absent from the matched path) and
          // the match length, from the winning path's placement order
          val gStarts = Array.fill(n)(-1)
          val len = matchLen.toLong
          locally { var t = 0
            while (t < pathLen) { gStarts(pathVar(t)) = pathStart(t); t += 1 } }
          val structVals = if (hasMeasures) new Array[Any](2 * n) else null
          if (hasMeasures) {
            var u = 0
            while (u < n) {
              if (gStarts(u) >= 0 && counts(u) > 0) {
                structVals(2 * u) = projMeasure(rowAt(gStarts(u)))
                structVals(2 * u + 1) = projMeasure(rowAt(gStarts(u) + counts(u) - 1))
              }
              u += 1
            }
          }
          // SUBSET first/last: union of member runs in row order — the
          // earliest member start and the latest member end
          val subVals = if (hasMeasures && nSub > 0) new Array[Any](2 * nSub) else null
          if (subVals != null) {
            var s = 0
            while (s < nSub) {
              val ms = subMembersArr(s)
              var first = -1; var last = -1
              var mi = 0
              while (mi < ms.length) {
                val u = ms(mi)
                if (gStarts(u) >= 0 && counts(u) > 0) {
                  if (first < 0 || gStarts(u) < first) first = gStarts(u)
                  val e = gStarts(u) + counts(u) - 1
                  if (e > last) last = e
                }
                mi += 1
              }
              if (first >= 0) {
                subVals(2 * s) = projMeasure(rowAt(first))
                subVals(2 * s + 1) = projMeasure(rowAt(last))
              }
              s += 1
            }
          }
          val offVals: Array[Any] =
            if (offSpecArr.isEmpty) null
            else offSpecArr.map { case (tk, isFirst, k) =>
              val c = counts(tk)
              if (gStarts(tk) < 0 || c <= k) null // absent/short run → NULL struct
              else projMeasure(rowAt(gStarts(tk) + (if (isFirst) k else c - 1 - k)))
            }
          val aggVals: Array[Any] =
            if (nAggStructs == 0) null
            else {
              val av = new Array[Any](nAggStructs)
              var k = 0; var u = 0
              while (u < n) {
                if (aggIdxArr(u).nonEmpty) {
                  av(k) = aggOver(aggIdxArr(u), run1(math.max(gStarts(u), 0), counts(u)))
                  k += 1
                }
                u += 1
              }
              av
            }
          val subAggVals: Array[Any] =
            if (nSubAggStructs == 0) null
            else {
              val av = new Array[Any](nSubAggStructs)
              var k = 0; var s = 0
              while (s < nSub) {
                if (subAggIdxArr(s).nonEmpty) {
                  // member runs in row order (order only matters for exactness
                  // bookkeeping — every aggregate here is order-independent)
                  val runs = subMembersArr(s).filter(u => gStarts(u) >= 0 && counts(u) > 0)
                    .sortBy(gStarts(_)).map(u => (gStarts(u).toLong << 32) |
                      (counts(u).toLong & 0xffffffffL))
                  av(k) = aggOver(subAggIdxArr(s), runs)
                  k += 1
                }
                s += 1
              }
              av
            }
          if (!emitAll) {
            // ONE-ROW CLASSIFIER (r14, ISO): the LAST matched row's label —
            // the deepest path entry that placed at least one row (a match
            // has matchLen > 0, so one exists)
            val oneRowLabel = if (!emitOneRowCls) null else {
              var t = pathLen - 1
              while (t >= 0 && pathCount(t) == 0) t -= 1
              nameU8(pathVar(t))
            }
            out.enqueue(mk(rowAt(0), structVals, subVals, offVals, null, null,
              aggVals, subAggVals, len, seq, oneRowLabel))
          }
          else {
            // running-aggregate accumulators (r11): one per agg-bearing
            // variable, updated incrementally as the emit cursor enters its
            // run — O(rows × fields), never a per-row rescan of the prefix
            val runAcc: Array[Array[Any]] = if (!emitRunningAgg) null else {
              val a = new Array[Array[Any]](n)
              var u = 0
              while (u < n) {
                if (aggIdxArr(u).nonEmpty) {
                  val spec = aggIdxArr(u)
                  val vals = new Array[Any](spec.length)
                  var j = 0
                  while (j < spec.length) { vals(j) = if (spec(j)._1 == "cnt") 0L else null; j += 1 }
                  a(u) = vals
                }
                u += 1
              }
              a
            }
            // the before-the-run view: cnt fields 0, everything else NULL
            val emptyAggRows: Array[Any] = if (!emitRunningAgg) null else {
              val a = new Array[Any](n)
              var u = 0
              while (u < n) {
                if (runAcc(u) != null) a(u) = aggRowOf(runAcc(u).clone())
                u += 1
              }
              a
            }
            var pos = 0; var t = 0
            while (t < pathLen) {
              val gv = pathVar(t)
              var c = 0
              while (c < pathCount(t)) {
                val runVals: Array[Any] =
                  if (!emitRunning) null
                  else {
                    // the standard's RUNNING view at this row: a variable's
                    // first/last matched row AT OR BEFORE pos, NULL before
                    // its run begins
                    val rv = new Array[Any](2 * n)
                    var u = 0
                    while (u < n) {
                      if (gStarts(u) >= 0 && counts(u) > 0 && gStarts(u) <= pos) {
                        rv(2 * u) = projMeasure(rowAt(gStarts(u)))
                        rv(2 * u + 1) = projMeasure(rowAt(math.min(pos, gStarts(u) + counts(u) - 1)))
                      }
                      u += 1
                    }
                    rv
                  }
                val runAggVals: Array[Any] =
                  if (!emitRunningAgg) null
                  else {
                    // fold BEFORE the exclusion check: an excluded row is part
                    // of the match, later RUNNING views must have seen it
                    if (runAcc(gv) != null) accumulate(runAcc(gv), aggIdxArr(gv), rowAt(pos))
                    val av = new Array[Any](nAggStructs)
                    var k = 0; var u = 0
                    while (u < n) {
                      if (aggIdxArr(u).nonEmpty) {
                        av(k) =
                          if (gStarts(u) < 0 || gStarts(u) > pos) emptyAggRows(u) // run not begun
                          else if (gStarts(u) + counts(u) - 1 <= pos) aggVals(k) // fully visible
                          else aggRowOf(runAcc(u).clone()) // mid-run snapshot
                        k += 1
                      }
                      u += 1
                    }
                    av
                  }
                if (!pathExcl(t)) // {- X -}: matched but not emitted
                  out.enqueue(mk(rowAt(pos), structVals, subVals, offVals, runVals, runAggVals,
                    aggVals, subAggVals, len, seq, nameU8(gv)))
                pos += 1; c += 1
              }
              t += 1
            }
          }
        }

        /** Fold one row into a running-aggregate accumulator (same exactness
          * contract as [[aggOver]]: exact decimal sums, natural-order
          * min/max, non-null counting).
          */
        private def accumulate(acc: Array[Any], spec: Array[(String, Int)], row: InternalRow): Unit = {
          var j = 0
          while (j < spec.length) {
            val (fn, colIdx) = spec(j)
            fn match {
              case "cnt" if colIdx < 0 => acc(j) = acc(j).asInstanceOf[Long] + 1L
              case "cnt" => if (!row.isNullAt(colIdx)) acc(j) = acc(j).asInstanceOf[Long] + 1L
              case "sum" =>
                if (!row.isNullAt(colIdx)) {
                  val d = toDecimal6(row.get(colIdx, inTypes(colIdx)))
                  acc(j) = if (acc(j) == null) d
                  else acc(j).asInstanceOf[java.math.BigDecimal].add(d)
                }
              case _ =>
                if (!row.isNullAt(colIdx)) {
                  val v = row.get(colIdx, inTypes(colIdx))
                  if (acc(j) == null) acc(j) = v
                  else {
                    val cmp = v.asInstanceOf[Comparable[Any]].compareTo(acc(j))
                    if ((fn == "min" && cmp < 0) || (fn == "max" && cmp > 0)) acc(j) = v
                  }
                }
            }
            j += 1
          }
        }

        /** Cursor rows to consume after a selected match, per strategy.
          * Variable-targeted skips resume AT the target row; re-anchoring at
          * the match's own start (or an empty/absent target) would loop —
          * loud.
          */
        /** First row mapped to variable i on the winning path, -1 when the
          * variable matched no rows. A variable can occupy SEVERAL path
          * entries (PATTERN (A B A)) and any placement can be an empty run —
          * ISO's first/last-row-mapped semantics mean the scan must skip
          * zero-count entries and, for LAST, walk from the END (the variable's
          * last run, not firstRunStart + lastRunCount).
          */
        private def firstRowOf(i: Int): Int = {
          var t = 0
          while (t < pathLen && !(pathVar(t) == i && pathCount(t) > 0)) t += 1
          if (t == pathLen) -1 else pathStart(t)
        }

        /** Last row mapped to variable i on the winning path, -1 when absent. */
        private def lastRowOf(i: Int): Int = {
          var t = pathLen - 1
          while (t >= 0 && !(pathVar(t) == i && pathCount(t) > 0)) t -= 1
          if (t < 0) -1 else pathStart(t) + pathCount(t) - 1
        }

        private def skipAdvance(): Int = skipMode match {
          case SkipPastLastRow => matchLen
          case SkipToNextRow => 1
          case SkipToFirst(i) =>
            val pos = firstRowOf(i)
            if (pos < 0) sys.error(s"AFTER MATCH SKIP TO FIRST ${nameByIdx(i)}: " +
              "the variable matched no rows in the selected match")
            if (pos == 0) sys.error(s"AFTER MATCH SKIP TO FIRST ${nameByIdx(i)} would " +
              "re-anchor at the match's own start row (infinite loop)")
            pos
          case SkipToLast(i) =>
            val pos = lastRowOf(i)
            if (pos < 0) sys.error(s"AFTER MATCH SKIP TO LAST ${nameByIdx(i)}: " +
              "the variable matched no rows in the selected match")
            if (pos == 0) sys.error(s"AFTER MATCH SKIP TO LAST ${nameByIdx(i)} would " +
              "re-anchor at the match's own start row (infinite loop)")
            pos
        }

        private var matchSeq = 0L // per-key match ordinal, resets with the key

        private def pump(): Unit = {
          while (out.isEmpty && !finished) {
            if (!ensure(0)) {
              if (stash == null && !it.hasNext) finished = true
              else { buf.clear(); base = 0; curKey = null; keyDone = false; matchSeq = 0L } // next key
            } else {
              val counts = new Array[Int](n)
              if (tryMatch(counts)) {
                matchSeq += 1
                emit(counts, matchSeq)
                advance(skipAdvance())
              }
              else advance(1)
            }
          }
        }

        override def hasNext: Boolean = { pump(); out.nonEmpty }
        override def next(): org.apache.spark.sql.catalyst.InternalRow = {
          pump()
          if (out.isEmpty) throw new NoSuchElementException("empty scan iterator")
          out.dequeue()
        }
      }
    }
  }
}
