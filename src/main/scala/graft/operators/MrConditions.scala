package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Cross-variable DEFINE conditions for the MATCH_RECOGNIZE NFA cursor scan.
  *
  * A variable's run has no fixed row offset (quantifiers decide it per
  * attempt), but the scan buffers the full rows of the current attempt, and
  * inside one attempt every earlier variable's run placement is FIXED by the
  * time a row is tested — so `LAST(A.col)` / `FIRST(A.col)` / `A.col` are
  * direct reads of buffered rows. This module parses the SQL condition text
  * into a tiny AST and evaluates it per candidate row with SQL (Kleene)
  * three-valued logic.
  *
  * Division of labor, by design:
  *   - row-local DEFINEs (the common case) stay Catalyst-compiled boolean
  *     columns — whole-stage codegen, zero interpretation;
  *   - `PREV`/`NEXT` physical navigation is rewritten by the SQL frontend to
  *     precomputed lag()/lead() helper columns BEFORE compilation here (the
  *     window shares the scan's one exchange + sort), so the interpreter only
  *     ever reads the candidate row and in-attempt run rows — never rows
  *     outside the buffer;
  *   - only DEFINEs that genuinely reference another variable's rows (or the
  *     self run's FIRST) pay the interpreted-atom cost, and only on rows the
  *     NFA actually tests.
  *
  * RUNNING visibility (the standard's DEFINE semantics): while classifying a
  * row as variable `v`, a reference to an EARLIER pattern variable resolves
  * against its matched run in this attempt (empty run → NULL); `v`'s own
  * bare/LAST refs are the candidate row and FIRST(v.col) the run's first
  * row; references to LATER variables are NULL — their conditions can never
  * hold, exactly as the standard prescribes.
  *
  * Interpreted surface: AND/OR/NOT, comparisons (= == <> != < <= > >=),
  * IS [NOT] NULL, arithmetic (+ - * / and unary -), parentheses,
  * numeric/string/boolean/NULL literals, bare column refs (candidate row),
  * `var.col`, `FIRST|LAST(var.col [, k])`, and — under `allowNav` (the
  * streaming route) — physical `PREV|NEXT(self.col [, n])`. Conditions are
  * TYPE-CHECKED at plan time against the schema (boolean misuse like
  * `A.v AND B.v` over numeric v fails at compile, never per-row on an
  * executor). BEYOND that surface (r11): any deterministic Spark SQL
  * expression — ABS/CASE/IN/LIKE/BETWEEN/COALESCE/... — compiles through
  * the [[Hybrid]] Catalyst fallback (navigation atoms stay interpreted and
  * feed slots of a composed row; numeric semantics there are Spark's own).
  * A condition BOTH paths refuse fails loudly with both reasons; subqueries
  * and non-deterministic expressions are refused (compute such a value as an
  * input column upstream and reference that). Interpreted-path numeric
  * comparisons and + - * are exact (BigDecimal) when both operands are
  * integral/decimal, double otherwise; division is always double — the same
  * determinism contract the catalog's oracle queries pin.
  */
object MrConditions {

  // ------------------------------------------------------------------- AST
  private sealed trait Ex
  private case class Lit(v: Any) extends Ex
  private case class Col(idx: Int) extends Ex // candidate row's column
  /** kind: 0 = FIRST, 1 = LAST/bare (running last); `off` = Flink's logical
    * occurrence offset (`FIRST(A.c, k)` = the (k+1)-th matched row, `LAST(A.c,
    * k)` = k back from the last; out-of-run → NULL).
    */
  private case class VarCol(tok: Int, kind: Int, idx: Int, off: Int = 0) extends Ex
  /** A SUBSET union reference in DEFINE (r11, ISO 9075-2 — Flink has no
    * SUBSET at all): FIRST/LAST/bare over the UNION of the member variables'
    * PLACED runs in row order — members placed strictly before the current
    * token in the attempted branch, plus the self run's prefix when the
    * variable being DEFINEd is itself a member (RUNNING semantics). `off` =
    * the logical occurrence offset into the union; no placed member rows →
    * NULL. `members` is a Vector for case-class equality (the Hybrid slot
    * dedup relies on it).
    */
  private case class SubCol(members: Vector[Int], kind: Int, idx: Int, off: Int = 0) extends Ex
  /** PREV(self.col, n): PHYSICAL navigation, candidate position − n. Only
    * produced under `allowNav` (the STREAMING route, which cannot precompute
    * lag() columns — the batch routes rewrite PREV to Catalyst nav columns
    * before compiling here). Before the buffer's retained range → NULL, the
    * partition-edge rule.
    */
  private case class PrevNav(n: Int, idx: Int) extends Ex
  /** NEXT(self.col, n): PHYSICAL forward navigation, candidate position + n,
    * under `allowNav` (r11 — Flink's streaming NEXT semantics). An unarrived
    * row is NOT a NULL: reading past the buffer's newest row throws the
    * [[NotYet]] control signal and the caller defers the whole decision one
    * event (the successor always arrives, or the stream ends and the open
    * attempt never emits — the bounded-stream tail contract).
    */
  private case class NextNav(n: Int, idx: Int) extends Ex
  private case class Un(op: String, e: Ex) extends Ex // NOT, NEG, ISNULL, ISNOTNULL
  private case class Bin(op: String, l: Ex, r: Ex) extends Ex
  /** Catalyst-fallback root (r11): the whole condition as ONE analyzed+bound
    * Catalyst expression over [input columns ++ extracted navigation atoms] —
    * conditions beyond the interpreted surface (ABS/CASE/IN/LIKE/COALESCE,
    * any deterministic Spark expression) run here; the atoms (`var.col`,
    * `FIRST|LAST(var.col[,k])`, `PREV|NEXT` under allowNav) stay interpreted
    * and feed slots `__mr_atom_<i>` of the composed row.
    */
  private case class Hybrid(bound: org.apache.spark.sql.catalyst.expressions.Expression,
                            atomExs: Array[Ex], extSchema: StructType, nBase: Int) extends Ex {
    @transient lazy val converter: Any => Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(extSchema)
  }

  /** Evaluation context the scan provides per tested row: the candidate row,
    * absolute-in-buffer accessors, and the current attempt's per-token run
    * placements (valid for tokens strictly before `selfTok`; `selfRunStart`
    * is the current token's run start).
    */
  trait Ctx {
    def cur: Row
    def rowAt(pos: Int): Row
    def selfTok: Int
    def selfRunStart: Int
    /** The candidate row's buffer position (= the self run's last position
      * under RUNNING semantics — offset navigation needs it).
      */
    def selfPos: Int
    def starts: Array[Int]
    def counts: Array[Int]
    /** Lowest buffer position `rowAt` can answer (physical PREV below it is
      * NULL — the partition-edge/retention rule). Batch contexts use 0.
      */
    def minPos: Int = 0
    /** Highest buffer position `rowAt` can answer. Physical NEXT beyond it
      * is NOT a NULL — the row has not arrived yet, so evaluation throws
      * [[NotYet]] and the caller defers the decision (streaming contexts set
      * this to the buffer's last index; batch routes never produce NextNav).
      */
    def maxPos: Int = Int.MaxValue
    /** True when token `tok`'s run is FIXED strictly before the current
      * token in the attempt being explored — i.e. `starts(tok)`/`counts(tok)`
      * are readable. Linear patterns use the global token order (the
      * default); branch-expanded patterns (alternation/PERMUTE) override
      * with the branch-positional order, because a variable with a LATER
      * global index may sit earlier in the branch being attempted.
      */
    def placedBefore(tok: Int): Boolean = tok < selfTok
  }

  /** Control signal: a NEXT() read past the newest buffered row — the
    * condition is UNDECIDABLE until the successor arrives. Stackless
    * singleton; callers catch it via [[Compiled.holdsOrDefer]].
    */
  object NotYet extends scala.util.control.ControlThrowable

  /** A compiled condition; `holds` is the final TRUE-or-not collapse of the
    * three-valued result (UNKNOWN → false, SQL WHERE semantics).
    */
  final class Compiled private[MrConditions] (root: Ex, val source: String) extends Serializable {
    private[MrConditions] def rootEx: Ex = root
    def holds(ctx: Ctx): Boolean = eval(root, ctx) match {
      case b: java.lang.Boolean => b.booleanValue()
      case _ => false // null/unknown
    }
    /** 1 = holds, 0 = does not, -1 = UNDECIDABLE yet (a NEXT() read past the
      * buffer's newest row) — the streaming route's one-event deferral.
      */
    def holdsOrDefer(ctx: Ctx): Int =
      try { if (holds(ctx)) 1 else 0 } catch { case NotYet => -1 }
  }

  /** Parse + resolve `cond` against the input schema. `varIdx` maps pattern
    * variable name → token index; `selfVar` is the variable being DEFINEd.
    * `allowNav` admits physical `PREV(self.col, n)` as an interpreter atom
    * (the streaming route — batch rewrites PREV to Catalyst lag() columns
    * instead); NEXT stays refused there, see [[PrevNav]]. `subsets` maps
    * SUBSET union-variable names to member token indices — their refs
    * resolve as [[SubCol]] union reads (r11).
    */
  def compile(cond: String, schema: StructType, varIdx: Map[String, Int],
              selfVar: String, allowNav: Boolean = false,
              subsets: Map[String, Seq[Int]] = Map.empty): Compiled = {
    require(varIdx.contains(selfVar), s"unknown DEFINE variable '$selfVar'")
    val p = new Parser(cond, schema, varIdx, if (allowNav) Some(selfVar) else None, subsets)
    val parsed = try Right(p.parseAll()) catch { case e: RuntimeException => Left(e) }
    parsed match {
      case Right(ex) =>
        val t = typeOf(ex, schema, cond)
        if (t != 'B' && t != '?')
          sys.error(s"MATCH_RECOGNIZE DEFINE must be a boolean condition, got " +
            s"${tpeName(t)}: $cond")
        new Compiled(ex, cond)
      case Left(err) =>
        // beyond the interpreted surface (a function, CASE, IN, BETWEEN…):
        // fall back to ONE Catalyst expression with interpreted atoms (r11);
        // a condition BOTH paths refuse reports both reasons
        val h = try compileHybrid(cond, schema, varIdx, selfVar, allowNav, subsets)
        catch {
          case _: StackOverflowError => throw err
          case e2: Throwable =>
            sys.error(s"${err.getMessage} [Catalyst fallback also failed: " +
              s"${Option(e2.getMessage).getOrElse(e2.getClass.getSimpleName).linesIterator.next()}]")
        }
        new Compiled(h, cond)
    }
  }

  /** Build the [[Hybrid]] root: extract navigation atoms lexically (outside
    * string literals), rewrite them to `__mr_atom_<i>` slots, analyze + bind
    * the rewritten text as a Catalyst expression over input ++ atom columns.
    * Plan-time only (driver; uses the active SparkSession's parser/analyzer).
    */
  private def compileHybrid(cond: String, schema: StructType, varIdx: Map[String, Int],
                            selfVar: String, allowNav: Boolean,
                            subsets: Map[String, Seq[Int]] = Map.empty): Ex = {
    import org.apache.spark.sql.catalyst.expressions._
    // string-literal spans: atom regexes must not fire inside '…'
    val quotes = {
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      while (i < cond.length) {
        if (cond.charAt(i) == '\'') {
          val s = i; i += 1
          while (i < cond.length && cond.charAt(i) != '\'') i += 1
          spans += ((s, math.min(i + 1, cond.length)))
        }
        i += 1
      }
      spans.toSeq
    }
    def inQuote(p: Int): Boolean = quotes.exists(s => p >= s._1 && p < s._2)

    final case class Found(start: Int, end: Int, ex: Ex, tpe: DataType)
    val found = scala.collection.mutable.ArrayBuffer.empty[Found]
    def colIdx(c: String): Int =
      try schema.fieldIndex(c)
      catch { case _: IllegalArgumentException => sys.error(s"unknown column '$c'") }

    val NavRe = "(?i)\\b(PREV|NEXT)\\s*\\(\\s*(\\w+)\\s*\\.\\s*(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
    for (m <- NavRe.findAllMatchIn(cond) if !inQuote(m.start)) {
      val (kind, v, c) = (m.group(1).toUpperCase, m.group(2), m.group(3))
      require(varIdx.contains(v), s"${kind}() over unknown pattern variable '$v'")
      require(allowNav, s"physical ${kind}() reached the interpreter on a batch route " +
        "(the frontend rewrites it to nav columns first)")
      require(v == selfVar, s"$kind() may only navigate the variable being DEFINEd")
      val n = Option(m.group(4)).map(_.toInt).getOrElse(1)
      val ci = colIdx(c)
      found += Found(m.start, m.end,
        if (kind == "PREV") PrevNav(n, ci) else NextNav(n, ci), schema(ci).dataType)
    }
    val FlRe = "(?i)\\b(FIRST|LAST)\\s*\\(\\s*(\\w+)\\s*\\.\\s*(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)".r
    for (m <- FlRe.findAllMatchIn(cond)
         if !inQuote(m.start) &&
           (varIdx.contains(m.group(2)) || subsets.contains(m.group(2))) &&
           !found.exists(f => m.start >= f.start && m.start < f.end)) {
      val (kind, v, c) = (m.group(1).toUpperCase, m.group(2), m.group(3))
      val k = Option(m.group(4)).map(_.toInt).getOrElse(0)
      val ci = colIdx(c)
      val ex = varIdx.get(v) match {
        case Some(tok) => VarCol(tok, if (kind == "FIRST") 0 else 1, ci, k)
        case None => SubCol(subsets(v).toVector, if (kind == "FIRST") 0 else 1, ci, k)
      }
      found += Found(m.start, m.end, ex, schema(ci).dataType)
    }
    val VcRe = "\\b(\\w+)\\s*\\.\\s*(\\w+)\\b".r
    for (m <- VcRe.findAllMatchIn(cond)
         if !inQuote(m.start) &&
           (varIdx.contains(m.group(1)) || subsets.contains(m.group(1))) &&
           !found.exists(f => m.start >= f.start && m.start < f.end)) {
      val ci = colIdx(m.group(2))
      val ex = varIdx.get(m.group(1)) match {
        case Some(tok) => VarCol(tok, 1, ci)
        case None => SubCol(subsets(m.group(1)).toVector, 1, ci)
      }
      found += Found(m.start, m.end, ex, schema(ci).dataType)
    }
    // distinct atoms → slots; rewrite right-to-left so positions stay valid
    val slots = scala.collection.mutable.LinkedHashMap.empty[Ex, (Int, DataType)]
    found.foreach(f => slots.getOrElseUpdate(f.ex, (slots.size, f.tpe)))
    var rewritten = cond
    found.sortBy(-_.start).foreach { f =>
      rewritten = rewritten.substring(0, f.start) +
        s"__mr_atom_${slots(f.ex)._1}" + rewritten.substring(f.end)
    }
    val extSchema = StructType(schema.fields.toSeq ++ slots.toSeq.map { case (_, (i, t)) =>
      StructField(s"__mr_atom_$i", t, nullable = true) })

    val spark = org.apache.spark.sql.SparkSession.active
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(extSchema)
    val parsedE = org.apache.spark.sql.graft.Bridge.parser(spark).parseExpression(rewritten)
    val proj = org.apache.spark.sql.catalyst.plans.logical.Project(
      Seq(Alias(parsedE, "__mr_cond")()),
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(attrs))
    val analyzed = spark.sessionState.analyzer.execute(proj)
    spark.sessionState.analyzer.checkAnalysis(analyzed)
    val ex0 = analyzed.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head.asInstanceOf[Alias].child
    require(ex0.deterministic, "DEFINE conditions must be deterministic")
    require(!ex0.exists(_.isInstanceOf[SubqueryExpression]),
      "subqueries are not allowed in DEFINE conditions")
    require(ex0.dataType == BooleanType,
      s"DEFINE must be a boolean condition, got ${ex0.dataType.simpleString}")
    // direct eval() needs RuntimeReplaceable (BETWEEN, ilike, …) swapped for
    // its replacement and `With` common-expression wrappers inlined (the
    // optimizer rules that normally do this run on plans, not expressions;
    // duplicating a common expression is fine under interpretation)
    var cur: Expression = ex0
    var changed = true
    while (changed) {
      val next = cur.transformUp {
        case r: RuntimeReplaceable => r.replacement
        case w: With =>
          val defs = w.defs.map(d => d.id -> d.child).toMap
          w.child.transformUp {
            case ref: CommonExpressionRef if defs.contains(ref.id) => defs(ref.id)
          }
      }
      changed = !next.fastEquals(cur)
      cur = next
    }
    val bound = BindReferences.bindReference(cur, org.apache.spark.sql.catalyst.expressions
      .AttributeSeq(attrs))
    Hybrid(bound, slots.keys.toArray, extSchema, schema.fields.length)
  }

  // ------------------------------------------------- plan-time type check
  // Column types are known from the schema, so boolean/numeric misuse
  // (`A.v AND B.v` over numeric v, `price + name`) is rejected HERE with the
  // condition text instead of a per-row ClassCastException on an executor
  // mid-job. Lattice: 'B' boolean, 'N' numeric, 'S' string, 'T' time-like,
  // '?' the NULL literal (compatible with everything).
  private def tpeName(t: Char): String = t match {
    case 'B' => "boolean"; case 'N' => "numeric"; case 'S' => "string"
    case 'T' => "timestamp"; case _ => "null"
  }
  private def typeOf(e: Ex, schema: StructType, src: String): Char = {
    def bad(msg: String): Nothing =
      sys.error(s"MATCH_RECOGNIZE DEFINE type error: $msg in: $src")
    def colT(i: Int): Char = schema(i).dataType match {
      case BooleanType => 'B'
      case _: NumericType => 'N'
      case StringType => 'S'
      case TimestampType | TimestampNTZType | DateType => 'T'
      case other => bad(s"unsupported column type ${other.simpleString} ('${schema(i).name}')")
    }
    def req(t: Char, want: Char, what: String): Unit =
      if (t != want && t != '?') bad(s"$what needs a ${tpeName(want)} operand, got ${tpeName(t)}")
    e match {
      case Lit(null) => '?'
      case Lit(_: java.lang.Boolean) => 'B'
      case Lit(_: String) => 'S'
      case Lit(_) => 'N'
      case Col(i) => colT(i)
      case VarCol(_, _, i, _) => colT(i)
      case SubCol(_, _, i, _) => colT(i)
      case PrevNav(_, i) => colT(i)
      case NextNav(_, i) => colT(i)
      case _: Hybrid => 'B' // validated at Catalyst analysis time
      case Un("NOT", x) => req(typeOf(x, schema, src), 'B', "NOT"); 'B'
      case Un("NEG", x) => req(typeOf(x, schema, src), 'N', "unary -"); 'N'
      case Un(_, x) => typeOf(x, schema, src); 'B' // IS [NOT] NULL: any operand
      case Bin(op @ ("AND" | "OR"), l, r) =>
        req(typeOf(l, schema, src), 'B', op); req(typeOf(r, schema, src), 'B', op); 'B'
      case Bin(op @ ("+" | "-" | "*" | "/"), l, r) =>
        req(typeOf(l, schema, src), 'N', s"arithmetic '$op'")
        req(typeOf(r, schema, src), 'N', s"arithmetic '$op'"); 'N'
      case Bin(op, l, r) =>
        val lt = typeOf(l, schema, src); val rt = typeOf(r, schema, src)
        if (lt != '?' && rt != '?' && lt != rt)
          bad(s"cannot compare ${tpeName(lt)} with ${tpeName(rt)} ('$op')")
        if ((lt == 'B' || rt == 'B') && op != "=" && op != "<>")
          bad(s"booleans support only = and <> ('$op')")
        'B'
    }
  }

  /** Maximum physical PREV depth a compiled condition can reach — the
    * streaming operator's retention margin before the first undecided start.
    */
  def maxPrevDepth(c: Compiled): Int = {
    def depth(e: Ex): Int = e match {
      case PrevNav(n, _) => n
      case Un(_, x) => depth(x)
      case Bin(_, l, r) => math.max(depth(l), depth(r))
      case h: Hybrid => h.atomExs.map(depth).foldLeft(0)(math.max)
      case _ => 0
    }
    depth(c.rootEx)
  }

  /** SUBSET union read: collect the PLACED member intervals (branch-earlier
    * members with non-empty runs; the self run's [runStart, selfPos] prefix
    * when self is a member), order them by start (runs are disjoint within
    * one attempt), and index the off-th row from the union's first (kind 0)
    * or last (kind 1) end. No placed rows, or offset past the union → NULL.
    */
  private def evalSubCol(ms: Vector[Int], kind: Int, i: Int, off: Int, ctx: Ctx): Any = {
    val n = ms.length
    val ss = new Array[Int](n); val es = new Array[Int](n)
    var nIv = 0
    var mi = 0
    while (mi < n) {
      val m = ms(mi)
      if (m == ctx.selfTok) {
        ss(nIv) = ctx.selfRunStart; es(nIv) = ctx.selfPos; nIv += 1
      } else if (ctx.placedBefore(m) && ctx.counts(m) > 0) {
        ss(nIv) = ctx.starts(m); es(nIv) = ctx.starts(m) + ctx.counts(m) - 1; nIv += 1
      }
      mi += 1
    }
    if (nIv == 0) return null
    // insertion sort by start — n is the subset's member count (tiny)
    var a = 1
    while (a < nIv) {
      val s0 = ss(a); val e0 = es(a)
      var b = a - 1
      while (b >= 0 && ss(b) > s0) { ss(b + 1) = ss(b); es(b + 1) = es(b); b -= 1 }
      ss(b + 1) = s0; es(b + 1) = e0
      a += 1
    }
    var k = off
    if (kind == 0) {
      var j = 0
      while (j < nIv) {
        val len = es(j) - ss(j) + 1
        if (k < len) return get(ctx.rowAt(ss(j) + k), i)
        k -= len; j += 1
      }
    } else {
      var j = nIv - 1
      while (j >= 0) {
        val len = es(j) - ss(j) + 1
        if (k < len) return get(ctx.rowAt(es(j) - k), i)
        k -= len; j -= 1
      }
    }
    null // offset past the union
  }

  // ------------------------------------------------------------ evaluation
  private def eval(e: Ex, ctx: Ctx): Any = e match {
    case Lit(v) => v
    case Col(i) => get(ctx.cur, i)
    case VarCol(tok, kind, i, off) =>
      val self = ctx.selfTok
      if (tok == self) {
        // running semantics: the run so far is [selfRunStart, selfPos]
        val p = if (kind == 1) ctx.selfPos - off else ctx.selfRunStart + off
        if (p < ctx.selfRunStart || p > ctx.selfPos) null // offset past the run
        else get(ctx.rowAt(p), i)
      } else if (!ctx.placedBefore(tok)) null // forward/absent reference: nothing matched yet
      else {
        val c = ctx.counts(tok)
        if (c <= off) null // empty/short earlier run → NULL
        else if (kind == 0) get(ctx.rowAt(ctx.starts(tok) + off), i)
        else get(ctx.rowAt(ctx.starts(tok) + c - 1 - off), i)
      }
    case SubCol(ms, kind, i, off) => evalSubCol(ms, kind, i, off, ctx)
    case PrevNav(nBack, i) =>
      val p = ctx.selfPos - nBack
      if (p < ctx.minPos) null else get(ctx.rowAt(p), i)
    case NextNav(nFwd, i) =>
      val p = ctx.selfPos + nFwd
      if (p > ctx.maxPos) throw NotYet else get(ctx.rowAt(p), i)
    case h: Hybrid =>
      val vals = new Array[Any](h.nBase + h.atomExs.length)
      var i = 0
      while (i < h.nBase) { vals(i) = get(ctx.cur, i); i += 1 }
      var j = 0
      while (j < h.atomExs.length) { vals(h.nBase + j) = eval(h.atomExs(j), ctx); j += 1 }
      h.bound.eval(h.converter(new org.apache.spark.sql.catalyst.expressions.GenericRow(vals))
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    case Un("NOT", x) => eval(x, ctx) match {
      case b: java.lang.Boolean => java.lang.Boolean.valueOf(!b.booleanValue())
      case _ => null
    }
    case Un("NEG", x) => eval(x, ctx) match {
      case null => null
      case v => arith("-", java.math.BigDecimal.ZERO, v)
    }
    case Un("ISNULL", x) => java.lang.Boolean.valueOf(eval(x, ctx) == null)
    case Un("ISNOTNULL", x) => java.lang.Boolean.valueOf(eval(x, ctx) != null)
    case Un(op, _) => sys.error(s"MrConditions: unknown unary '$op'")
    case Bin("AND", l, r) => kleene(eval(l, ctx), eval(r, ctx), and = true)
    case Bin("OR", l, r) => kleene(eval(l, ctx), eval(r, ctx), and = false)
    case Bin(op, l, r) if op == "+" || op == "-" || op == "*" || op == "/" =>
      val lv = eval(l, ctx); val rv = eval(r, ctx)
      if (lv == null || rv == null) null else arith(op, lv, rv)
    case Bin(op, l, r) =>
      val lv = eval(l, ctx); val rv = eval(r, ctx)
      if (lv == null || rv == null) null
      else {
        val c = cmp(lv, rv)
        java.lang.Boolean.valueOf(op match {
          case "=" => c == 0
          case "<>" => c != 0
          case "<" => c < 0
          case "<=" => c <= 0
          case ">" => c > 0
          case ">=" => c >= 0
          case other => sys.error(s"MrConditions: unknown comparison '$other'")
        })
      }
  }

  private def kleene(l: Any, r: Any, and: Boolean): Any = {
    val lb = l.asInstanceOf[java.lang.Boolean]
    val rb = r.asInstanceOf[java.lang.Boolean]
    if (and) {
      if (lb != null && !lb) java.lang.Boolean.FALSE
      else if (rb != null && !rb) java.lang.Boolean.FALSE
      else if (lb == null || rb == null) null
      else java.lang.Boolean.TRUE
    } else {
      if (lb != null && lb) java.lang.Boolean.TRUE
      else if (rb != null && rb) java.lang.Boolean.TRUE
      else if (lb == null || rb == null) null
      else java.lang.Boolean.FALSE
    }
  }

  private def get(r: Row, i: Int): Any = if (r.isNullAt(i)) null else r.get(i)

  /** BigDecimal-capable = exact integral/decimal external types. */
  private def bd(v: Any): java.math.BigDecimal = v match {
    case b: java.math.BigDecimal => b
    case b: scala.math.BigDecimal => b.bigDecimal
    case n: java.lang.Long => java.math.BigDecimal.valueOf(n.longValue())
    case n: java.lang.Integer => java.math.BigDecimal.valueOf(n.longValue())
    case n: java.lang.Short => java.math.BigDecimal.valueOf(n.longValue())
    case n: java.lang.Byte => java.math.BigDecimal.valueOf(n.longValue())
    case _ => null
  }
  private def dbl(v: Any): java.lang.Double = v match {
    case d: java.lang.Double => d
    case f: java.lang.Float => java.lang.Double.valueOf(f.toString.toDouble)
    case n: java.lang.Number => java.lang.Double.valueOf(n.doubleValue())
    case _ => null
  }
  private def micros(v: Any): java.lang.Long = v match {
    case t: java.sql.Timestamp =>
      java.lang.Long.valueOf(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => java.lang.Long.valueOf(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => java.lang.Long.valueOf(d.getTime * 1000L)
    case d: java.time.LocalDate => java.lang.Long.valueOf(d.toEpochDay * 86400000000L)
    case _ => null
  }

  private def cmp(l: Any, r: Any): Int = (l, r) match {
    case (a: String, b: String) => a.compareTo(b)
    case (a: java.lang.Boolean, b: java.lang.Boolean) => a.compareTo(b)
    case _ =>
      val lm = micros(l); val rm = micros(r)
      if (lm != null && rm != null) java.lang.Long.compare(lm, rm)
      else {
        val lb = bd(l); val rb = bd(r)
        if (lb != null && rb != null) lb.compareTo(rb)
        else {
          val ld = dbl(l); val rd = dbl(r)
          if (ld != null && rd != null) java.lang.Double.compare(ld, rd)
          else sys.error(s"MrConditions: cannot compare ${l.getClass.getSimpleName} " +
            s"with ${r.getClass.getSimpleName}")
        }
      }
  }

  private def arith(op: String, l: Any, r: Any): Any = {
    val lb = bd(l); val rb = bd(r)
    if (op != "/" && lb != null && rb != null) op match {
      case "+" => lb.add(rb)
      case "-" => lb.subtract(rb)
      case "*" => lb.multiply(rb)
      case other => sys.error(s"MrConditions: unknown arithmetic '$other'")
    } else {
      val ld = dbl(l); val rd = dbl(r)
      if (ld == null || rd == null)
        sys.error(s"MrConditions: non-numeric operand for '$op' " +
          s"(${l.getClass.getSimpleName}, ${r.getClass.getSimpleName})")
      op match {
        case "+" => java.lang.Double.valueOf(ld + rd)
        case "-" => java.lang.Double.valueOf(ld - rd)
        case "*" => java.lang.Double.valueOf(ld * rd)
        case "/" => java.lang.Double.valueOf(ld / rd)
        case other => sys.error(s"MrConditions: unknown arithmetic '$other'")
      }
    }
  }

  // --------------------------------------------------------------- parsing
  private final class Parser(src: String, schema: StructType,
                             varIdx: Map[String, Int],
                             navSelf: Option[String] = None,
                             subsets: Map[String, Seq[Int]] = Map.empty) {
    private var pos = 0
    private def fail(msg: String): Nothing =
      sys.error(s"MATCH_RECOGNIZE cross-variable DEFINE: $msg at offset $pos in: $src " +
        "(supported: AND/OR/NOT, comparisons, IS [NOT] NULL, + - * /, literals, " +
        "column refs, var.col, FIRST/LAST(var.col); any other deterministic Spark " +
        "SQL expression without a subquery runs through the Catalyst fallback — " +
        "compute a non-deterministic or subquery value as an input column upstream)")
    private def ws(): Unit = while (pos < src.length && src.charAt(pos).isWhitespace) pos += 1
    private def peek: Char = if (pos < src.length) src.charAt(pos) else '\u0000'
    private def kw(k: String): Boolean = { // case-insensitive keyword with word boundary
      ws()
      if (src.regionMatches(true, pos, k, 0, k.length) &&
        (pos + k.length >= src.length || !isIdentChar(src.charAt(pos + k.length)))) {
        pos += k.length; true
      } else false
    }
    private def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'

    def parseAll(): Ex = {
      val e = orExpr()
      ws()
      if (pos != src.length) fail(s"unexpected trailing input '${src.substring(pos)}'")
      e
    }
    private def orExpr(): Ex = {
      var l = andExpr()
      while (kw("OR")) l = Bin("OR", l, andExpr())
      l
    }
    private def andExpr(): Ex = {
      var l = notExpr()
      while (kw("AND")) l = Bin("AND", l, notExpr())
      l
    }
    private def notExpr(): Ex = if (kw("NOT")) Un("NOT", notExpr()) else cmpExpr()
    private def cmpExpr(): Ex = {
      val l = addExpr()
      ws()
      if (kw("IS")) {
        val neg = kw("NOT")
        if (!kw("NULL")) fail("expected NULL after IS [NOT]")
        Un(if (neg) "ISNOTNULL" else "ISNULL", l)
      } else {
        val op =
          if (src.startsWith("<=", pos)) { pos += 2; "<=" }
          else if (src.startsWith(">=", pos)) { pos += 2; ">=" }
          else if (src.startsWith("<>", pos)) { pos += 2; "<>" }
          else if (src.startsWith("!=", pos)) { pos += 2; "<>" }
          else if (src.startsWith("==", pos)) { pos += 2; "=" }
          else if (peek == '<') { pos += 1; "<" }
          else if (peek == '>') { pos += 1; ">" }
          else if (peek == '=') { pos += 1; "=" }
          else null
        if (op == null) l else Bin(op, l, addExpr())
      }
    }
    private def addExpr(): Ex = {
      var l = mulExpr()
      var go = true
      while (go) {
        ws()
        if (peek == '+') { pos += 1; l = Bin("+", l, mulExpr()) }
        else if (peek == '-') { pos += 1; l = Bin("-", l, mulExpr()) }
        else go = false
      }
      l
    }
    private def mulExpr(): Ex = {
      var l = unary()
      var go = true
      while (go) {
        ws()
        if (peek == '*') { pos += 1; l = Bin("*", l, unary()) }
        else if (peek == '/') { pos += 1; l = Bin("/", l, unary()) }
        else go = false
      }
      l
    }
    private def unary(): Ex = {
      ws()
      if (peek == '-') { pos += 1; Un("NEG", unary()) } else primary()
    }
    private def primary(): Ex = {
      ws()
      if (peek == '(') {
        pos += 1
        val e = orExpr()
        ws()
        if (peek != ')') fail("expected ')'")
        pos += 1
        e
      } else if (peek == '\'') {
        pos += 1
        val sb = new StringBuilder
        while (pos < src.length && src.charAt(pos) != '\'') { sb += src.charAt(pos); pos += 1 }
        if (pos >= src.length) fail("unterminated string literal")
        pos += 1
        Lit(sb.toString)
      } else if (peek.isDigit || (peek == '.' && pos + 1 < src.length && src.charAt(pos + 1).isDigit)) {
        val start = pos
        while (pos < src.length && (src.charAt(pos).isDigit || src.charAt(pos) == '.')) pos += 1
        if (pos < src.length && (src.charAt(pos) == 'e' || src.charAt(pos) == 'E')) {
          pos += 1
          if (peek == '+' || peek == '-') pos += 1
          while (pos < src.length && src.charAt(pos).isDigit) pos += 1
        }
        val tok = src.substring(start, pos)
        if (tok.contains('.') || tok.toLowerCase.contains('e')) Lit(java.lang.Double.valueOf(tok))
        else Lit(new java.math.BigDecimal(tok))
      } else if (isIdentChar(peek)) {
        val start = pos
        while (pos < src.length && isIdentChar(src.charAt(pos))) pos += 1
        val name = src.substring(start, pos)
        name.toUpperCase match {
          case "TRUE" => Lit(java.lang.Boolean.TRUE)
          case "FALSE" => Lit(java.lang.Boolean.FALSE)
          case "NULL" => Lit(null)
          case "FIRST" | "LAST" => firstLast(name.toUpperCase)
          case "PREV" if navSelf.isDefined => nav("PREV")
          case "NEXT" if navSelf.isDefined => nav("NEXT")
          case _ =>
            ws()
            if (peek == '.') { // var.col or unknown qualifier
              pos += 1
              val cstart = pos
              while (pos < src.length && isIdentChar(src.charAt(pos))) pos += 1
              val c = src.substring(cstart, pos)
              varIdx.get(name) match {
                case Some(tok) => VarCol(tok, 1, colIdx(c)) // bare = running LAST
                case None => subsets.get(name) match {
                  case Some(ms) => SubCol(ms.toVector, 1, colIdx(c)) // union running LAST
                  case None => fail(s"unknown qualifier '$name' (not a pattern variable)")
                }
              }
            } else if (peek == '(') {
              fail(s"unsupported function '$name'")
            } else Col(colIdx(name)) // bare column: the candidate row
        }
      } else fail(s"unexpected character '$peek'")
    }
    private def firstLast(kind: String): Ex = {
      ws()
      if (peek != '(') fail(s"expected '(' after $kind")
      pos += 1
      ws()
      val vstart = pos
      while (pos < src.length && isIdentChar(src.charAt(pos))) pos += 1
      val v = src.substring(vstart, pos)
      ws()
      if (peek != '.') fail(s"$kind() needs var.col")
      pos += 1
      val cstart = pos
      while (pos < src.length && isIdentChar(src.charAt(pos))) pos += 1
      val c = src.substring(cstart, pos)
      ws()
      // optional Flink logical offset: FIRST(A.c, k) / LAST(A.c, k)
      var off = 0
      if (peek == ',') {
        pos += 1; ws()
        val nstart = pos
        while (pos < src.length && src.charAt(pos).isDigit) pos += 1
        if (pos == nstart) fail(s"$kind() offset must be a non-negative integer literal")
        off = src.substring(nstart, pos).toInt
        ws()
      }
      if (peek != ')') fail(s"expected ')' closing $kind()")
      pos += 1
      varIdx.get(v) match {
        case Some(tok) => VarCol(tok, if (kind == "FIRST") 0 else 1, colIdx(c), off)
        case None => subsets.get(v) match {
          case Some(ms) => SubCol(ms.toVector, if (kind == "FIRST") 0 else 1, colIdx(c), off)
          case None => fail(s"$kind() over unknown pattern variable '$v'")
        }
      }
    }
    /** `PREV|NEXT(self.col [, n])` under `navSelf` — physical navigation.
      * PREV reads backward (below the retained range → NULL); NEXT reads
      * forward (past the newest buffered row → the [[NotYet]] deferral).
      */
    private def nav(kind: String): Ex = {
      ws()
      if (peek != '(') fail(s"expected '(' after $kind")
      pos += 1
      ws()
      val vstart = pos
      while (pos < src.length && isIdentChar(src.charAt(pos))) pos += 1
      val v = src.substring(vstart, pos)
      ws()
      if (peek != '.') fail(s"$kind() needs var.col")
      pos += 1
      val cstart = pos
      while (pos < src.length && isIdentChar(src.charAt(pos))) pos += 1
      val c = src.substring(cstart, pos)
      ws()
      var n = 1
      if (peek == ',') {
        pos += 1; ws()
        val nstart = pos
        while (pos < src.length && src.charAt(pos).isDigit) pos += 1
        if (pos == nstart) fail(s"$kind() offset must be a non-negative integer literal")
        n = src.substring(nstart, pos).toInt
        ws()
      }
      if (peek != ')') fail(s"expected ')' closing $kind()")
      pos += 1
      if (!varIdx.contains(v)) fail(s"$kind() over unknown pattern variable '$v'")
      if (!navSelf.contains(v))
        fail(s"$kind() may only navigate the variable being DEFINEd, got $kind($v.$c)")
      if (kind == "PREV") PrevNav(n, colIdx(c)) else NextNav(n, colIdx(c))
    }

    private def colIdx(c: String): Int =
      try schema.fieldIndex(c)
      catch { case _: IllegalArgumentException => fail(s"unknown column '$c'") }
  }
}
