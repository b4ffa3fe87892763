package graft.operators

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import MatchRecognize.{Skip, SkipPastLastRow, SkipToFirst, SkipToLast, SkipToNextRow}

/** The one MATCH_RECOGNIZE matcher: the backtracking walk over an [[MrProg]]
  * that the batch scan ([[MatchRecognize.scanPattern]]) and the standing
  * operator ([[graft.streaming.StreamingMatchRecognize]], and through it
  * [[graft.streaming.StreamingSequenceMatchQ]]) all run.
  *
  * A caller supplies three things over its own row positions: whether row
  * `pos` exists, will never exist (the input is closed) or has not arrived
  * yet ([[avail]]); a three-valued DEFINE test ([[test]]); and event-time
  * micros for WITHIN ([[micros]]). [[resolve]] then answers a match attempt
  * at a start position with the winner's length (> 0), 0 for a dead attempt,
  * or -1 for an open one. A batch caller never answers "not arrived", so for
  * it the walk is the plain greedy/reluctant leftmost search and never
  * returns -1.
  *
  * Matching semantics: choice points are decided at their written positions
  * (ISO 9075-2 preferment), greedy quantifiers explore counts longest-first
  * and reluctant ones shortest-first, and the FIRST non-dead outcome in
  * preference order decides. A run that reaches the newest arrived row is
  * OPEN (a future row may extend it) unless the WITHIN horizon already dooms
  * every extension: a greedy open run defers the whole attempt before any
  * shorter count is tried; a reluctant one defers only after every count it
  * has is dead. A DEFINE that cannot be decided yet (a NEXT() read past the
  * newest row) defers the whole attempt. Cross-variable DEFINEs read
  * [[starts]]/[[counts]]/[[placed]]: a run's rows are tested while its start
  * and every PATH-earlier placement are fixed, the prefix property that makes
  * the in-scan test sound.
  *
  * After a winning [[resolve]] the placement arrays and the path
  * (`pathVar/Start/Count/Excl`, in row order) hold the match; after a dead
  * or open one they hold nothing meaningful. Every array is allocated once
  * per matcher, so the walk allocates nothing.
  */
abstract class MrMatcher(prog: MrProg, nVars: Int, withinUs: Long) {

  /** 1 = row `pos` exists; 0 = it never will (the input is closed);
    * -1 = it has not arrived yet.
    */
  protected def avail(pos: Int): Int

  /** Variable `v`'s DEFINE at row `pos` inside a run that starts at
    * `runStart`: 1 holds, 0 does not, -1 undecidable until a later row
    * arrives.
    */
  protected def test(v: Int, pos: Int, runStart: Int): Int

  /** Event-time micros of row `pos`; read only under WITHIN. */
  protected def micros(pos: Int): Long

  /** Per-variable run start and length of the attempt being walked (counts
    * are 0 for a variable off the path).
    */
  final val starts = new Array[Int](nVars)
  final val counts = new Array[Int](nVars)
  /** True while the variable's run is committed on the path being explored. */
  final val placed = new Array[Boolean](nVars)
  /** The winning path in row order; one entry per placement. */
  final val pathVar = new Array[Int](nVars)
  final val pathStart = new Array[Int](nVars)
  final val pathCount = new Array[Int](nVars)
  final val pathExcl = new Array[Boolean](nVars)
  final var pathLen = 0

  private[this] val pKind = prog.kind
  private[this] val pV = prog.v
  private[this] val pLo = prog.lo
  private[this] val pHi = prog.hi
  private[this] val pRel = prog.rel
  private[this] val pExcl = prog.excl
  private[this] val pNxt = prog.nxt
  private[this] val pAlts = prog.alts
  private[this] var start = 0
  private[this] var startUs = 0L

  /** One match attempt at row `p`: the winner's length (> 0), 0 dead, -1 open. */
  final def resolve(p: Int): Int = {
    java.util.Arrays.fill(counts, 0)
    java.util.Arrays.fill(placed, false)
    pathLen = 0
    start = p
    startUs = if (withinUs > 0L) micros(p) else 0L
    try walk(prog.entry, p) catch { case MrConditions.NotYet => -1 }
  }

  private def walk(ip: Int, pos: Int): Int = pKind(ip) match {
    case 2 => if (pos > start) pos - start else 0 // the empty match never selects
    case 1 => // Split: alternatives in written (preference) order
      val ts = pAlts(ip)
      var i = 0
      while (i < ts.length) {
        val r = walk(ts(i), pos)
        if (r != 0) return r // a winner or an open attempt stops lower preference
        i += 1
      }
      0
    case _ => // Var: scan the run up to the quantifier's cap, explore counts
      val gv = pV(ip)
      starts(gv) = pos
      var c = 0
      var stop = 0 // 1 closed, 2 open
      while (stop == 0) {
        if (c >= pHi(ip)) stop = 1
        else {
          val q = pos + c
          val a = avail(q)
          if (a == 0) stop = 1
          else if (a < 0) // the run reaches the newest row: open unless WITHIN dooms it
            stop = if (withinUs > 0L && micros(q - 1) - startUs > withinUs) 1 else 2
          else if (withinUs > 0L && micros(q) - startUs > withinUs) stop = 1
          else test(gv, q, pos) match {
            case 1 => c += 1
            case 0 => stop = 1
            case _ => throw MrConditions.NotYet
          }
        }
      }
      val open = stop == 2
      val d = pathLen
      pathVar(d) = gv; pathStart(d) = pos; pathExcl(d) = pExcl(ip)
      if (pRel(ip)) { // reluctant: shortest first; open only once every count is dead
        var k = pLo(ip)
        while (k <= c) {
          val r = place(ip, gv, d, pos, k)
          if (r != 0) return r
          k += 1
        }
        if (open) return -1
      } else {
        if (open) return -1
        while (c >= pLo(ip)) {
          val r = place(ip, gv, d, pos, c)
          if (r != 0) return r
          c -= 1
        }
      }
      counts(gv) = 0 // clean failed placement (later alternatives read zeros)
      0
  }

  private def place(ip: Int, gv: Int, d: Int, pos: Int, k: Int): Int = {
    counts(gv) = k
    pathCount(d) = k
    placed(gv) = true
    pathLen = d + 1
    val r = walk(pNxt(ip), pos + k)
    if (r == 0) { pathLen = d; placed(gv) = false }
    r
  }

  /** The variable of the match's LAST row: the deepest path entry that placed
    * a row (ONE ROW PER MATCH CLASSIFIER, ISO).
    */
  final def lastVar: Int = {
    var t = pathLen - 1
    while (t >= 0 && pathCount(t) == 0) t -= 1
    pathVar(t)
  }

  /** First row of the union of `vars`' runs at or before `limit` (the
    * RUNNING view; Int.MaxValue = the whole match), -1 when there is none.
    */
  final def firstRowIn(vars: Array[Int], limit: Int): Int = {
    var first = -1
    var i = 0
    while (i < vars.length) {
      val u = vars(i)
      if (counts(u) > 0 && starts(u) <= limit && (first < 0 || starts(u) < first)) first = starts(u)
      i += 1
    }
    first
  }

  /** Last row of the union of `vars`' runs at or before `limit`, -1 when none. */
  final def lastRowIn(vars: Array[Int], limit: Int): Int = {
    var last = -1
    var i = 0
    while (i < vars.length) {
      val u = vars(i)
      if (counts(u) > 0 && starts(u) <= limit)
        last = math.max(last, math.min(starts(u) + counts(u) - 1, limit))
      i += 1
    }
    last
  }

  /** Fold the rows of `vars`' runs into field `j` of `acc`, reading each
    * row's value through `value`.
    */
  final def foldRuns(acc: MrMatcher.Agg, j: Int, vars: Array[Int])(value: Int => Any): Unit = {
    var i = 0
    while (i < vars.length) {
      val u = vars(i)
      var r = 0
      while (r < counts(u)) { acc.add(j, value(starts(u) + r)); r += 1 }
      i += 1
    }
  }

  /** The cursor's next position after the winner at `p` of length `len`.
    * The variable-targeted strategies resume AT the variable's first/last
    * row on the path (matches may overlap); an empty target or one that
    * re-anchors at the match's own start would loop forever and fails
    * loudly (the standard's rules; Flink throws too).
    */
  final def skipTarget(skip: Skip, p: Int, len: Int, names: Seq[String]): Int = skip match {
    case SkipPastLastRow => p + len
    case SkipToNextRow => p + 1
    case SkipToFirst(i) => target("FIRST", names(i), firstOnPath(i), p)
    case SkipToLast(i) => target("LAST", names(i), lastOnPath(i), p)
  }

  private def target(kind: String, name: String, pos: Int, p: Int): Int = {
    if (pos < 0) sys.error(s"AFTER MATCH SKIP TO $kind $name: " +
      "the variable matched no rows in the selected match")
    if (pos == p) sys.error(s"AFTER MATCH SKIP TO $kind $name would " +
      "re-anchor at the match's own start row (infinite loop)")
    pos
  }

  /** First row mapped to variable i on the path, -1 when it matched none.
    * Zero-count placements are skipped (ISO's first/last-row-mapped rule).
    */
  private def firstOnPath(i: Int): Int = {
    var t = 0
    while (t < pathLen && !(pathVar(t) == i && pathCount(t) > 0)) t += 1
    if (t == pathLen) -1 else pathStart(t)
  }

  /** Last row mapped to variable i on the path (walked from the END), -1 when none. */
  private def lastOnPath(i: Int): Int = {
    var t = pathLen - 1
    while (t >= 0 && !(pathVar(t) == i && pathCount(t) > 0)) t -= 1
    if (t < 0) -1 else pathStart(t) + pathCount(t) - 1
  }
}

object MrMatcher {

  val Cnt = 0
  val Sum = 1
  val Min = 2
  val Max = 3
  val Avg = 4
  private val FnCode = Map("cnt" -> Cnt, "sum" -> Sum, "min" -> Min, "max" -> Max, "avg" -> Avg)

  /** The code of aggregate `fn` (cnt|sum|min|max|avg). */
  def fnCode(fn: String): Int = FnCode.getOrElse(fn, sys.error(s"unknown aggregate '$fn'"))

  /** Aggregate MEASURES fields over a match's rows, one per `fns` code: cnt
    * counts non-NULL values (a row-count field is fed any non-NULL value per
    * row) and is 0 when empty; sum is an EXACT decimal over HALF_UP scale-6
    * values ([[toDecimal6]]), so it is order-independent and equal to
    * `SUM(CAST(x AS DECIMAL(_,6)))` in any engine; avg is one double division
    * of that sum by the non-NULL count; min/max keep the value by
    * [[compareMeasure]]. Every non-cnt field is NULL when it saw no value.
    * Values may be internal (batch) or external (streaming) alike.
    */
  final class Agg(fns: Array[Int]) {
    private[this] val n = new Array[Long](fns.length)
    private[this] val dec = new Array[java.math.BigDecimal](fns.length)
    private[this] val ext = new Array[Any](fns.length)

    def size: Int = fns.length

    def clear(): Unit = {
      java.util.Arrays.fill(n, 0L)
      java.util.Arrays.fill(dec.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(ext.asInstanceOf[Array[AnyRef]], null)
    }

    /** Fold `v` into field `j`; NULL is skipped. */
    def add(j: Int, v: Any): Unit = if (v != null) {
      n(j) += 1L
      fns(j) match {
        case Sum | Avg =>
          val d = toDecimal6(v)
          dec(j) = if (dec(j) == null) d else dec(j).add(d)
        case Min | Max =>
          if (ext(j) == null) ext(j) = v
          else {
            val c = compareMeasure(v, ext(j))
            if ((fns(j) == Min && c < 0) || (fns(j) == Max && c > 0)) ext(j) = v
          }
        case _ => ()
      }
    }

    /** Field `j`'s value: a Long count, a scale-6 BigDecimal sum, a Double
      * average, or the min/max value as it was added.
      */
    def result(j: Int): Any = fns(j) match {
      case Cnt => n(j)
      case Sum => dec(j)
      case Avg => if (dec(j) == null) null else java.lang.Double.valueOf(dec(j).doubleValue() / n(j))
      case _ => ext(j)
    }
  }

  /** A double/float/integral/decimal as an EXACT scale-6 decimal, rounded
    * HALF_UP exactly like Spark's double→decimal cast — so a sequential sum
    * of these is order-independent and matches `SUM(CAST(x AS DECIMAL(_,6)))`
    * in any engine. Takes internal (Decimal, the batch scan) and external
    * (BigDecimal, the streaming operator) values alike.
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

  /** MIN/MAX MEASURES order: the type's natural order, strings in UTF-8 byte
    * (= code-point) order — the internal UTF8String's own order, and the
    * order external Strings are compared in too (Java's UTF-16
    * `String.compareTo` disagrees once a supplementary code point meets
    * U+E000..U+FFFF).
    */
  private[graft] def compareMeasure(a: Any, b: Any): Int = (a, b) match {
    case (s: String, t: String) => UTF8String.fromString(s).compareTo(UTF8String.fromString(t))
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  // ---- build-time checks shared by every MATCH_RECOGNIZE operator ----

  /** Aggregate MEASURES `fn` over column `c` of type `dt` must be computable:
    * sum/avg need a numeric type ([[toDecimal6]]'s contract); min/max compare
    * through Comparable, which binary and nested types do not implement.
    */
  private[graft] def requireAggType(fn: String, c: String, dt: DataType): Unit = {
    if (fn == "sum" || fn == "avg")
      require(dt.isInstanceOf[NumericType],
        s"${fn.toUpperCase} MEASURES column '$c' must be numeric, got ${dt.simpleString}")
    if (fn == "min" || fn == "max") {
      val orderableAtomic = dt.isInstanceOf[NumericType] || (dt match {
        case StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
        case _ => false
      })
      require(orderableAtomic,
        s"${fn.toUpperCase} MEASURES column '$c' must have an orderable atomic type " +
          s"(numeric/string/boolean/date/timestamp), got ${dt.simpleString}")
    }
  }

  /** SUBSET union variables over `varNames`: non-empty, known and distinct
    * members, no collision with a pattern variable, no duplicate name.
    */
  private[graft] def requireSubsets(varNames: Seq[String], subsets: Seq[(String, Seq[Int])]): Unit = {
    subsets.foreach { case (nm, members) =>
      require(members.nonEmpty, s"SUBSET $nm needs at least one member variable")
      members.foreach(m => require(m >= 0 && m < varNames.size,
        s"SUBSET $nm references unknown variable index $m"))
      require(members.distinct.size == members.size, s"SUBSET $nm repeats a member")
      require(!varNames.contains(nm), s"SUBSET $nm collides with a pattern variable name")
    }
    require(subsets.map(_._1).distinct.size == subsets.size, "duplicate SUBSET name")
  }

  /** A variable-targeted skip must name one of the `nVars` variables. */
  private[graft] def requireSkipTarget(skip: Skip, nVars: Int): Unit = skip match {
    case SkipToFirst(i) => require(i >= 0 && i < nVars, s"skip target out of range: $i")
    case SkipToLast(i) => require(i >= 0 && i < nVars, s"skip target out of range: $i")
    case _ => ()
  }
}
