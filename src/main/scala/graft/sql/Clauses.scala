package graft.sql

import scala.collection.immutable.ListMap

import graft.anomaly.AnomalyDetector
import graft.operators.{MatchRecognize, MrPattern}

/** One `FROM t MATCH_RECOGNIZE (…) [AS] alias` clause, parsed once for both
  * routes: [[SqlFrontend.rewriteMatchRecognize]] lowers it to the lead()-CASE
  * or [[MatchRecognize.scanPattern]], the standing planner ([[StreamPlanner]])
  * to [[graft.streaming.StreamingMatchRecognize.applyPattern]]. So a clause
  * means the same thing, and a malformed one fails with the same message,
  * whether its statement runs as a snapshot or standing. Every grammar-level
  * refusal is raised by [[MrClause.parse]]; what only one route cannot run
  * stays in that route's lowering.
  *
  * @param start     index of the clause's `FROM` in the statement text
  * @param end       index just past the clause and its alias
  * @param partition the PARTITION BY entries (columns or expressions)
  * @param order     the ORDER BY columns: the event time, then tie-breaks
  * @param skip      the AFTER MATCH strategy (SKIP PAST LAST ROW when absent)
  * @param branches  the pattern's preference-ordered branches: MrPattern's
  *                  expansion of a composite pattern, or the linear token
  *                  sequence as its one branch
  * @param tree      a composite pattern's parse tree (None when linear)
  * @param subsets   SUBSET names with their member variable indexes
  * @param defines   DEFINE conditions by variable, in written order
  * @param measures  MEASURES without their RUNNING/FINAL keyword
  */
final case class MrClause(
    table: String, start: Int, end: Int, alias: Option[String],
    partition: Seq[String], order: Seq[String], allRows: Boolean,
    skip: MatchRecognize.Skip, pattern: String, varNames: Seq[String],
    branches: Seq[Vector[MrPattern.PTok]], tree: Option[MrPattern.Node],
    subsets: Seq[(String, Seq[Int])], defines: ListMap[String, String],
    measures: Seq[MrClause.Measure], withinMicros: Option[Long]) {

  def composite: Boolean = tree.isDefined

  /** The linear token table; empty for a composite pattern. */
  def linear: Seq[MrPattern.PTok] = if (composite) Nil else branches.head

  val varIndex: Map[String, Int] = varNames.zipWithIndex.toMap

  /** The branches as the matcher's tokens. */
  def scanBranches: Seq[IndexedSeq[MatchRecognize.BTok]] = branches.map(_.map(t =>
    MatchRecognize.BTok(varIndex(t.name), t.lo, t.hi, t.reluctant, t.excluded)))

  /** `sql` with this clause replaced by `FROM relation alias`. */
  def splice(sql: String, relation: String): String =
    sql.substring(0, start) + s"FROM $relation ${alias.getOrElse("__graft_mr")}" +
      sql.substring(end)
}

object MrClause {

  /** One MEASURES entry; `running` is the standard's default under ALL ROWS
    * PER MATCH unless the entry is marked FINAL (under ONE ROW the output
    * point is the final row, where RUNNING ≡ FINAL).
    */
  final case class Measure(text: String, alias: String, running: Boolean)

  private val ClauseRe = "(?is)FROM\\s+([\\w.`]+)\\s+MATCH_RECOGNIZE\\s*\\(".r
  private val AliasRe = "(?is)^\\s*(?:AS\\s+)?(\\w+)".r
  /** Words that end the FROM item instead of aliasing it. */
  private val NotAlias = Set("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION",
    "JOIN", "ON", "LEFT", "RIGHT", "INNER", "FULL", "CROSS")
  // hi = None → UNBOUNDED (`+`, `*`, `{m,}`); a trailing `?` (Flink's
  // reluctant forms `+?`/`*?`/`??`/`{m,n}?`) flips that token's exploration
  // to shortest-first
  private val TokenRe = "(\\w+)(?:(\\?\\??)|([+*]\\??)|\\{(\\d+)(?:(,)(\\d+)?)?\\}(\\?)?)?".r

  /** The optional `WITHIN INTERVAL 'n' unit` right after the PATTERN's
    * closing paren, in micros; a zero or negative bound is refused.
    */
  private def parseWithin(afterPattern: String): Option[Long] =
    "(?is)^\\s*WITHIN\\s+INTERVAL\\s+'(-?\\d+)'\\s+(\\w+)".r.findFirstMatchIn(afterPattern)
      .map { mm =>
        require(mm.group(1).toLong > 0,
          s"WITHIN bound must be positive, got INTERVAL '${mm.group(1)}' ${mm.group(2)}")
        graft.operators.Cumulate.durationMicros(s"${mm.group(1)} ${mm.group(2)}")
      }

  /** The first MATCH_RECOGNIZE clause of `sql`; None when there is none. */
  def parse(sql: String): Option[MrClause] = ClauseRe.findFirstMatchIn(sql).map { m =>
    val (pieces, after) = SqlFrontend.balancedArgs(sql, m.end - 1)
    val body = pieces.mkString(", ")
    val aliasM = AliasRe.findFirstMatchIn(sql.substring(after))
      .filter(a => !NotAlias.contains(a.group(1).toUpperCase))
    def clause(re: String): Option[String] = re.r.findFirstMatchIn(body).map(_.group(1).trim)
    def entries(s: String): Seq[String] =
      SqlFrontend.splitTopLevelCommas(s).map(_.trim).filter(_.nonEmpty)

    val partition = clause("(?is)PARTITION\\s+BY\\s+(.*?)\\s+ORDER\\s+BY").map(entries)
      .filter(_.nonEmpty).getOrElse(sys.error("MATCH_RECOGNIZE requires PARTITION BY"))
    // multi-column ORDER BY: the FIRST column is the event time (row offsets,
    // WITHIN bounds, end_ts all measure it); trailing columns only break ties
    val order = clause("(?is)ORDER\\s+BY\\s+(\\w+(?:\\s*,\\s*\\w+)*)")
      .getOrElse(sys.error("MATCH_RECOGNIZE requires ORDER BY")).split(",").map(_.trim).toSeq
    val allRows = "(?is)ALL\\s+ROWS\\s+PER\\s+MATCH".r.findFirstIn(body).isDefined
    val skipToNext = "(?is)AFTER\\s+MATCH\\s+SKIP\\s+TO\\s+NEXT\\s+ROW".r.findFirstIn(body).isDefined
    val skipPast = "(?is)AFTER\\s+MATCH\\s+SKIP\\s+PAST\\s+LAST\\s+ROW".r.findFirstIn(body).isDefined
    // the variable-targeted strategies: SKIP TO [FIRST|LAST] <var>, where a
    // bare SKIP TO <var> is LAST (the standard)
    val skipToVar: Option[(String, String)] =
      if (skipToNext || skipPast) None
      else "(?is)AFTER\\s+MATCH\\s+SKIP\\s+TO\\s+(?:(FIRST|LAST)\\s+)?(\\w+)".r
        .findFirstMatchIn(body)
        .map(mm => (Option(mm.group(1)).map(_.toUpperCase).getOrElse("LAST"), mm.group(2)))
    require(skipToNext || skipPast || skipToVar.isDefined ||
      !"(?is)AFTER\\s+MATCH".r.findFirstIn(body).isDefined,
      "MATCH_RECOGNIZE: supported AFTER MATCH strategies are SKIP TO NEXT ROW, " +
        "SKIP PAST LAST ROW (the default when the clause is absent), and " +
        "SKIP TO [FIRST|LAST] <variable>")
    // the pattern text is the BALANCED paren span (composite patterns nest
    // parens, and quantifier commas like `A{2,4}` pass through verbatim);
    // the optional WITHIN suffix is read after the close
    val patKwM = "(?is)PATTERN\\s*\\(".r.findFirstMatchIn(body)
      .getOrElse(sys.error("MATCH_RECOGNIZE requires PATTERN (...)"))
    val (pattern, patEnd) = {
      var depth = 0; var i = patKwM.end - 1; var inner: String = null; var end = -1
      while (end < 0 && i < body.length) {
        body.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
            if (depth == 0) { inner = body.substring(patKwM.end, i); end = i + 1 }
          case _ =>
        }
        i += 1
      }
      if (end < 0) sys.error("MATCH_RECOGNIZE: unbalanced parentheses in PATTERN")
      (inner.trim, end)
    }
    require(pattern.nonEmpty, "MATCH_RECOGNIZE requires a non-empty PATTERN")
    val withinMicros = parseWithin(body.substring(patEnd))
    // alternation / grouping / PERMUTE / exclusion → MrPattern's branch
    // expansion and parse tree; a plain whitespace-separated quantified
    // sequence is its own single branch
    val tree = if (MrPattern.isComposite(pattern)) Some(MrPattern.parse(pattern)) else None
    val (branches, varNames) =
      if (tree.isDefined) MrPattern.expand(pattern)
      else {
        val toks = pattern.split("\\s+").toVector.map {
          case TokenRe(name, q, pm, lo, comma, hi, lzy) =>
            if (q != null) MrPattern.PTok(name, 0, Some(1), q == "??")
            else if (pm != null && pm.startsWith("+")) MrPattern.PTok(name, 1, None, pm == "+?")
            else if (pm != null) MrPattern.PTok(name, 0, None, pm == "*?")
            else if (lo == null) MrPattern.PTok(name, 1, Some(1))
            else if (comma == null) MrPattern.PTok(name, lo.toInt, Some(lo.toInt), lzy != null)
            else MrPattern.PTok(name, lo.toInt, Option(hi).map(_.toInt), lzy != null)
          case tok => sys.error(s"MATCH_RECOGNIZE: unsupported pattern token '$tok' — " +
            "use variables with quantifiers (A, A?, A+, A*, A{m}, A{m,}, A{m,n}, " +
            "or their reluctant forms A??, A+?, A*?, A{m,n}?)")
        }
        toks.foreach(t => t.hi.foreach(h => require(t.lo <= h,
          s"MATCH_RECOGNIZE: empty quantifier range {${t.lo},$h} on '${t.name}'")))
        require(toks.map(_.name).distinct.size == toks.size,
          s"MATCH_RECOGNIZE: duplicate pattern variable in '$pattern'")
        (Seq(toks), toks.map(_.name))
      }
    val idx = varNames.zipWithIndex.toMap
    val skip: MatchRecognize.Skip =
      if (skipToNext) MatchRecognize.SkipToNextRow
      else skipToVar match {
        case Some((kind, v)) =>
          require(idx.contains(v),
            s"MATCH_RECOGNIZE: AFTER MATCH SKIP TO references unknown pattern variable '$v'")
          if (kind == "FIRST") MatchRecognize.SkipToFirst(idx(v)) else MatchRecognize.SkipToLast(idx(v))
        case None => MatchRecognize.SkipPastLastRow
      }
    // SUBSET union variables (ISO 9075-2; absent in Flink): `SUBSET U =
    // (A, B), V = (C)` between PATTERN and DEFINE
    val subsets: Seq[(String, Seq[Int])] =
      clause("(?is)\\bSUBSET\\s+(.*?)\\s*(?:\\bDEFINE\\b.*)?$").map(entries).getOrElse(Seq.empty)
        .map { s =>
          val sm = "(?is)^(\\w+)\\s*=\\s*\\(([^)]*)\\)$".r.findFirstMatchIn(s)
            .getOrElse(sys.error(s"MATCH_RECOGNIZE SUBSET needs 'NAME = (V1, V2, …)': $s"))
          val members = sm.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
          members.foreach(v => require(idx.contains(v),
            s"MATCH_RECOGNIZE: SUBSET ${sm.group(1)} references unknown pattern variable '$v'"))
          require(!idx.contains(sm.group(1)),
            s"MATCH_RECOGNIZE: SUBSET ${sm.group(1)} collides with a pattern variable")
          (sm.group(1), members.map(idx))
        }
    require(subsets.map(_._1).distinct.size == subsets.size, "MATCH_RECOGNIZE: duplicate SUBSET name")
    val measures = clause("(?is)MEASURES\\s+(.*?)\\s+(?:ONE\\s+ROW|ALL\\s+ROWS|AFTER\\s+MATCH|PATTERN\\b)")
      .map(entries).getOrElse(Seq.empty)
      .map { e =>
        val am = "(?is)^(.*?)\\s+AS\\s+(\\w+)\\s*$".r.findFirstMatchIn(e)
          .getOrElse(sys.error(s"MATCH_RECOGNIZE measure needs 'expr AS alias': $e"))
        val text = am.group(1)
        val running = allRows && !"(?is)^\\s*FINAL\\b".r.findFirstIn(text).isDefined
        Measure("(?is)^\\s*(?:RUNNING|FINAL)\\b\\s*".r.replaceFirstIn(text, ""), am.group(2), running)
      }
    val defines = ListMap.from(clause("(?is)DEFINE\\s+(.*)$").map(entries).getOrElse(Seq.empty)
      .map { d =>
        val dm = "(?is)^(\\w+)\\s+AS\\s+(.*)$".r.findFirstMatchIn(d)
          .getOrElse(sys.error(s"MATCH_RECOGNIZE DEFINE needs 'VAR AS condition': $d"))
        require(idx.contains(dm.group(1)), s"DEFINE for unknown pattern variable '${dm.group(1)}'")
        dm.group(1) -> dm.group(2)
      })
    MrClause(m.group(1), m.start, after + aliasM.map(_.end).getOrElse(0), aliasM.map(_.group(1)),
      partition, order, allRows, skip, pattern, varNames, branches, tree, subsets, defines,
      measures, withinMicros)
  }
}

/** One `ML_DETECT_ANOMALIES(value, ts[, config]) OVER (PARTITION BY … ORDER
  * BY …)` call, parsed once for both routes:
  * [[SqlFrontend.rewriteDetectAnomalies]] lowers it to window functions, the
  * standing planner to [[graft.streaming.StreamingAnomaly.withPayload]].
  * The call's ts argument must name the OVER clause's ORDER BY column
  * (case-insensitively, backticks aside), which orders the series.
  *
  * @param start index of the call in the statement text
  * @param end   index just past its OVER clause
  */
final case class AnomalyCall(value: String, cfg: AnomalyDetector.Config,
                             partition: Seq[String], order: String, start: Int, end: Int) {

  /** `sql` with the call and its OVER clause replaced by `replacement`. */
  def splice(sql: String, replacement: String): String =
    sql.substring(0, start) + replacement + sql.substring(end)
}

object AnomalyCall {
  private val CallRe = "(?is)ML_DETECT_ANOMALIES\\s*\\(".r
  private val OverRe = ("(?is)^\\s*OVER\\s*\\(\\s*PARTITION\\s+BY\\s+(.*?)\\s+ORDER\\s+BY\\s+(\\S+)" +
    "(?:\\s+RANGE\\s+BETWEEN\\s+UNBOUNDED\\s+PRECEDING\\s+AND\\s+CURRENT\\s+ROW)?\\s*\\)").r

  /** The first ML_DETECT_ANOMALIES call of `sql`; None when there is none. */
  def parse(sql: String): Option[AnomalyCall] = CallRe.findFirstMatchIn(sql).map { m =>
    val (args, afterArgs) = SqlFrontend.balancedArgs(sql, m.end - 1)
    require(args.size >= 2, s"ML_DETECT_ANOMALIES needs (value, ts[, config]), got ${args.size}")
    val cfg = SqlFrontend.parseAnomalyCfg(args.drop(2).mkString(" "))
    val over = OverRe.findFirstMatchIn(sql.substring(afterArgs))
      .getOrElse(sys.error("ML_DETECT_ANOMALIES requires an OVER (PARTITION BY … ORDER BY …) clause"))
    def bare(c: String) = c.trim.replace("`", "").toLowerCase(java.util.Locale.ROOT)
    require(bare(args(1)) == bare(over.group(2)),
      s"ML_DETECT_ANOMALIES ts argument '${args(1).trim}' must be the OVER clause's " +
        s"ORDER BY column '${over.group(2)}'")
    AnomalyCall(args(0), cfg,
      SqlFrontend.splitTopLevelCommas(over.group(1)).map(_.trim).filter(_.nonEmpty),
      over.group(2), m.start, afterArgs + over.end)
  }
}
