package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.MatchRecognize
import graft.sql.MrClause

/** An independent reference for the MATCH_RECOGNIZE scan: the lead()-CASE
  * expansion of a linear, bounded, ONE ROW clause under SKIP TO NEXT ROW or
  * SKIP PAST LAST ROW. It shares only the clause parser with the scan.
  *
  * Every count assignment of the quantifiers, in greedy order (leftmost
  * token longest first, reluctant tokens shortest first, zero-length
  * assignments dropped), becomes one `WHEN` branch whose DEFINE conditions
  * sit at absolute `lead()` offsets of one (key, order) window; the first
  * branch that holds is the start row's candidate. DEFINE sees RUNNING
  * occurrences (only earlier offsets of other variables, so a forward or
  * absent reference is NULL), MEASURES the full match. SKIP PAST LAST ROW
  * then selects non-overlapping candidates on the driver, so inputs must be
  * small.
  *
  * Returns the partition columns, one column per measure and `__len`, the
  * matched row count.
  */
object MrCaseReference {

  def apply(spark: SparkSession, sql: String): DataFrame = {
    val mr = MrClause.parse(sql).getOrElse(sys.error(s"no MATCH_RECOGNIZE clause in: $sql"))
    require(mr.tree.isEmpty && mr.subsets.isEmpty && !mr.allRows &&
      mr.branches.head.forall(_.hi.isDefined) &&
      (mr.skip == MatchRecognize.SkipToNextRow || mr.skip == MatchRecognize.SkipPastLastRow),
      "the lead()-CASE reference covers linear bounded ONE ROW clauses under SKIP TO " +
        "NEXT ROW or SKIP PAST LAST ROW")
    val toks = mr.branches.head
    val vars = mr.varNames
    val ord = mr.order.head
    val w = s"(PARTITION BY ${mr.partition.mkString(", ")} ORDER BY ${mr.order.mkString(", ")})"
    def at(c: String, k: Int): String = if (k == 0) c else s"lead($c, $k) OVER $w"

    /** `expr` with variable refs placed for one assignment; `self` is the
      * (variable, offset) being DEFINEd, None for a measure.
      */
    def subst(expr: String, offsets: Map[String, Seq[Int]], self: Option[(String, Int)]): String = {
      def visible(v: String): Seq[Int] = {
        val occ = offsets.getOrElse(v, Nil)
        self.fold(occ)(s => occ.filter(_ < s._2))
      }
      def replace(re: String, in: String)(f: scala.util.matching.Regex.Match => String): String =
        re.r.replaceAllIn(in, m => java.util.regex.Matcher.quoteReplacement(f(m)))
      val nav = replace("(?i)\\b(PREV|NEXT)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)", expr) { m =>
        val n = Option(m.group(4)).fold(1)(_.toInt)
        self match {
          case Some((sv, off)) if sv == m.group(2) =>
            at(m.group(3), if (m.group(1).equalsIgnoreCase("PREV")) off - n else off + n)
          case _ => sys.error(s"reference: ${m.matched} outside its own DEFINE")
        }
      }
      val marked = replace("(?i)\\b(FIRST|LAST)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+)\\s*)?\\)", nav) { m =>
        val (v, c) = (m.group(2), m.group(3))
        if (!vars.contains(v)) m.matched
        else {
          val k = Option(m.group(4)).fold(0)(_.toInt)
          val occ = self match {
            case Some((sv, off)) if sv == v => visible(v) :+ off
            case _ => visible(v)
          }
          occ.lift(if (m.group(1).equalsIgnoreCase("FIRST")) k else occ.size - 1 - k)
            .fold("NULL")(at(c, _))
        }
      }
      replace("\\b(\\w+)\\.(\\w+)\\b", marked) { m =>
        val (v, c) = (m.group(1), m.group(2))
        if (!vars.contains(v)) m.matched
        else self match {
          case Some((sv, off)) if sv == v => at(c, off)
          case _ => visible(v).lastOption.fold("NULL")(at(c, _))
        }
      }
    }

    val assignments: Seq[Seq[Int]] = toks
      .map(t => if (t.reluctant) t.lo to t.hi.get else t.hi.get to t.lo by -1)
      .foldLeft(Seq(Seq.empty[Int]))((acc, counts) => acc.flatMap(p => counts.map(p :+ _)))
      .filter(_.sum > 0)
    val branches = assignments.map { counts =>
      val starts = counts.scanLeft(0)(_ + _)
      val offsets = vars.indices.map(i => vars(i) -> (starts(i) until starts(i + 1))).toMap
      val len = counts.sum
      val defines = vars.flatMap(v => mr.defines.get(v).toSeq.flatMap(cond =>
        offsets(v).map(off => s"(${subst(cond, offsets, Some((v, off)))})")))
      val within = mr.withinMicros.map(us => s"unix_micros(CAST(${at(ord, len - 1)} AS TIMESTAMP)) - " +
        s"unix_micros(CAST($ord AS TIMESTAMP)) <= $us")
      val cond = (defines ++ Seq(s"${at(ord, len - 1)} IS NOT NULL") ++ within).mkString(" AND ")
      val fields = (s"'__len', $len" +:
        mr.measures.map(m => s"'${m.alias}', ${subst(m.text, offsets, None)}")).mkString(", ")
      s"WHEN ($cond) THEN named_struct($fields)"
    }
    val nPart = mr.partition.size
    val cand = spark.sql(s"SELECT ${mr.partition.mkString(", ")}, row_number() OVER $w AS __rn, " +
      s"CASE ${branches.mkString(" ")} END AS __mr FROM ${mr.table}").filter("__mr IS NOT NULL")
    val chosen =
      if (mr.skip == MatchRecognize.SkipToNextRow) cand
      else {
        // a candidate is selected iff no earlier selected match of its key
        // covers its start row; a length-L match covers L rows
        val rows = cand.collect().toSeq.groupBy(_.toSeq.take(nPart)).values.flatMap { key =>
          var next = 0L
          key.sortBy(_.getAs[Int]("__rn")).filter { r =>
            val rn = r.getAs[Int]("__rn").toLong
            val take = rn >= next
            if (take) next = rn + r.getAs[Row]("__mr").getAs[Int]("__len")
            take
          }
        }.toSeq
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), cand.schema)
      }
    chosen.selectExpr(chosen.columns.take(nPart).map(c => s"`$c`").toSeq ++
      mr.measures.map(m => s"__mr.${m.alias} AS ${m.alias}") :+ "__mr.__len AS __len": _*)
  }
}
