package graft.operators

/** PATTERN grammar beyond a linear variable sequence — alternation
  * (`A B | C`), grouping (`(A | B) C`), `PERMUTE(A, B, C)`, and output
  * exclusion (`{- M+ -}`, ALL ROWS PER MATCH only). Two artifacts come out
  * of the same parse:
  *
  *   - [[expand]]: the alternative LINEAR branches, used for VALIDATION
  *     (per-path variable uniqueness, the 256-branch cap) and by consumers
  *     that reason branch-wise (the streaming span-measure anchors);
  *   - [[parse]] + [[MrProg.ofTree]]: the EXECUTION form (r12) — an
  *     ordered-choice instruction graph the scans walk with backtracking,
  *     deciding choice points at their WRITTEN positions per ISO 9075-2.
  *
  * The standard defines `PERMUTE` as the alternation of all permutations in
  * lexicographic order of the listed elements, and alternation preference as
  * leftmost-first. Branch-major expansion preserved that only when every
  * choice point sat in front of any variable-length element; a greedy
  * quantifier written BEFORE an alternation must dominate it (for
  * `A+ (B | C)` the standard selects the longer `A A C` over `A B`), which
  * only the per-choice-point program order gives — see [[MrProg]].
  *
  * Neither alternation, grouping, PERMUTE, nor exclusion exists in Flink's
  * MATCH_RECOGNIZE — this surface goes past the reference's engine again
  * (reference CEP usage: confluent flink docs; the labs use none of these).
  *
  * Scope contract (loud refusals, never silent):
  *   - a group quantifier other than `?`/`{0,1}`/`{1}` (e.g. `(A B)+`)
  *     would duplicate variables within one branch, breaking the
  *     per-variable contiguous-run model MEASURES are defined on — refused
  *     with the rewrite hint;
  *   - a variable may appear in MULTIPLE alternatives but only once per
  *     expanded branch;
  *   - the expansion is capped at 256 branches (PERMUTE(5!) = 120 fits).
  */
object MrPattern {

  /** One branch token: global variable index resolved by the caller later —
    * here tokens carry the NAME; quantifier [lo, hi]; reluctant = lazy
    * exploration; excluded = matched but not emitted under ALL ROWS.
    */
  final case class PTok(name: String, lo: Int, hi: Option[Int],
                        reluctant: Boolean = false, excluded: Boolean = false)

  sealed trait Node
  private[operators] final case class Va(t: PTok) extends Node
  private[operators] final case class Sq(items: Seq[Node]) extends Node
  private[operators] final case class Al(alts: Seq[Node]) extends Node
  private[operators] final case class Pm(items: Seq[Node]) extends Node
  private[operators] final case class Opt(inner: Node, reluctant: Boolean) extends Node
  private[operators] final case class Ex(inner: Node) extends Node

  /** The PATTERN's parse tree — [[MrProg.ofTree]] compiles it with choice
    * points at their written positions (the ISO execution order). Callers
    * must still run [[expand]] for validation (per-path variable uniqueness,
    * branch caps) before building a program from the tree.
    */
  def parse(pat: String): Node = new P(pat).parseAll()

  /** True when `pat` needs this module at all — any construct beyond
    * whitespace-separated quantified variables.
    */
  def isComposite(pat: String): Boolean =
    pat.exists(c => c == '|' || c == '(' || c == ')') ||
      pat.contains("{-") || "(?i)\\bPERMUTE\\b".r.findFirstIn(pat).isDefined

  /** Parse + expand. Returns (branches, variable names in first-appearance
    * order). Empty branches (a pattern matching only the empty sequence) are
    * dropped; all-empty fails loudly.
    */
  def expand(pat: String): (Seq[Vector[PTok]], Seq[String]) = {
    val root = new P(pat).parseAll()
    val raw = branches(root)
    val (empties, live) = raw.partition(_.isEmpty)
    require(live.nonEmpty,
      s"MATCH_RECOGNIZE: pattern '$pat' admits only the empty match")
    require(live.size <= 256,
      s"MATCH_RECOGNIZE: pattern '$pat' expands to ${live.size} alternative branches (cap 256)")
    live.foreach { b =>
      val names = b.map(_.name)
      val dup = names.diff(names.distinct).distinct
      require(dup.isEmpty,
        s"MATCH_RECOGNIZE: variable '${dup.head}' appears twice within one alternative of " +
          s"'$pat' — a variable may repeat only ACROSS alternatives (one occurrence per branch)")
    }
    val _ = empties // dropped: the empty match never selects (scan contract)
    val varNames = live.flatMap(_.map(_.name)).distinct
    (live, varNames)
  }

  /** Expansion in the standard's preference order: sequence choice points
    * vary rightmost-fastest (earlier elements dominate), alternation tries
    * alternatives in written order, PERMUTE in lexicographic order of the
    * listed elements, greedy `(X)?` prefers presence (reluctant absence).
    */
  private def branches(n: Node): Seq[Vector[PTok]] = n match {
    case Va(t) => Seq(Vector(t))
    case Sq(items) =>
      items.foldLeft(Seq(Vector.empty[PTok])) { (acc, item) =>
        val alts = branches(item)
        acc.flatMap(pfx => alts.map(pfx ++ _))
      }
    case Al(alts) => alts.flatMap(branches)
    case Pm(items) =>
      items.indices.toVector.permutations.toSeq // lexicographic for sorted input
        .flatMap(perm => branches(Sq(perm.map(items))))
    case Opt(inner, rel) =>
      if (rel) Seq(Vector.empty[PTok]) ++ branches(inner)
      else branches(inner) ++ Seq(Vector.empty[PTok])
    case Ex(inner) => branches(inner).map(_.map(_.copy(excluded = true)))
  }

  /** True when any expanded branch carries an excluded token (the front-end
    * must then require ALL ROWS PER MATCH).
    */
  def hasExclusion(bs: Seq[Vector[PTok]]): Boolean = bs.exists(_.exists(_.excluded))

  // ---------------------------------------------------------------- parser
  private final class P(src: String) {
    private var pos = 0
    private def ws(): Unit = while (pos < src.length && src.charAt(pos).isWhitespace) pos += 1
    private def peek: Char = if (pos < src.length) src.charAt(pos) else '\u0000'
    private def peek2: Char = if (pos + 1 < src.length) src.charAt(pos + 1) else '\u0000'
    private def fail(msg: String): Nothing =
      sys.error(s"MATCH_RECOGNIZE: $msg at position $pos of PATTERN '$src'")

    def parseAll(): Node = {
      val n = alternation()
      ws()
      if (pos < src.length) fail(s"unexpected '${src.charAt(pos)}'")
      n
    }

    private def alternation(): Node = {
      val alts = scala.collection.mutable.ArrayBuffer(sequence())
      ws()
      while (peek == '|') { pos += 1; alts += sequence(); ws() }
      if (alts.size == 1) alts.head else Al(alts.toSeq)
    }

    private def sequence(): Node = {
      val items = scala.collection.mutable.ArrayBuffer.empty[Node]
      ws()
      while (pos < src.length && peek != '|' && peek != ')' && peek != ',' &&
        !(peek == '-' && peek2 == '}')) {
        items += term()
        ws()
      }
      if (items.isEmpty) fail("empty alternative (use '(X)?' for an optional element)")
      if (items.size == 1) items.head else Sq(items.toSeq)
    }

    private def term(): Node = {
      ws()
      if (peek == '{' && peek2 == '-') { // {- excluded -}
        pos += 2
        val inner = alternation()
        ws()
        if (!(peek == '-' && peek2 == '}')) fail("unterminated '{-' exclusion (expected '-}')")
        pos += 2
        quantified(Ex(inner), isGroup = true)
      } else if (peek == '(') {
        pos += 1
        val inner = alternation()
        ws()
        if (peek != ')') fail("unbalanced '(' in PATTERN")
        pos += 1
        quantified(inner, isGroup = true)
      } else {
        val name = ident()
        if (name.equalsIgnoreCase("PERMUTE")) {
          ws()
          if (peek != '(') fail("PERMUTE requires a parenthesized element list")
          pos += 1
          val items = scala.collection.mutable.ArrayBuffer(alternation())
          ws()
          while (peek == ',') { pos += 1; items += alternation(); ws() }
          if (peek != ')') fail("unbalanced '(' in PERMUTE")
          pos += 1
          require(items.size <= 5,
            s"MATCH_RECOGNIZE: PERMUTE over ${items.size} elements expands to ${items.size}! " +
              "permutations — the cap is 5 (120 branches)")
          quantified(Pm(items.toSeq), isGroup = true)
        } else quantified(Va(PTok(name, 1, Some(1))), isGroup = false)
      }
    }

    private def ident(): String = {
      ws()
      val start = pos
      while (pos < src.length && (src.charAt(pos).isLetterOrDigit || src.charAt(pos) == '_')) pos += 1
      if (pos == start) fail("expected a pattern variable")
      src.substring(start, pos)
    }

    /** Attach a quantifier. Variables take the full grammar; groups only the
      * optional forms (`?`, `{0,1}`, `{1}`/`{1,1}`) — anything repeating a
      * group would duplicate its variables within one branch.
      */
    private def quantified(base: Node, isGroup: Boolean): Node = {
      def groupQuant(lo: Int, hi: Option[Int], rel: Boolean): Node =
        (lo, hi) match {
          case (1, Some(1)) => base
          case (0, Some(1)) => Opt(base, rel)
          case _ => fail("a group/PERMUTE/exclusion quantifier may only be '?' or '{0,1}' or '{1}' " +
            "— repeating a group duplicates its variables within one branch " +
            "(rewrite the repetition explicitly with fresh variable names)")
        }
      def varQuant(t: PTok, lo: Int, hi: Option[Int], rel: Boolean): Node =
        Va(t.copy(lo = lo, hi = hi, reluctant = rel))
      def attach(lo: Int, hi: Option[Int], rel: Boolean): Node = base match {
        case Va(t) if !isGroup => varQuant(t, lo, hi, rel)
        case _ => groupQuant(lo, hi, rel)
      }
      peek match {
        case '?' =>
          pos += 1
          val rel = peek == '?' && { pos += 1; true }
          attach(0, Some(1), rel)
        case '+' =>
          pos += 1
          val rel = peek == '?' && { pos += 1; true }
          attach(1, None, rel)
        case '*' =>
          pos += 1
          val rel = peek == '?' && { pos += 1; true }
          attach(0, None, rel)
        case '{' if peek2 != '-' =>
          pos += 1
          val lo = number()
          val hi =
            if (peek == ',') {
              pos += 1
              ws()
              if (peek == '}') None else Some(number())
            } else Some(lo)
          ws()
          if (peek != '}') fail("unterminated quantifier '{'")
          pos += 1
          val rel = peek == '?' && { pos += 1; true }
          hi.foreach(h => if (h < lo) fail(s"empty quantifier range {$lo,$h}"))
          attach(lo, hi, rel)
        case _ => base
      }
    }

    private def number(): Int = {
      ws()
      val start = pos
      while (pos < src.length && src.charAt(pos).isDigit) pos += 1
      if (pos == start) fail("expected a number in quantifier")
      src.substring(start, pos).toInt
    }
  }
}
