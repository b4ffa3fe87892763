package graft.operators

/** A PATTERN compiled to an ordered-choice instruction graph — the execution
  * form the one matcher, [[MrMatcher]], walks with backtracking for every
  * MATCH_RECOGNIZE operator (batch [[MatchRecognize.scanPattern]], streaming
  * [[graft.streaming.StreamingMatchRecognize]]).
  *
  * Why a graph and not expanded branches (r12, closes the r11 conformance
  * deviation): ISO 9075-2 decides CHOICE POINTS in left-to-right encounter
  * order — a greedy quantifier written before an alternation dominates it
  * (for `PATTERN (A+ (B | C))` the standard prefers the longer `A A C` over
  * `A B`), while branch-major expansion fixed the alternative first and
  * subordinated the quantifier to it. Here a quantified variable is ONE
  * instruction whose count loop recurses into its continuation, so when an
  * alternation follows, its alternatives are explored INSIDE each count —
  * exactly the standard's per-choice-point preferment. An explicit top-level
  * alternation (`A+ B | A+ C`) compiles the choice FIRST, so the alternative
  * dominates there — the two shapes the expansion could not distinguish.
  *
  * Instructions (parallel primitive arrays, zero per-attempt allocation):
  *   - `Var`  (kind 0): scan variable `v`'s run at the current position,
  *     explore counts in [lo, hi] greedy (longest-first) or reluctant
  *     (shortest-first), recurse into `nxt` per count;
  *   - `Split` (kind 1): try `alts` targets in written (preference) order —
  *     alternation, optional groups (greedy = inner first, reluctant =
  *     continuation first), and PERMUTE (its lexicographic permutation
  *     alternation — the standard's own definition);
  *   - `Done` (kind 2, always ip 0): a completed match (the empty match
  *     never selects — the matcher checks end > start).
  *
  * Every root-to-Done path places each variable at most once
  * ([[MrPattern.expand]] validates this and the branch caps before a
  * program is built), so a match's placements fit the global
  * starts/counts arrays and a path stack of at most `nVars` frames.
  */
final class MrProg private (
    val kind: Array[Int],
    val v: Array[Int],
    val lo: Array[Int],
    val hi: Array[Int], // Int.MaxValue = unbounded
    val rel: Array[Boolean],
    val excl: Array[Boolean],
    val nxt: Array[Int],
    val alts: Array[Array[Int]],
    val entry: Int) extends Serializable {
  def size: Int = kind.length
  def hasExclusion: Boolean = excl.exists(identity)
}

object MrProg {
  import MatchRecognize.BTok

  private final class Builder {
    val kind = scala.collection.mutable.ArrayBuffer[Int](2) // ip 0 = Done
    val v = scala.collection.mutable.ArrayBuffer[Int](-1)
    val lo = scala.collection.mutable.ArrayBuffer[Int](0)
    val hi = scala.collection.mutable.ArrayBuffer[Int](0)
    val rel = scala.collection.mutable.ArrayBuffer[Boolean](false)
    val excl = scala.collection.mutable.ArrayBuffer[Boolean](false)
    val nxt = scala.collection.mutable.ArrayBuffer[Int](-1)
    val alts = scala.collection.mutable.ArrayBuffer[Array[Int]](null)

    def addVar(t: BTok, next: Int): Int = {
      kind += 0; v += t.v; lo += t.lo; hi += t.hi.getOrElse(Int.MaxValue)
      rel += t.reluctant; excl += t.excluded; nxt += next; alts += null
      kind.size - 1
    }
    def addSplit(targets: Array[Int]): Int = {
      kind += 1; v += -1; lo += 0; hi += 0; rel += false; excl += false
      nxt += -1; alts += targets
      kind.size - 1
    }
    def build(entry: Int): MrProg = new MrProg(kind.toArray, v.toArray, lo.toArray,
      hi.toArray, rel.toArray, excl.toArray, nxt.toArray, alts.toArray, entry)
  }

  /** Chain one linear branch in front of continuation `cont`. */
  private def chain(b: Builder, toks: Seq[BTok], cont: Int): Int =
    toks.foldRight(cont)((t, next) => b.addVar(t, next))

  /** Branch-shaped program: a top-level ordered choice over linear branches —
    * bit-identical exploration order to the pre-r12 branch-major loop (every
    * choice point already sits at the very front, so branch-major IS the
    * standard's order for this shape). Single branch = a plain chain.
    */
  def ofBranches(branches: Seq[IndexedSeq[BTok]]): MrProg = {
    require(branches.nonEmpty, "MrProg.ofBranches: no branches")
    val b = new Builder
    val entry =
      if (branches.size == 1) chain(b, branches.head, 0)
      else b.addSplit(branches.map(br => chain(b, br, 0)).toArray)
    b.build(entry)
  }

  /** Tree-shaped program: the PATTERN parse tree compiled with choice points
    * at their written positions — the ISO 9075-2 preferment order. `varIdx`
    * resolves variable names to the caller's global table; exclusion marks
    * propagate down to every variable under a `{- … -}` group.
    */
  def ofTree(root: MrPattern.Node, varIdx: String => Int): MrProg = {
    import MrPattern.{Al, Ex, Opt, Pm, Sq, Va}
    val b = new Builder
    def emit(n: MrPattern.Node, cont: Int, excluded: Boolean): Int = n match {
      case Va(t) =>
        b.addVar(BTok(varIdx(t.name), t.lo, t.hi, t.reluctant, excluded || t.excluded), cont)
      case Sq(items) => items.foldRight(cont)((item, next) => emit(item, next, excluded))
      case Al(alts) => b.addSplit(alts.map(a => emit(a, cont, excluded)).toArray)
      case Pm(items) => b.addSplit(items.indices.toVector.permutations.toSeq
        .map(perm => emit(Sq(perm.map(items)), cont, excluded)).toArray)
      case Opt(inner, reluctant) =>
        val in = emit(inner, cont, excluded)
        b.addSplit(if (reluctant) Array(cont, in) else Array(in, cont))
      case Ex(inner) => emit(inner, cont, excluded = true)
    }
    b.build(emit(root, 0, excluded = false))
  }
}
