package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

import graft.operators.MatchRecognize

/** Streaming quantified sequence match over literal event types —
  * `PATTERN (A B{1,2} C?)` with every variable defined as `type = '<lit>'` —
  * as a standing query. It is a thin adapter over
  * [[StreamingMatchRecognize.applyPattern]], the way
  * [[graft.operators.Behavior.sequenceMatchQ]] maps the same tokens onto the
  * batch scan: token `i` becomes variable `v<i>` defined as
  * `v<i>.<typeCol> = '<typ>'` over the type column cast to string, so both
  * run the one [[graft.operators.MrMatcher]] and select identical matches on
  * a closed stream.
  *
  * Strategy: every position is an independent match start (AFTER MATCH SKIP
  * TO NEXT ROW) by default; `skipPast = true` is the SQL-standard default,
  * AFTER MATCH SKIP PAST LAST ROW (batch twin:
  * [[graft.operators.Behavior.sequenceMatchSkipPast]]).
  *
  * Decisions follow the value operator's open/dead/winner rules: a start
  * whose shorter alternative matched while a greedy-earlier longer one (or
  * an unbounded greedy run) can still be completed by future events stays
  * undecided until a breaking event or the `withinMicros` horizon decides
  * it; a reluctant token decides as soon as its shortest completion exists.
  * Matches emit in the micro-batch of their deciding event, append mode. An
  * event arriving below a key's buffered tail in a later micro-batch is
  * dropped and logged, and a `ttl` evicts idle keys (the
  * reference's `SET 'sql.state-ttl'`) — both the value operator's rules.
  */
object StreamingSequenceMatchQ {

  /** One pattern token: `typ` repeated between `min` and `max` times;
    * `max = QTok.Unbounded` is `+` / `{m,}`; `reluctant` flips the token's
    * exploration to shortest-first (Flink's lazy `+?`/`*?`/`{m,n}?`),
    * identically on every surface.
    */
  case class QTok(typ: String, min: Int, max: Int, reluctant: Boolean = false) {
    require(min >= 0 && max >= min, s"bad quantifier {$min,$max}")
  }
  object QTok {
    /** `max` sentinel for unbounded quantifiers (`A+` = `QTok(t, 1, Unbounded)`). */
    val Unbounded: Int = Int.MaxValue
  }
  case class QMatch(key: String, match_start_ts: Timestamp, match_end_ts: Timestamp,
                    start_tie: Long, matched_len: Int)

  def apply(df: DataFrame, keyCol: String, typeCol: String, tsCol: String, tieCol: String,
            pattern: Seq[QTok], withinMicros: Long = 0L,
            ttl: Option[StreamingOps.StateTtl] = None, skipPast: Boolean = false): Dataset[QMatch] = {
    pattern.foreach(t => require(!t.typ.contains("'"),
      s"StreamingSequenceMatchQ: event type literal ${t.typ} contains a quote (')"))
    val toks = pattern.indices.map { i =>
      val t = pattern(i)
      MatchRecognize.MrTok(s"v$i", t.min, if (t.max == QTok.Unbounded) None else Some(t.max),
        t.reluctant)
    }
    val defs = pattern.indices.map(i => Some(s"v$i.$typeCol = '${pattern(i).typ}'"))
    StreamingMatchRecognize(df.withColumn(typeCol, col(typeCol).cast("string")), keyCol,
      Seq(typeCol), tsCol, tieCol, toks, defs, withinMicros, ttl,
      if (skipPast) MatchRecognize.SkipPastLastRow else MatchRecognize.SkipToNextRow)
      .as[QMatch](Encoders.product[QMatch])
  }
}
