package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.RunningSum
import graft.functions.Text

/** Sequence packing — the concat-and-chunk batching step that turns a
  * curated corpus into fixed-length training rows (the GPT-style "pack
  * documents back to back, cut every `seqLen` tokens" layout; see e.g. the
  * T5 / GPT-3 data pipelines). The deliverable is the PLACEMENT MAP: which
  * token span of which document lands where in which training sequence —
  * pure arithmetic over token counts, so it is engine-exact and
  * oracle-checkable, and the actual token-gather pass is a join of this map
  * against the tokenized corpus.
  *
  * Scale shape (the totalSort pattern with sums instead of counts):
  *   1. project to (order key, id, n_tokens) — the TEXT NEVER SHUFFLES;
  *   2. the shared [[graft.core.RunningSum]] node sums the tokens before
  *      each document over a range shuffle on the order key — its exact
  *      global token offset;
  *   3. a row-local explode fans each document out to the sequences it
  *      overlaps — output size = Σ ceil(spans), the answer itself.
  *
  * Offsets are exclusive 0-based global token positions; `seq_id` is
  * 0-based. Zero-token documents occupy no space and appear in no sequence.
  * The final sequence is the only one allowed to be short.
  */
object Packing {

  /** Spark-side token count matching the DuckDB oracle form
    * (`len(regexp_split_to_array(trim(text), '\s+'))` gated on non-blank):
    * whitespace tokens, blank/NULL text counts 0.
    */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) > 0, size(Text.tokens(text)).cast("long")).otherwise(lit(0L))

  /** Placement map for packing `df`'s documents into `seqLen`-token
    * sequences in `order` (defaults to `idCol` — include a unique tie-break
    * or placements within ties are layout-dependent).
    *
    * Output: (idCol, n_tokens, seq_id, seq_start, doc_start, piece_len) —
    * one row per (document, overlapped sequence):
    *   - `seq_start`: where this piece begins INSIDE sequence `seq_id`;
    *   - `doc_start`: where this piece begins inside the document;
    *   - `piece_len`: tokens contributed (= n_tokens when unsplit).
    * Invariants (PackingSpec): pieces of one doc are contiguous and sum to
    * n_tokens; every sequence except the last holds exactly `seqLen` tokens.
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String, seqLen: Long,
                    order: Seq[Column] = Nil, startOffset: Long = 0L): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(startOffset >= 0, s"startOffset must be >= 0, got $startOffset")
    val ord = if (order.nonEmpty) order else Seq(col(idCol))
    // a SortOrder (col.desc / col.asc_nulls_last) cannot be PROJECTED —
    // split each order entry into its projectable child + the direction,
    // and re-apply the direction to the bound alias for the range shuffle
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst, NullsLast, SortOrder}
    val ordSpecs = ord.map(c => Bridge.resolvedExpression(c) match {
      case so: SortOrder => (Bridge.column(so.child), so.direction, so.nullOrdering)
      case e             => (Bridge.column(e), Ascending, NullsFirst)
    })
    // the shuffle carries (order keys, id, count) — never the text
    val slim = df.select(
      ordSpecs.zipWithIndex.map { case ((c, _, _), i) => c.as(s"__po$i") } ++
        Seq(col(idCol), tokenCount(col(textCol)).as("__nt")): _*)
    val ordCols = ordSpecs.zipWithIndex.map { case ((_, dir, nulls), i) =>
      (dir, nulls) match {
        case (Ascending, NullsFirst) => col(s"__po$i").asc_nulls_first
        case (Ascending, NullsLast)  => col(s"__po$i").asc_nulls_last
        case (_, NullsFirst)         => col(s"__po$i").desc_nulls_first
        case (_, NullsLast)          => col(s"__po$i").desc_nulls_last
      }
    }
    val L = lit(seqLen)
    RunningSum.of(slim, ordCols, col("__nt"))
      .withColumn("__off", col(RunningSum.Before) + startOffset)
      .filter(col("__nt") > 0)
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division
      .withColumn("__seqs",
        sequence(expr(s"__off div $seqLen"), expr(s"(__off + __nt - 1) div $seqLen")))
      .select(col(idCol), col("__nt").as("n_tokens"), col("__off"),
        explode(col("__seqs")).as("seq_id"))
      .withColumn("__piece_from", greatest(col("__off"), col("seq_id") * L))
      .withColumn("seq_start", col("__piece_from") - col("seq_id") * L)
      .withColumn("doc_start", col("__piece_from") - col("__off"))
      .withColumn("piece_len",
        least(col("__off") + col("n_tokens"), (col("seq_id") + 1) * L) - col("__piece_from"))
      .drop("__off", "__piece_from")
  }
}
