package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines (language-ID
  * heuristics, quality scoring, token counting, fingerprinting). All pure
  * Column expressions — row-local, codegen'd, shuffle-free.
  */
object Text {

  /** Whitespace tokenization; trims first so leading/trailing blanks don't
    * produce empty tokens.
    */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Exact content fingerprint (md5 hex) — the key for exact dedup. */
  def fingerprint(c: Column): Column = md5(c)

  /** Count of tokens found in `words`. */
  def wordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  val enStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
  val esStopwords: Seq[String] = Seq("el", "la", "de", "y", "que", "en", "un", "es", "por", "con")
  val deStopwords: Seq[String] = Seq("der", "die", "das", "und", "zu", "in", "ist", "ein", "mit", "von")

  /** Stopword-ratio language scores; deterministic heuristic language-ID. */
  def langScores(c: Column): Column = {
    val t = tokens(c)
    val n = greatest(size(t), lit(1)).cast("double")
    struct(
      (wordHits(t, enStopwords) / n).as("en"),
      (wordHits(t, esStopwords) / n).as("es"),
      (wordHits(t, deStopwords) / n).as("de"))
  }

  /** argmax language with deterministic tie-break en > es > de. */
  def langId(c: Column): Column = {
    val s = langScores(c)
    when(s("en") >= s("es") && s("en") >= s("de"), "en")
      .when(s("es") >= s("de"), "es")
      .otherwise("de")
  }

  /** Character-class counts used by quality scoring. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))

  def digitCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[0-9]", ""))

  /** Simple composite quality score in [0,1]: rewards mid-length docs with a
    * healthy stopword ratio and diverse vocabulary, penalises punctuation/digit
    * noise. Deterministic; each term is a single float op chain.
    */
  def qualityScore(c: Column): Column = {
    val t = tokens(c)
    val n = greatest(size(t), lit(1)).cast("double")
    val chars = greatest(length(c), lit(1)).cast("double")
    val stopRatio = wordHits(t, enStopwords) / n
    val uniqRatio = size(array_distinct(t)).cast("double") / n
    val punctRatio = punctCount(c).cast("double") / chars
    val digitRatio = digitCount(c).cast("double") / chars
    val lenScore = least(n / lit(64.0), lit(1.0))
    // unrounded: every term is a short chain of IEEE ops evaluated in written
    // order, so the result is bit-reproducible across engines; rounding would
    // reintroduce HALF_UP (Spark) vs half-even (DuckDB) divergence on ties
    least(stopRatio * 2.0, lit(1.0)) * 0.3 + uniqRatio * 0.3 + lenScore * 0.2 +
      (lit(1.0) - least(punctRatio * 4.0, lit(1.0))) * 0.1 +
      (lit(1.0) - least(digitRatio * 4.0, lit(1.0))) * 0.1
  }

  /** Fused one-pass twin of [[langId]] + [[qualityScore]] as a single
    * imperative UDF returning `struct(lang_pred STRING, quality DOUBLE)` —
    * the corpus-scan hot-path form (r16 optimization round, guide §1.2
    * "per-task work" / the q27 RowHash-UDF precedent).
    *
    * Why: the Column formulations are correct and oracle-checkable, but each
    * column reference re-derives the whole expression tree — [[langId]]'s
    * when-chain references the score struct SEVEN times, and HOF lambdas
    * (`filter`, `array_distinct` inputs) are not CSE'd by Catalyst — so one
    * curation row paid ~10 split+scan passes, and a pushed-down filter on
    * the computed columns doubled that again. This UDF tokenizes ONCE and
    * derives both outputs in that single pass (measured 0.85 → 0.11 s on the
    * sf0.1 curation tail).
    *
    * Exact-parity contract (spec-pinned by TextFusedSpec against the Column
    * twins, adversarial cases included; q54/q99 transcription gates and the
    * q20 oracle would catch any drift):
    *   - trim is ASCII-space-only (Spark's StringTrim), NOT Java trim;
    *   - split keeps trailing/leading empties ("\\s+" with limit -1), so an
    *     all-blank text has ONE empty token, exactly like split(trim(c));
    *   - char counts are CODE POINTS (UTF8String.numChars), not UTF-16 units;
    *   - null text → ("de", null): size(null)=null makes every when() branch
    *     fail into otherwise("de"), and quality's null arithmetic propagates;
    *   - every double op keeps the Column twins' written evaluation order.
    */
  def langQualityFused(c: Column): Column = fusedUdf(c)

  /** The fused UDF's result struct. Package-private, not private: Janino
    * cannot call a private case class's accessors from the generated
    * serializer (see [[graft.llmops.Dedup]]'s SigSet).
    */
  private[functions] case class LangQ(lang_pred: String, quality: java.lang.Double)

  private lazy val fusedUdf = {
    val enSet = new java.util.HashSet[String](java.util.Arrays.asList(enStopwords: _*))
    val esSet = new java.util.HashSet[String](java.util.Arrays.asList(esStopwords: _*))
    val deSet = new java.util.HashSet[String](java.util.Arrays.asList(deStopwords: _*))
    val ws = java.util.regex.Pattern.compile("\\s+")
    val punct = java.util.regex.Pattern.compile("[\\p{Punct}]")
    val digit = java.util.regex.Pattern.compile("[0-9]")
    udf { text: String =>
      if (text == null) LangQ("de", null)
      else {
        var b = 0; var e = text.length
        while (b < e && text.charAt(b) == ' ') b += 1
        while (e > b && text.charAt(e - 1) == ' ') e -= 1
        val toks = ws.split(text.substring(b, e), -1)
        val n = math.max(toks.length, 1).toDouble
        var enH = 0; var esH = 0; var deH = 0
        val uniq = new java.util.HashSet[String](math.max(toks.length * 2, 16))
        var i = 0
        while (i < toks.length) {
          val w = toks(i)
          if (enSet.contains(w)) enH += 1
          if (esSet.contains(w)) esH += 1
          if (deSet.contains(w)) deH += 1
          uniq.add(w)
          i += 1
        }
        val enR = enH / n; val esR = esH / n; val deR = deH / n
        val lang = if (enR >= esR && enR >= deR) "en"
                   else if (esR >= deR) "es" else "de"
        val chars = math.max(text.codePointCount(0, text.length), 1).toDouble
        var punctN = 0
        val pm = punct.matcher(text)
        while (pm.find()) punctN += 1
        var digitN = 0
        val dm = digit.matcher(text)
        while (dm.find()) digitN += 1
        val stopRatio = enH / n
        val uniqRatio = uniq.size.toDouble / n
        val punctRatio = punctN / chars
        val digitRatio = digitN / chars
        val lenScore = math.min(n / 64.0, 1.0)
        val q = math.min(stopRatio * 2.0, 1.0) * 0.3 + uniqRatio * 0.3 +
          lenScore * 0.2 + (1.0 - math.min(punctRatio * 4.0, 1.0)) * 0.1 +
          (1.0 - math.min(digitRatio * 4.0, 1.0)) * 0.1
        LangQ(lang, q)
      }
    }
      // asNondeterministic (r17 optimization round, guide §4.4): callers
      // filter on lang_pred/quality derived from this struct, and the pushed
      // filter substituted the UDF — q54's before-plan evaluated the fused
      // pass TWICE in the scan-side filter and a THIRD time in the surviving
      // projection. The marker pins one evaluation per row; the function is
      // pure (TextFusedSpec parity), so values are unchanged.
      .asNondeterministic()
  }

  /** Mean token length over a materialized token array (Gopher-style signal;
    * Rae et al. 2021 §A1.1 filters docs outside [3, 10]). Single aggregate
    * HOF pass — row-local, no shuffle.
    */
  def meanWordLen(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Fraction of tokens containing at least one lowercase letter (the Gopher
    * "80% of words must contain an alphabetic character" signal).
    */
  def alphaWordRatio(toks: Column): Column =
    size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Duplicate-n-gram fraction: 1 − distinct/total over token n-grams
    * (n = 1 is duplicate-word fraction). The Gopher repetition family — a high
    * fraction marks boilerplate/spam that exact and MinHash dedup both miss
    * because it repeats *within* one document, not across documents.
    */
  def dupNgramFrac(toks: Column, n: Int): Column = {
    val grams = if (n == 1) toks else shinglesFromTokens(toks, n)
    lit(1.0) - size(array_distinct(grams)).cast("double") /
      greatest(size(grams), lit(1)).cast("double")
  }

  /** Token n-gram shingles (incl. duplicates) from a MATERIALIZED token array
    * column. `toks` must be a bound attribute (a column produced by a prior
    * select/withColumn), not a derived expression: Catalyst does not CSE
    * inside higher-order-function lambdas, so a derived `split(...)` here
    * would re-evaluate once per element reference — O(tokens²) per row
    * (measured 8× slowdown at sf0.1 before this restructuring).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", (0 until n).map(j => try_element_at(toks, i + j)): _*))

  /** Convenience one-shot shingles (distinct) — fine for small frames and
    * candidate verification; hot paths should materialize tokens first and
    * use [[shinglesFromTokens]] (see Dedup.minHashSignatures).
    */
  def shingles(c: Column, n: Int): Column = array_distinct(shinglesAll(c, n))

  /** Convenience one-shot shingles including duplicates. */
  def shinglesAll(c: Column, n: Int): Column = {
    val t = tokens(c)
    transform(sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(n))))
  }
}
