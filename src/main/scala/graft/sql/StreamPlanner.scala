package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

import graft.sources.TableRegistry
import graft.streaming.{StreamingAnomaly, StreamingOps}

/** Standing-statement planner: a CTAS/INSERT whose FROM chain reaches a
  * STREAM table (a [[TableRegistry]] entry with a continuous loader — the
  * analog of the reference's topic-backed tables) becomes a continuous
  * [[org.apache.spark.sql.streaming.StreamingQuery]], not a snapshot. This is
  * the reference's primary entry path: every lab pipeline stage is a
  * `CREATE TABLE … AS SELECT` that stays RUNNING until stopped
  * (testing/helpers/flink_sql_helper.py:98-136; e.g. `anomalies_per_zone`,
  * LAB3-Walkthrough.md:144-199).
  *
  * Planning strategy — per ';'-statement, per WITH-stage:
  *   1. every referenced stream table becomes a watermarked streaming scan
  *      registered under a mangled temp view;
  *   2. `TABLE(TUMBLE(…))` rewrites to a GROUP BY over the `window()` struct
  *      itself (NOT its projected start/end fields — the event-time metadata
  *      that lets append mode close windows lives on the struct attribute);
  *      `window_time` projects `__w.end - 1 ms` (Flink's window_time value);
  *   3. an `ML_DETECT_ANOMALIES(…) OVER (PARTITION BY k ORDER BY t …)` stage
  *      (unbounded OVER windows don't exist on streams) routes to the stateful
  *      [[StreamingAnomaly.withPayload]] operator: the stage's input rows ride
  *      through the transformWithState operator as a JSON payload column
  *      and are re-expanded by schema afterwards, so passthrough columns
  *      survive; the surrounding SELECT list then runs over the re-expanded
  *      view with the call replaced by the detection struct;
  *   4. everything else is streaming-compatible SQL and goes to `spark.sql`
  *      through the shared Flink-literal / TVF rewrites.
  *
  * The sink is an append parquet directory registered back into
  * [[TableRegistry]] with refresh-on-read (each read re-lists files, seeing
  * new micro-batch output), and the query lands in [[StatementCatalog]] as a
  * RUNNING statement; `DROP TABLE` stops it.
  *
  * Scale: the plan is the same one the DataFrame twins use — watermarked
  * shuffle-partitioned window aggregation, per-key bounded state in the
  * anomaly operator, append-only sink. Nothing driver-side grows with input.
  */
object StreamPlanner {

  /** Micros-preserving JSON serde for the payload round-trip (Spark's to_json
    * default truncates timestamps to millis).
    */
  private val jsonOpts = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  private def nameRe(name: String) =
    ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r

  /** Does this SELECT text reference any registered stream table? */
  def referencesStream(select: String): Boolean =
    TableRegistry.streamTableNames.exists(t => nameRe(t).findFirstIn(select).isDefined)

  /** `CREATE TABLE name AS <select over a stream>` → standing statement. */
  def startCtas(spark: SparkSession, name: String, select: String, fullSql: String): Unit = {
    StatementCatalog.stop(name) // re-submitting replaces the prior statement
    start(spark, name, name, select, fullSql, priorLoad = None,
      resubmit = () => startCtas(spark, name, select, fullSql))
  }

  /** `INSERT INTO name SELECT <over a stream>` → standing insert. New rows
    * append to a fresh sink directory; reads union the table's prior contents
    * (if any) with the continuously-growing sink.
    */
  def startInsert(spark: SparkSession, name: String, select: String, fullSql: String): Unit = {
    val stmt = s"insert-into-$name"
    StatementCatalog.stop(stmt)
    val prior = if (TableRegistry.exists(name)) Some(TableRegistry.resolve(name)) else None
    start(spark, name, stmt, select, fullSql, priorLoad = prior.map(_.load),
      resubmit = () => startInsert(spark, name, select, fullSql), appendSink = true)
  }

  /** Does the SELECT actually READ this stream table? The chain-edge match
    * is anchored on a FROM / JOIN / TABLE keyword position (r16 review): a
    * bare word-boundary match would make a column alias or string literal
    * named like a stream table a chain edge, and a FALSE edge is
    * destructive — the cascade would discard the reader's checkpoint and
    * re-plan it for nothing. The trade is deliberate: a comma-style join
    * (`FROM a, b`) under-matches `b`, which degrades to the pre-r16
    * documented re-create-by-hand behavior rather than a wrong re-plan.
    */
  private def readsTable(select: String, name: String): Boolean = {
    val q = java.util.regex.Pattern.quote(name)
    ("(?is)\\b(?:from|join|table)\\s*\\(?\\s*`?" + q + "`?\\b").r
      .findFirstIn(select).isDefined
  }

  /** Statements currently being re-planned by the re-submission cascade on
    * this thread — the termination guard: a statement re-submits at most
    * once per cascade, so even a cyclic chain (a statement reading its own
    * downstream's table) converges instead of recursing forever.
    *
    * Concurrency contract: submissions are caller-serialized (the SQL
    * frontend executes statements one at a time per session, and RESUME
    * re-plans serialize on `StatementCatalog.relightLock`), so a cascade
    * never races another cascade; the ThreadLocal bounds recursion within
    * the one submitting thread, it is not a cross-thread lock.
    */
  private val cascading = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty[String]
  }

  private def start(spark: SparkSession, table: String, stmt: String, select: String,
                    fullSql: String, priorLoad: Option[SparkSession => DataFrame],
                    resubmit: () => Unit, appendSink: Boolean = false): Unit = {
    // chain edges (r16): the stream tables this plan reads, fingerprinted by
    // the sink dir backing each AT PLAN TIME ("" for sink-less source
    // tables) — captured BEFORE the target registers, so a self-read records
    // the prior generation; keyword-anchored (readsTable) so a column or
    // literal named like a stream table cannot become a destructive edge
    val upstreamSinks: Map[String, String] = TableRegistry.streamTableNames
      .filter(t => readsTable(select, t))
      .map(t => t -> TableRegistry.resolve(t).options.getOrElse("graft.sink-path", ""))
      .toMap
    val result = plan(spark, select)
    val schema = result.schema
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_streams/" +
      s"${spark.sparkContext.applicationId}/${table}_${counter.incrementAndGet()}"
    val sinkDir = s"$base/sink"
    // launch recipe kept (r14): relightStanding restarts a NEW instance on
    // the SAME sink + checkpoint — streaming-state recovery through the full
    // planner path (the kill-mid-drain harnesses' route)
    def launch(): org.apache.spark.sql.streaming.StreamingQuery = result.writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", s"$base/checkpoint")
      .outputMode("append")
      .queryName(stmt)
      .start()
    // the sink dir must exist before any DOWNSTREAM standing statement plans
    // a file-stream scan over it (the sink itself creates it only at the
    // first commit). Through the Hadoop FileSystem API (r16, VERDICT r15 #4):
    // the sink path is whatever filesystem the session's Hadoop conf
    // resolves — local in the sandbox, HDFS/S3A on a deployment — and a
    // java.io.File.mkdirs() would silently no-op on the latter, breaking
    // chain registration.
    locally {
      val p = new org.apache.hadoop.fs.Path(sinkDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    }
    val query = launch()
    val load: SparkSession => DataFrame = priorLoad match {
      case Some(prev) => s => prev(s).unionByName(readSink(s, sinkDir, schema))
      case None       => s => readSink(s, sinkDir, schema)
    }
    // the sink is ALSO a stream table (r15 — the reference's topic-chained
    // topology: every lab stage CTAS-reads the previous stage's table, and
    // each stage is its own standing statement, lab4's five-topic chain,
    // scripts/lab4_datagen.py:296-304). A downstream standing statement
    // reads the committed micro-batch files through the parquet sink's
    // metadata log (FileStreamSource honors _spark_metadata — exactly-once
    // file handoff), so STOP/RESUME of any stage composes across the chain:
    // a resumed stage continues from its own checkpoint's file offsets.
    // DROP TABLE upstream stops its query but retains the sink files, so a
    // downstream reader drains what was committed (topic-retention
    // semantics).
    // Re-submission must PRESERVE declared table metadata (r16): a user's
    // `ALTER TABLE … MODIFY (WATERMARK …)` on the sink table outlives the
    // statement behind it — exactly like a topic-table's watermark clause
    // outlives re-created statements in the reference. Without this, the
    // cascade re-planning a downstream TUMBLE stage would re-plan against a
    // watermark-less table and fail (or silently never close windows).
    // Preserved only while the column still exists in the new output schema;
    // a schema change that drops the event-time column drops the watermark
    // with it (the ALTER no longer refers to anything).
    val priorDef = if (TableRegistry.exists(table)) Some(TableRegistry.resolve(table)) else None
    val (wmCol, wmDelay) = priorDef match {
      case Some(p) if p.watermarkCol.exists(schema.fieldNames.contains) =>
        (p.watermarkCol, p.watermarkDelay)
      case _ => (None, None)
    }
    val pk = priorDef.map(_.primaryKey).getOrElse(Seq.empty)
      .filter(schema.fieldNames.contains)
    TableRegistry.createTable(TableRegistry.TableDef(table, Some(schema),
      primaryKey = pk, watermarkCol = wmCol, watermarkDelay = wmDelay,
      options = Map("graft.refresh-on-read" -> "true", "graft.sink-path" -> sinkDir),
      load = load,
      loadStream = Some(s => s.readStream.schema(schema).parquet(sinkDir))))
    StatementCatalog.recordStanding(stmt, fullSql, query, relight = Some(() => launch()),
      upstreamSinks = upstreamSinks, resubmit = Some(resubmit), appendSink = appendSink)
    // re-submission cascade (r16, VERDICT r15 #1 — closes the one silent
    // failure mode the product surface had): this submission just rotated
    // `table`'s sink dir; a RUNNING downstream standing statement planned
    // against the OLD directory would keep RUNNING and never see another
    // row. Re-plan each such reader from its own SQL (fresh plan + sink +
    // checkpoint against the new sink), recursively — exactly what the
    // reference requires a user to do by hand when re-creating an upstream
    // topic-table, automated (its stated intent: the chain stays live).
    // STOPPED readers are left stopped; their RESUME re-plans via the
    // relightStanding staleness check. The per-thread `cascading` set bounds
    // recursion: each statement re-submits at most once per cascade.
    //
    // Three reader classes do NOT auto-re-plan, each loudly (r16 review):
    //   - append-sink readers (INSERT INTO): a from-scratch replay would
    //     duplicate every row they already appended — the user re-creates
    //     the insert when they want it to follow the new sink;
    //   - readers already in this cascade (a cyclic chain): re-planning
    //     them again would recurse forever, so the cycle's originator is
    //     left on the rotated sink and told so;
    //   - readers whose re-plan THROWS (e.g. the new output schema breaks
    //     their SQL): the failure is logged per reader and the loop
    //     continues, so one broken reader cannot silently strand its
    //     siblings on the dead directory.
    val guard = cascading.get()
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val readers = StatementCatalog.runningReadersOf(table)
      .filter(d => d.name != stmt && d.resubmit.isDefined)
    val (cyclic, rest) = readers.partition(d => guard.contains(d.name))
    val (appendReaders, stale) = rest.partition(_.appendSink)
    cyclic.foreach { d =>
      log.warn(s"re-submission of '$stmt' rotated table '$table''s sink under '${d.name}', " +
        "which is already re-planning in this cascade (cyclic chain) — it stays on the " +
        "rotated sink; break the cycle and re-submit it by hand")
    }
    appendReaders.foreach { d =>
      log.warn(s"re-submission of '$stmt' rotated table '$table''s sink under APPEND " +
        s"statement '${d.name}' — NOT cascading (a replay would duplicate every row it " +
        "already appended); it keeps draining the retained old files — re-create the " +
        "INSERT to follow the new sink")
    }
    if (stale.nonEmpty) {
      log.warn(s"re-submission of '$stmt' rotated table '$table''s sink under " +
        s"${stale.size} running downstream statement(s) " +
        s"(${stale.map(_.name).mkString(", ")}) — cascading re-submission")
      guard += stmt
      try stale.foreach { d =>
        guard += d.name
        try d.resubmit.get.apply()
        catch {
          case scala.util.control.NonFatal(e) =>
            log.error(s"cascade re-plan of '${d.name}' FAILED (${e.getMessage}); it is " +
              "stopped/stale against the rotated sink — fix its SQL and re-submit it " +
              "by hand; continuing with the remaining readers", e)
        }
        finally guard -= d.name
      } finally guard -= stmt
    }
  }

  /** An append sink that may not have produced files yet: empty-but-typed
    * until the first micro-batch commits.
    */
  private def readSink(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasFiles = fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
    if (hasFiles) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  // ------------------------------------------------------------------ planning

  /** Plan the SELECT text into a streaming DataFrame (see object doc). */
  private[graft] def plan(spark: SparkSession, select: String): DataFrame = {
    // a versioned STREAM table has no standing operator: refuse here, before
    // the batch rewrite meets its mangled view name
    SqlFrontend.TemporalJoinRe.findAllMatchIn(select).map(m => SqlFrontend.unqualify(m.group(2)))
      .find(t => TableRegistry.exists(t) && TableRegistry.resolve(t).loadStream.isDefined)
      .foreach(t => throw new IllegalArgumentException(s"a standing temporal table join " +
        s"(FOR SYSTEM_TIME AS OF) over STREAM table '$t' is not supported; query its snapshot"))
    val (ctes, finalSelect) = splitWith(select)
    var views = Map.empty[String, String]
    TableRegistry.streamTableNames
      .filter(t => nameRe(t).findFirstIn(select).isDefined)
      .foreach { t =>
        val v = s"__graft_src_${t}_${counter.incrementAndGet()}"
        TableRegistry.scanStream(spark, t).createOrReplaceTempView(v)
        views += t -> v
      }
    // one literal-string scope per stage: the extension stages parse their
    // clause text (PARTITION BY, DEFINE, call arguments) by parseSql's rule
    def stage(body: String): DataFrame = Bridge.withLiteralStrings(spark) {
      val substituted = views.foldLeft(body) { case (acc, (n, v)) =>
        nameRe(n).replaceAllIn(acc, java.util.regex.Matcher.quoteReplacement(v))
      }
      val tumbled = rewriteTumbleStreaming(substituted)
      if ("(?i)ML_DETECT_ANOMALIES".r.findFirstIn(tumbled).isDefined)
        anomalyStage(spark, tumbled)
      else if ("(?i)MATCH_RECOGNIZE".r.findFirstIn(tumbled).isDefined)
        matchRecognizeStage(spark, tumbled)
      else SqlFrontend.parseSql(spark, tumbled)
    }
    ctes.foreach { case (n, body) =>
      val v = s"__graft_cte_${n}_${counter.incrementAndGet()}"
      stage(body).createOrReplaceTempView(v)
      views += n -> v
    }
    stage(finalSelect)
  }

  /** `WITH a AS (…), b AS (…) SELECT …` → (Seq(a → body, b → body), select).
    * Quote-aware balanced-paren scan; no WITH → no CTEs.
    */
  private[graft] def splitWith(text: String): (Seq[(String, String)], String) = {
    val t = text.trim
    if (!t.toUpperCase.startsWith("WITH") || t.length < 5 || Character.isLetterOrDigit(t.charAt(4)))
      return (Seq.empty, t)
    var i = 4
    val ctes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def skipWs(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    var more = true
    while (more) {
      skipWs()
      val nameStart = i
      while (i < t.length && (t.charAt(i).isLetterOrDigit || t.charAt(i) == '_')) i += 1
      val name = t.substring(nameStart, i)
      require(name.nonEmpty, s"expected CTE name at offset $nameStart")
      skipWs()
      require(t.regionMatches(true, i, "AS", 0, 2), s"expected AS after CTE '$name'")
      i += 2
      skipWs()
      require(i < t.length && t.charAt(i) == '(', s"expected ( after CTE '$name' AS")
      var depth = 0
      var j = i
      var inQuote = false
      var end = -1
      while (end < 0 && j < t.length) {
        val c = t.charAt(j)
        if (inQuote) { if (c == '\'') inQuote = false }
        else c match {
          case '\'' => inQuote = true
          case '('  => depth += 1
          case ')'  => depth -= 1; if (depth == 0) end = j
          case _    => ()
        }
        j += 1
      }
      require(end > 0, s"unbalanced parentheses in CTE '$name'")
      ctes += name -> t.substring(i + 1, end).trim
      i = end + 1
      skipWs()
      if (i < t.length && t.charAt(i) == ',') i += 1 else more = false
    }
    (ctes.toSeq, t.substring(i).trim)
  }

  /** Streaming twin of SqlFrontend.rewriteTumble: rewrite the TUMBLE TVF so
    * the aggregation groups by the `window()` STRUCT (whose attribute carries
    * the event-time watermark tag append mode needs), projecting Flink's
    * window_start / window_end / window_time from it. Handles the TVF
    * projection idiom the reference uses (bare window_* select items +
    * GROUP BY window_start, window_end, window_time, keys).
    */
  private[graft] def rewriteTumbleStreaming(sql: String): String = {
    val m = SqlFrontend.TumbleRe.findFirstMatchIn(sql).getOrElse(return sql)
    val (tbl, ts, n, unit) = (m.group(1), m.group(2), m.group(3), m.group(4).toLowerCase)
    var out = sql.substring(0, m.start) +
      s"FROM (SELECT *, window($ts, '$n $unit') AS __w FROM $tbl) __graft_w" +
      sql.substring(m.end)
    // group by the struct, not its fields (paren-aware split: a composite key
    // like concat(a, b) must not be cut at its inner comma)
    val gbRe = "(?is)GROUP\\s+BY\\s+(.*?)(?=\\b(?:HAVING|ORDER|LIMIT|WINDOW)\\b|$)".r
    out = gbRe.replaceAllIn(out, gm => {
      val keys = SqlFrontend.splitTopLevelCommas(gm.group(1)).map(_.trim).filter(_.nonEmpty)
      val kept = keys.filterNot(k => Set("WINDOW_START", "WINDOW_END", "WINDOW_TIME")(k.toUpperCase))
      java.util.regex.Matcher.quoteReplacement(("__w" +: kept).mkString("GROUP BY ", ", ", " "))
    })
    // window_* references become struct projections. The `AS window_*` alias
    // is injected ONLY for bare select-list items (the TVF projection idiom);
    // occurrences inside larger expressions — HOUR(window_start), ORDER BY
    // tails — substitute the bare struct field, where an injected alias would
    // be a parse error.
    // window_time is NOT window_time(__w): Spark's MISSING_AGGREGATION check
    // rejects the WindowTime expression over a grouped struct attribute. The
    // manual end-1ms form is the same value (Flink's window_time contract) and
    // the downstream stateful op (StreamingAnomaly) needs no event-time
    // metadata on it: under a state TTL its timers run on this aggregation's
    // watermark.
    val exprOf = Map(
      "window_start" -> "__w.start",
      "window_end" -> "__w.end",
      "window_time" -> "(__w.end - INTERVAL '1' MILLISECOND)")
    def refs(s: String): String = exprOf.foldLeft(s) { case (acc, (name, e)) =>
      acc.replaceAll("(?i)\\b" + name + "\\b", java.util.regex.Matcher.quoteReplacement(e))
    }
    val (sel, fromPart) = SqlFrontend.topLevelSelectFrom(out)
    val BareAs = "(?is)^(window_start|window_end|window_time)(?:\\s+AS\\s+(\\w+))?$".r
    val items = SqlFrontend.splitTopLevelCommas(sel).map { item =>
      item.trim match {
        case BareAs(name, alias) =>
          val nm = name.toLowerCase
          s"${exprOf(nm)} AS ${if (alias != null) alias else nm}"
        case _ => refs(item)
      }
    }
    s"SELECT ${items.mkString(", ")} FROM ${refs(fromPart)}"
  }

  /** One stage whose FROM carries `MATCH_RECOGNIZE` — the standing-CEP form,
    * routed to a stateful operator instead of the batch lead()-window
    * rewrite, which streams can't run (unbounded window functions). One
    * route: every statement runs on
    * [[graft.streaming.StreamingMatchRecognize]] (value-buffered state, the
    * batch scan's [[graft.operators.MrMatcher]]) — literal type DEFINEs
    * (`V AS V.col = 'lit'`) included. DEFINEs range over ANY number of source
    * columns in their ORIGINAL types (r11), `PREV()` physical
    * back-navigation, `NEXT()` via one-event decision deferral (r11),
    * cross-variable / FIRST() / logical-offset conditions, composite
    * patterns (alternation, grouping, PERMUTE) executed by the parse tree in
    * ISO per-choice-point order (r12), SUBSET union variables in DEFINE and
    * MEASURES (r12), `ALL ROWS PER MATCH` per-row emission with CLASSIFIER()
    * and RUNNING/FINAL measure views, and `{- exclusion -}` under ALL ROWS
    * (r12).
    *
    * Surface: PARTITION BY over any number of plain columns (r13 —
    * composite keys ride a collision-free [[graft.core.KeyImage]] state key
    * and the original typed columns are re-emitted); `ORDER BY ts[, tie]` (r12 —
    * the optional second column is the within-timestamp tie-break, the batch
    * route's `ORDER BY ts, event_id` shape); the full quantifier
    * grammar incl. unbounded and reluctant forms; `WITHIN` at micros precision (r13);
    * ALL FOUR of the standard's AFTER MATCH strategies (r14 — SKIP TO
    * [FIRST|LAST] <var> resumes the cursor AT the target row, so standing
    * matches may OVERLAP; empty-target / self-re-anchor fail loudly, the
    * batch scan's rules). MEASURES: span anchors (FIRST(first.ord) → match
    * start, LAST(last.ord) → match end), value FIRST/LAST over buffered
    * columns, count/sum/min/max/avg aggregates, MATCH_NUMBER() (EVERY skip
    * strategy since r15 — under SKIP TO NEXT ROW decided winners defer
    * behind the undecided frontier so ordinals flush in start order,
    * batch-equal), CLASSIFIER() (ALL ROWS per-row label, or under ONE ROW
    * the last matched row's label — ISO semantics, r14). Under ALL ROWS the
    * unmarked measure default is RUNNING, FINAL opts out — the standard's
    * rule, same as batch.
    *
    * Current refusal list (loud, spec-pinned): exclusion under ONE ROW (no
    * effect, the batch rule); RUNNING on a match-END span measure (mark it
    * FINAL); non-integral ORDER BY tie columns. DEFINEs and non-anchor
    * MEASURES over the ORDER BY column are SUPPORTED since r13 (per-step
    * time-gap conditions — the column buffers like any condCol).
    *
    * The clause is read by [[MrClause.parse]], the batch rewrite's parser, so
    * every grammar-level refusal reads the same on both routes; this stage
    * only lowers the parsed clause and enforces its own limits.
    */
  private def matchRecognizeStage(spark: SparkSession, stageSql: String): DataFrame = {
    val mr = MrClause.parse(stageSql)
      .getOrElse(sys.error("matchRecognizeStage without FROM … MATCH_RECOGNIZE"))
    val tbl = mr.table
    // multi-column PARTITION BY (r13): state keys on a collision-free
    // KeyImage of the columns; the original typed columns are re-emitted
    // from the buffered rows (they are constant per key by construction, so
    // any matched row carries them). Entries may be EXPRESSIONS (r15): each
    // non-plain entry pre-projects onto the source below under the same
    // auto-name the batch route's projection emits (`PARTITION BY
    // UPPER(region)` → column `upper(region)`), so stream and batch output
    // schemas agree, under ALL ROWS too (r16).
    val rawParts = mr.partition
    require(rawParts.distinct.size == rawParts.size,
      s"streaming MATCH_RECOGNIZE PARTITION BY repeats an entry: '${rawParts.mkString(", ")}'")
    // ORDER BY <ts>[, <tie>] (r12): an optional second column is the
    // within-timestamp tie-break (the batch route's `ORDER BY ts, event_id`
    // shape) — buffered as the operator's tie so equal-timestamp rows order
    // deterministically instead of by arrival
    require(mr.order.size <= 2, "streaming MATCH_RECOGNIZE supports ORDER BY " +
      s"<ts>[, <tie>] — at most one tie-break column, got ${mr.order.mkString(", ")}")
    val ord = mr.order.head
    val tieCol: Option[String] = mr.order.lift(1)
    val nTok = mr.varNames.size
    // MEASURES: ORDER-BY-column refs map to the operator's match_start_ts /
    // match_end_ts; any other `[FIRST|LAST](var.col)` is a VALUE measure
    // (r11) read from the winning placement's buffered rows on the value
    // route — Left(src -> alias) = span measure, Right = value measure.
    // The span anchors exist only when EVERY branch starts (ends) with the
    // SAME mandatory variable — otherwise a span measure errors via the
    // mapping below and the user keeps value measures (match_start_ts/
    // match_end_ts still drive the output span).
    def sharedEnd(ends: Seq[graft.operators.MrPattern.PTok]): Option[(String, Int, Int)] =
      if (ends.map(_.name).distinct.size == 1 && ends.forall(_.lo >= 1))
        Some((ends.head.name, ends.map(_.lo).min, ends.map(_.hi.getOrElse(Int.MaxValue)).max))
      else None
    val (firstVar, firstMin, firstMax) = sharedEnd(mr.branches.map(_.head)).getOrElse(("", 0, 0))
    val (lastVar, lastMin, _) = sharedEnd(mr.branches.map(_.last)).getOrElse(("", 0, 0))
    // measure tok space: variables, then subsets at nTok + i (the operator's
    // pooled-union convention)
    val measTokIdx: Map[String, Int] = mr.varIndex ++
      mr.subsets.map(_._1).zipWithIndex.map { case (nm, i) => nm -> (nTok + i) }
    val MeasRe = "(?is)^(?:(FIRST|LAST)\\s*\\(\\s*)?(\\w+)\\.(\\w+)\\s*\\)?$".r
    // aggregate MEASURES over a variable's matched rows (r11 — Flink CEP
    // allows these in standing queries): count/sum/min/max/avg, computed by
    // the value operator per winning placement with the batch scan's
    // exactness contract (exact decimal sums, one-division avg)
    val AggMeasRe = "(?is)^(count|sum|min|max|avg)\\s*\\(\\s*(\\w+)\\.(\\w+|\\*)\\s*\\)$".r
    import graft.streaming.StreamingMatchRecognize.{MrAggMeasure, MrMeasure}
    // MATCH_NUMBER() (r11): the per-key emitted-match ordinal — the operator
    // emits it under the alias directly, so it rides the Left(src -> alias)
    // projection with src = alias
    val MnRe = "(?is)^MATCH_NUMBER\\s*\\(\\s*\\)$".r
    // CLASSIFIER() (r12, ALL ROWS only): the operator's per-row `cls` column
    val ClsRe = "(?is)^CLASSIFIER\\s*\\(\\s*\\)$".r
    var matchNumberAlias: Option[String] = None
    // CLASSIFIER() under ONE ROW PER MATCH (r14, ISO): the LAST matched
    // row's label, emitted by the value operator as `cls` — same projection
    // path as the ALL-ROWS per-row classifier
    var oneRowCls = false
    val measures: Seq[Either[(String, String), Either[MrMeasure, MrAggMeasure]]] =
      mr.measures.map { case MrClause.Measure(e, alias, running) =>
        e match {
          case MnRe() =>
            matchNumberAlias = Some(alias)
            Left(alias -> alias)
          case ClsRe() =>
            // ALL ROWS: the operator's per-row cls column; ONE ROW (r14,
            // ISO): the last matched row's label, also emitted as `cls`
            if (!mr.allRows) oneRowCls = true
            Left("cls" -> alias)
          case AggMeasRe(fn0, v, c) if measTokIdx.contains(v) =>
            val fn = fn0.toLowerCase match { case "count" => "cnt"; case f => f }
            Right(Right(MrAggMeasure(fn, measTokIdx(v), c, alias, running = running)))
          case MeasRe(kind, v, c) if c == ord && mr.varIndex.contains(v) =>
            // FIRST(first.ord) → match start (first var must be mandatory);
            // bare first.ord additionally needs max=1 — the standard's bare
            // ref is the LAST occurrence, which equals the start only
            // unquantified. LAST(last.ord) / bare last.ord → match end (last
            // var mandatory — an absent optional's measure would be NULL,
            // not the end). Anything else is not representable in (start,
            // end) and errors. Under ALL ROWS a match-END span measure is a
            // whole-match value, which the RUNNING default contradicts —
            // mark it FINAL (the start anchor's running view already equals
            // the final one, so it passes unmarked).
            val anchor = (v, Option(kind).map(_.toUpperCase)) match {
              case (`firstVar`, Some("FIRST")) if firstMin >= 1 => Some("match_start_ts")
              case (`firstVar`, None) if firstMin >= 1 && firstMax == 1 && v != lastVar =>
                Some("match_start_ts")
              case (`lastVar`, None | Some("LAST")) if lastMin >= 1 => Some("match_end_ts")
              case _ => None
            }
            anchor match {
              case Some(src) =>
                require(!(running && src == "match_end_ts"),
                  s"streaming MEASURES: '$e AS $alias' is the match END under ALL ROWS PER " +
                    "MATCH, where unmarked measures default to RUNNING (the standard) — mark it FINAL")
                Left(src -> alias)
              case None =>
                // not a whole-match anchor (quantified/optional/mid-pattern
                // variable): read the ORDER BY column from the winning
                // placement like any buffered column (r13 — previously a
                // loud error; the measure pulls the column into condCols)
                Right(Left(MrMeasure(Option(kind).exists(_.equalsIgnoreCase("FIRST")),
                  measTokIdx(v), c, alias, running = running)))
            }
          case MeasRe(kind, v, c) if measTokIdx.contains(v) =>
            // value measure: bare = the standard's LAST occurrence; subset
            // names read the union of the member runs
            Right(Left(MrMeasure(Option(kind).exists(_.equalsIgnoreCase("FIRST")),
              measTokIdx(v), c, alias, running = running)))
          case _ => sys.error(s"streaming MATCH_RECOGNIZE MEASURES support " +
            s"[FIRST|LAST](var.col) over the ORDER BY column or a data column of a " +
            s"pattern variable or SUBSET, count/sum/min/max/avg(var.col) aggregates, " +
            s"MATCH_NUMBER() and (ALL ROWS) CLASSIFIER(); got '$e AS $alias'")
        }
      }
    val valueMeasures: Seq[MrMeasure] = measures.collect { case Right(Left(m)) => m }
    val aggMeasures: Seq[MrAggMeasure] = measures.collect { case Right(Right(m)) => m }

    val input00 = SqlFrontend.parseSql(spark, s"SELECT * FROM $tbl")
    // PARTITION BY expression resolution (r15; ALL ROWS accepted since r16):
    // plain names pass through; an expression pre-projects under batch's
    // auto-name. The computed key is then an ordinary column for
    // every downstream stage (KeyImage, condCols, the typed-key output
    // projection) — and under ALL ROWS it buffers/re-emits like any
    // condCol, the same auto-named column the batch twin now adds to its
    // every-input-column shape. The auto-name must not shadow a real source
    // column (the silent withColumn replace would corrupt condCol reads);
    // two raw entries resolving to one auto-name are a duplicate key —
    // both loud (r15 ADVICE).
    val (input0, parts) = rawParts.foldLeft((input00, Seq.empty[String])) {
      case ((df, acc), p) if p.matches("\\w+") =>
        require(df.columns.contains(p),
          s"streaming MATCH_RECOGNIZE: PARTITION BY column '$p' is not in the source")
        (df, acc :+ p)
      case ((df, acc), p) =>
        val key = Bridge.expr(spark, p)
        val name = df.select(key).columns.head // batch's output name for the expression
        require(!input00.columns.contains(name),
          s"streaming MATCH_RECOGNIZE: PARTITION BY expression '$p' resolves to auto-name " +
            s"'$name', which already exists as a source column — pre-project the expression " +
            "upstream under a different alias")
        (df.withColumn(name, key), acc :+ name)
    }
    require(parts.distinct.size == parts.size,
      s"streaming MATCH_RECOGNIZE: PARTITION BY entries resolve to duplicate key columns: $parts")
    tieCol.foreach { t =>
      require(input0.columns.contains(t),
        s"streaming MATCH_RECOGNIZE: ORDER BY tie column '$t' is not in the source")
      // the tie rides state as a long; a non-integral column would cast to
      // NULL (→ tie 0), silently reverting equal-timestamp rows to arrival
      // order — refuse loudly instead (the planner's discipline; r12 ADVICE)
      val dt = input0.schema(t).dataType
      require(dt match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }, s"streaming MATCH_RECOGNIZE: ORDER BY tie column '$t' must be an integral type " +
        s"(losslessly castable to BIGINT), got ${dt.simpleString}")
    }
    require(!parts.contains(ord),
      "streaming MATCH_RECOGNIZE: the ORDER BY column cannot also be a PARTITION BY column")
    val input = input0.withColumn("__tie",
      tieCol.map(col(_).cast("long")).getOrElse(lit(0L)))
    // the ALL-ROWS projection re-exposes the buffered columns — recorded
    // for the post-match select
    var allRowsCondCols: Seq[String] = Nil
    val matched = {
      // referenced columns are read from the conditions
      val refCols: Seq[String] = mr.defines.toSeq.flatMap { case (_, c) =>
        "\\b(\\w+)\\.(\\w+)\\b".r.findAllMatchIn(c)
          .filter(mm => measTokIdx.contains(mm.group(1)))
          .map(_.group(2)).toSeq
      }.distinct
      require(mr.defines.nonEmpty, "streaming MATCH_RECOGNIZE requires a DEFINE clause — an " +
        "undefined pattern variable matches every row, which the operator cannot bound")
      require(refCols.nonEmpty, "streaming MATCH_RECOGNIZE: value DEFINEs reference no columns")
      refCols.foreach(c => require(input.columns.contains(c),
        s"streaming MATCH_RECOGNIZE: DEFINE references unknown column '$c'"))
      // DEFINEs may reference the ORDER BY column itself (r13 — previously a
      // loud refusal, an r10-shape leftover): per-step time-gap conditions
      // (`D.ts - PREV(D.ts) < gap`, the fraud-burst CEP idiom WITHIN cannot
      // express) buffer the column like any other condCol in its ORIGINAL
      // type; MrConditions type-checks time-likes and the Hybrid fallback
      // covers interval arithmetic. Under ALL ROWS the projection re-exposes
      // the column from row_ts, so rowCondProj below skips the duplicate.
      // any number of referenced columns, buffered in their ORIGINAL types
      // (r11 — the r10 one-numeric+one-string shape is gone; exact decimal/
      // integral comparison parity with the batch scan by construction)
      // composite PARTITION BY (r13): the operator keys on one string — a
      // collision-free KeyImage of the columns — and the original typed
      // columns ride the buffer (they're constant per key, so ANY matched
      // row carries them): condCols under ALL ROWS re-emits them directly;
      // under ONE ROW a hidden all-variables SUBSET FIRST-measure reads the
      // first matched row's values (every match has >= 1 matched row)
      val multiKey = parts.size > 1
      val keyCol = if (!multiKey) parts.head else "__mr_pkey"
      val opInput = if (!multiKey) input else {
        graft.core.KeyImage.requireAtomic(input.toDF(), parts.map(col))
        input.withColumn(keyCol, graft.core.KeyImage.of(parts.map(col)))
      }
      val partMeasures: Seq[MrMeasure] =
        if (!multiKey || mr.allRows) Nil
        else parts.map(p => MrMeasure(isFirst = true,
          tok = nTok + mr.subsets.size, col = p, alias = p))
      val opSubsets = mr.subsets ++
        (if (partMeasures.nonEmpty) Seq(("__graft_pkey_pool", 0 until nTok)) else Nil)
      val condCols = (refCols ++ valueMeasures.map(_.col) ++
        aggMeasures.map(_.col).filter(_ != "*") ++
        (if (multiKey) parts else Nil)).distinct
      (valueMeasures.map(_.col) ++ aggMeasures.map(_.col).filter(_ != "*"))
        .foreach(c => require(input.columns.contains(c),
          s"streaming MEASURES references unknown column '$c'"))
      allRowsCondCols = condCols
      graft.streaming.StreamingMatchRecognize.applyPattern(opInput, keyCol, condCols,
        ord, "__tie", mr.varNames, mr.scanBranches, mr.varNames.map(mr.defines.get),
        mr.withinMicros.getOrElse(0L), ttl = stateTtl,
        skip = mr.skip, measures = valueMeasures ++ partMeasures,
        oneRowClassifier = oneRowCls,
        aggMeasures = aggMeasures,
        matchNumberAlias = matchNumberAlias,
        // composite patterns execute by the parse tree (r12): ISO preferment
        // even when a variable-length quantifier precedes a choice point
        tree = mr.tree, allRows = mr.allRows, subsets = opSubsets,
        // undecided-at-expiry runs surface as a NAMED accumulator (r12) —
        // visible in the Spark UI / status without an oracle diff
        openTailAcc = Some(spark.sparkContext.longAccumulator(s"mr_open_tails_$tbl")),
        lateRows = Some(spark.sparkContext.longAccumulator(s"mr_late_rows_$tbl")),
        stateProbe = Some(new graft.streaming.StreamingOps.MaxAccumulator)
          .map { p => spark.sparkContext.register(p, s"mr_peak_state_rows_$tbl"); p })
    }.toDF()
    // restore the partition columns' ORIGINAL types: a single column casts
    // the operator's string key back; a composite key re-reads the typed
    // values the operator buffered/measured (the KeyImage string never
    // leaves this stage). Under ALL ROWS the per-row shape re-exposes the
    // ORDER BY column (from row_ts, original type) and the buffered columns
    // by name.
    val partProj: Seq[org.apache.spark.sql.Column] =
      if (parts.size == 1)
        Seq(col("key").cast(input.schema(parts.head).dataType).as(parts.head))
      else parts.map(col)
    // the re-exposed buffered columns, minus the partition columns partProj
    // already emits — at EVERY key arity (r13 ADVICE: a single-column key
    // referenced by a DEFINE is a condCol too; partProj re-emits it from the
    // operator's key, so keeping it here tripped the duplicate-output guard
    // on a shape the composite-key twin supported) — and minus the ORDER BY
    // column (re-exposed from row_ts — an ord-referencing DEFINE/MEASURE
    // buffers it as a condCol, r13)
    val rowCondProj = allRowsCondCols.filterNot(c => c == ord || parts.contains(c))
    // EVERY projected output name must be unique — the operator-level checks
    // cover value/agg measure aliases, but span-measure, MATCH_NUMBER and
    // CLASSIFIER aliases ride the Left(src -> alias) projection and would
    // otherwise collide silently with a partition column, the ORDER BY
    // column, or (ALL ROWS) a re-exposed buffered column (r12 ADVICE)
    locally {
      val aliases = measures.map { case Left((_, a)) => a; case Right(m) => m.fold(_.alias, _.alias) }
      val outNames = (parts ++
        (if (mr.allRows) ord +: rowCondProj else Nil) ++ aliases).map(_.toLowerCase)
      val dups = outNames.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
      require(dups.isEmpty, "streaming MATCH_RECOGNIZE: duplicate output column name(s) " +
        s"${dups.mkString(", ")} — a measure alias collides with a partition column, the " +
        "ORDER BY column, another alias, or (under ALL ROWS) a buffered DEFINE/MEASURES column")
    }
    val measureProj = measures.map {
      case Left((src, alias)) => col(src).as(alias)
      case Right(m) => col(m.fold(_.alias, _.alias)) // emitted under its alias already
    }
    val projected =
      if (!mr.allRows) matched.select(partProj ++ measureProj: _*)
      else matched.select(partProj ++
        (col("row_ts").cast(input.schema(ord).dataType).as(ord) +:
          (rowCondProj.map(col) ++ measureProj)): _*)
    // the stage's outer SELECT runs over the matched view, with the user's
    // table alias RE-ATTACHED so qualified refs (mr.start_ts) still resolve
    val v = s"__graft_mrs_${counter.incrementAndGet()}"
    projected.createOrReplaceTempView(v)
    SqlFrontend.parseSql(spark, mr.splice(stageSql, v))
  }

  /** The reference bounds its stateful queries with SET 'sql.state-ttl' (the
    * LAB4 sessions run '14 d'): both standing stateful stages (MATCH_RECOGNIZE
    * and ML_DETECT_ANOMALIES) hand it to their operator as its event-time
    * TTL, with [[TableRegistry.stateTtlWatermarkDelay]] as the delay of any
    * watermark the operator installs. Unset (or 0) = unbounded state.
    */
  private def stateTtl: Option[StreamingOps.StateTtl] =
    TableRegistry.stateTtlSeconds.filter(_ > 0)
      .map(s => StreamingOps.StateTtl(s, TableRegistry.stateTtlWatermarkDelay(s)))

  /** One stage whose select list carries `ML_DETECT_ANOMALIES(v, ts, cfg)
    * OVER (PARTITION BY k ORDER BY t …) AS alias`: run the stage's FROM as a
    * streaming input, push it through the stateful detector with the whole
    * input row as a JSON payload, re-expand, and evaluate the stage's select
    * list with the call replaced by the detection struct.
    */
  private def anomalyStage(spark: SparkSession, stageSql: String): DataFrame = {
    val call = AnomalyCall.parse(stageSql).getOrElse(sys.error("anomalyStage without ML_DETECT_ANOMALIES"))
    // composite PARTITION BY: one collision-free state key from all parts
    // (KeyImage length-prefixing — the same image the batch sequential
    // path uses, so batch and streaming agree on exactly which series a
    // row belongs to even under adversarial key values)
    val keys = call.partition.map(Bridge.expr(spark, _))
    val keyExpr = if (keys.size == 1) keys.head else graft.core.KeyImage.of(keys)

    val (_, fromPart) = SqlFrontend.topLevelSelectFrom(stageSql)
    val input = SqlFrontend.parseSql(spark, s"SELECT * FROM $fromPart")
    // single-column keys collide the same way: withPayload casts the key
    // to string for the state key, and nested string renderings are
    // ambiguous — guard every arity
    graft.core.KeyImage.requireAtomic(input, keys)
    // rows the operator drops behind their key's frontier, named after the
    // stage's source view like the MR stage's accumulators
    val src = "^\\s*(\\w+)".r.findFirstMatchIn(fromPart).fold("subquery")(_.group(1))
    val det = StreamingAnomaly.withPayload(input,
      keyExpr, Bridge.expr(spark, call.order), Bridge.expr(spark, call.value),
      to_json(struct(input.columns.map(col).toIndexedSeq: _*), jsonOpts), call.cfg,
      lateRows = Some(spark.sparkContext.longAccumulator(s"anomaly_late_rows_$src")),
      ttl = stateTtl)
    val expanded = det.toDF()
      .select(
        from_json(col("payload"), input.schema, jsonOpts).as("__r"),
        struct(col("forecast_value"), col("upper_bound"), col("lower_bound"), col("is_anomaly"))
          .as("__graft_anom"))
      .select("__r.*", "__graft_anom")
    val v = s"__graft_det_${counter.incrementAndGet()}"
    expanded.createOrReplaceTempView(v)
    // the stage's own select list, with the call → the struct and the FROM
    // (incl. any WHERE tail, already applied to `input`) → the expanded view
    val (sel, _) = SqlFrontend.topLevelSelectFrom(call.splice(stageSql, "__graft_anom"))
    SqlFrontend.parseSql(spark, s"SELECT $sel FROM $v")
  }
}
