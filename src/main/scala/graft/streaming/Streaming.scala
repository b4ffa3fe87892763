package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StatefulProcessorHandle, TimeMode,
  TimerValues}

/** Streaming counterparts of the batch operators (SURVEY.md §7.2 step 7).
  *
  * Topology choice mirrors the reference (SURVEY.md §3): each pipeline stage is
  * an independent continuous query communicating through topics (faithful) or
  * stages are fused into one DAG with foreachBatch at agent/sink boundaries
  * (Spark-idiomatic). Both compose from the functions here.
  *
  * Changelog semantics: everything here emits in APPEND mode (the reference
  * forces 'changelog.mode' = 'append' downstream of windows —
  * LAB3-Walkthrough.md:226,456) — window results emit once, on watermark
  * passing window end, matching Flink's window-close behavior.
  */
object StreamingOps {

  /** Max-gauge accumulator (r11): stateful operators report per-key buffered
    * row counts through it so scale spot-runs can print PEAK state size —
    * the number the eviction math has to hold down — without a driver
    * collect. Standard AccumulatorV2 merge discipline (max is commutative,
    * associative, idempotent under task retries).
    */
  final class MaxAccumulator extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var _max = 0L
    override def isZero: Boolean = _max == 0L
    override def copy(): MaxAccumulator = { val a = new MaxAccumulator; a._max = _max; a }
    override def reset(): Unit = _max = 0L
    override def add(v: Long): Unit = if (v > _max) _max = v
    override def merge(other: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
      add(other.value)
    override def value: Long = _max
  }

  /** Event-time micros from a Timestamp WITHOUT sub-millisecond truncation:
    * `getTime * 1000` drops the µs component (getTime is millis), which would
    * make streaming strict-ordering tests and auto-STL cadence deltas diverge
    * from the batch paths' `unix_micros`. Same formula as the Avro encoder.
    */
  def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  /** Event-time state TTL of the standing stateful operators
    * (StreamingMatchRecognize, StreamingAnomaly) — the analog of the
    * reference's `SET 'sql.state-ttl' = '14 d'` (LAB4-Walkthrough.md:124):
    * a key whose newest event is more than `seconds` behind the watermark
    * has its state EVICTED (dropped, not flushed — Flink TTL semantics; an
    * open match attempt or a training buffer simply disappears), and a later
    * event of the same key re-enters with FRESH state, exactly as a
    * first-ever event would. Without a TTL the state store grows
    * monotonically with key cardinality — users/entities on a 100 TB
    * stream — which is the one structure a bounded-per-key design can't
    * bound by itself.
    *
    * The operators take it as `Option[StateTtl]`: `None` runs without
    * timers. `watermarkDelay` is the delay of the watermark an operator
    * installs on an input that carries none ([[withTtlWatermark]]); the
    * standing stages pass `TableRegistry.stateTtlWatermarkDelay`, which
    * defaults to the TTL itself.
    */
  final case class StateTtl(seconds: Long, watermarkDelay: String) {
    require(seconds > 0, s"a state TTL must be positive, got $seconds seconds")
  }

  private[streaming] def ttlTimeMode(ttl: Option[StateTtl]): TimeMode =
    if (ttl.isDefined) TimeMode.EventTime() else TimeMode.None()

  /** The event-time watermark a TTL'd operator's timers run against. An
    * input that already carries one — a stream table's declared WATERMARK,
    * or the TUMBLE aggregation a standing anomaly stage usually reads — keeps
    * it and the timers fire on it. A second `withWatermark` would hold the
    * query's watermark (the minimum of the two) a TTL behind the source, and
    * an upstream TUMBLE would close no window for a TTL of event time.
    * Otherwise the TTL's own watermark goes on `tsCol`, which
    * also engages Spark's late-row filter — rows older than the watermark
    * are dropped, consistent with the operator's own late-row rule.
    */
  private[streaming] def withTtlWatermark(df: DataFrame, tsCol: String,
                                          ttl: Option[StateTtl]): DataFrame = ttl match {
    case Some(t) if !df.queryExecution.analyzed.exists(_.isInstanceOf[EventTimeWatermark]) =>
      df.withWatermark(tsCol, t.watermarkDelay)
    case _ => df
  }

  /** Re-arm a key's one eviction timer after it folded new events: it fires
    * when the watermark passes newest-event-time + ttl, clamped one past the
    * current watermark, so a key fed only late-ish events evicts at the next
    * watermark move, not in the batch that just fed it. No-op when the TTL
    * is off or the key folded nothing.
    */
  private[streaming] def resetTtlTimer(handle: StatefulProcessorHandle, ttl: Option[StateTtl],
                                       newestEventMicros: Long, tv: TimerValues): Unit =
    ttl.filter(_ => newestEventMicros != Long.MinValue).foreach { t =>
      val timers = handle.listTimers()
      while (timers.hasNext) handle.deleteTimer(timers.next())
      val target = Math.floorDiv(newestEventMicros, 1000L) + t.seconds * 1000L
      handle.registerTimer(math.max(target, tv.getCurrentWatermarkInMs() + 1L))
    }

  /** Watermarked tumbling aggregation (streaming W1/A1/A2). Late rows beyond
    * `delay` are dropped, as in the reference (scripts/publish_lab3_data.py:357-361).
    */
  def tumble(df: DataFrame, tsCol: String, delay: String, width: String, keys: Column*)(
      aggs: (String, Column)*): DataFrame = {
    // Streaming event time must be TIMESTAMP (LTZ): watermarks reject
    // TIMESTAMP_NTZ. The session runs UTC so the cast is wall-clock-neutral.
    val grouped = df
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width) +: keys: _*)
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c) => c.as(n) }: _*)
    grouped
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .withColumn("window_time", col("window.end") - expr("INTERVAL 1 MILLISECOND"))
      .drop("window")
  }

  /** Streaming CUMULATE window TVF (twin of [[graft.operators.Cumulate]]):
    * expanding windows `[w0, w0+k·step)` sharing a maxSize-aligned start,
    * each emitted once, append-mode, when it can no longer change.
    *
    * Shape: each row explodes to the cumulative window ends that contain it,
    * the end becomes the row's event time, and ONE tumbling aggregation of
    * width `step` over those ends does the rest — each cumulative window's
    * rows land in exactly the tumble slot `[end, end+step)`. The watermark
    * moves to the exploded column with `delay + maxSize` slack: a window end
    * leads its row's true event time by at most `maxSize`, so this bound
    * admits every row a `delay` watermark on the raw time would have admitted
    * (never drops more than Flink's own bounded-delay contract; it only holds
    * windows open slightly longer). The row-explode (×maxSize/step) happens
    * on the micro-batch, not on state — state is one slot per open
    * (window, key), same as any windowed agg. The batch slice decomposition
    * has no streaming analog without chained stateful aggregation, which
    * would buy nothing here: the shuffle per trigger is bounded by the
    * trigger's input, not history.
    */
  def cumulate(df: DataFrame, tsCol: String, delay: String, step: String, maxSize: String,
               keys: Column*)(aggs: (String, Column)*): DataFrame = {
    val stepUs = graft.operators.Cumulate.durationMicros(step)
    val maxUs = graft.operators.Cumulate.durationMicros(maxSize)
    require(maxUs % stepUs == 0 && maxUs > 0,
      s"maxSize ($maxSize) must be a positive integral multiple of step ($step)")
    val delayUs = graft.operators.Cumulate.durationMicros(delay)

    val u = unix_micros(col(tsCol).cast("timestamp"))
    val w0 = u - pmod(u, lit(maxUs))
    val exploded = df
      .withColumn("__cum_ws", timestamp_micros(w0))
      .withColumn("__cum_we", explode(sequence(
        // first end strictly after ts: w0 + (floor((ts-w0)/step)+1)·step
        timestamp_micros(w0 + (floor((u - w0) / lit(stepUs)).cast("long") + 1) * lit(stepUs)),
        timestamp_micros(w0 + lit(maxUs)),
        expr(s"INTERVAL $stepUs MICROSECOND"))))
      .withWatermark("__cum_we", s"${(delayUs + maxUs) / 1000} milliseconds")

    val grouped = exploded
      .groupBy(window(col("__cum_we"), step) +: col("__cum_ws").as("window_start") +: keys: _*)
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c) => c.as(n) }: _*)
    grouped
      .withColumn("window_end", col("window.start"))
      .withColumn("window_time", col("window.start") - expr("INTERVAL 1 MILLISECOND"))
      .drop("window")
  }

  /** Streaming interval join (J2): equi-key + event-time range, watermarks on
    * both sides bound the state — the Spark-native equivalent of Flink's
    * interval join (state scales with key cardinality × range, not history).
    *
    * Same bucketed composite key as the batch [[graft.operators.IntervalJoin]]:
    * joining on (key, span-sized time bucket) instead of the bare key spreads
    * a low-cardinality business key (lab4's 5 cities) across many state
    * partitions, and each probe only scans state within ±1 bucket. The right
    * side replicates to ≤2 buckets (width = span), the range predicate stays
    * residual — results are identical, and the watermark still evicts state.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   delay: String, lowerBound: String, upperBound: String): DataFrame = {
    val lo = expr(s"INTERVAL $lowerBound")
    val hi = expr(s"INTERVAL $upperBound")
    val span = graft.operators.IntervalJoin.intervalMicros(upperBound) -
      graft.operators.IntervalJoin.intervalMicros(lowerBound)
    require(span >= 0, s"upperBound $upperBound must be >= lowerBound $lowerBound")
    val width = math.max(span, 1L)
    def bucket(c: Column): Column = floor(unix_micros(c) / width)

    val l = left.withColumn(leftTs, col(leftTs).cast("timestamp")).withWatermark(leftTs, delay)
      .withColumn("__ij_bucket", bucket(col(leftTs)))
    val r = right.withColumn(rightTs, col(rightTs).cast("timestamp")).withWatermark(rightTs, delay)
      .withColumn("__ij_bucket", explode(sequence(bucket(col(rightTs) + lo), bucket(col(rightTs) + hi))))
    l.join(r,
        l(leftKey) === r(rightKey) && l("__ij_bucket") === r("__ij_bucket") &&
          l(leftTs) >= r(rightTs) + lo &&
          l(leftTs) <= r(rightTs) + hi,
        "inner")
      .drop(l("__ij_bucket")).drop(r("__ij_bucket"))
  }

  /** Streaming exact dedup — the continuous twin of
    * [[graft.llmops.Dedup.exact]]: first arrival of each content fingerprint
    * wins, duplicates within the watermark horizon are dropped, and — the
    * scale property — per-key dedup state is EVICTED once the watermark
    * passes (`dropDuplicatesWithinWatermark`), so state is bounded by the
    * dedup horizon, not the full stream history. An unbounded-state
    * `dropDuplicates` would OOM any long-running 100 TB ingest; a bounded
    * horizon matches how streaming pipelines actually define "duplicate"
    * (same content arriving within N minutes/hours — e.g. re-published docs,
    * producer retries).
    */
  def dedupWithinWatermark(df: DataFrame, textCol: String, tsCol: String,
                           delay: String): DataFrame =
    df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withColumn("__fp", graft.functions.Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming twin of [[graft.llmops.Dedup.lineDedup]] (C4-style span dedup)
    * for continuous ingest: each arriving doc explodes into its `chunkWords`
    * pseudo-lines ROW-LOCALLY, and a chunk whose text was already seen within
    * the watermark horizon is dropped — ARRIVAL-first-wins, the streaming
    * analogue of the batch operator's global (doc, position) winner (a stream
    * cannot know a later "smaller" doc id; the horizon bounds the dedup
    * state exactly like [[dedupWithinWatermark]]). Emits the SURVIVING
    * (doc_id, chunk_idx, line, ts) rows append-only; reassembly is the
    * consumer's concern (a batch compaction or the sink's doc grouping) —
    * a per-doc re-agg inside the stream would need its own watermark window
    * for no semantic gain.
    */
  def lineDedupStream(df: DataFrame, textCol: String, idCol: String, tsCol: String,
                      delay: String, chunkWords: Int = 20): DataFrame = {
    val n = chunkWords
    val toks = df.select(col(idCol).as("doc_id"), col(tsCol).cast("timestamp").as("ts"),
      graft.functions.Text.tokens(coalesce(col(textCol), lit(""))).as("__t"))
    toks.select(col("doc_id"), col("ts"),
        posexplode(transform(
          sequence(lit(0), greatest(ceil(size(col("__t")) / lit(n.toDouble)).cast("int") - 1, lit(0))),
          i => concat_ws(" ", slice(col("__t"), i * n + 1, lit(n))))).as(Seq("chunk_idx", "line")))
      .withColumn("__h", xxhash64(col("line")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
  }

  /** Stream-static enrichment (J1): the reference's customers/products dims are
    * near-static, so a stream-static broadcast join is both faithful and
    * state-free (SURVEY.md §7.4 item 2) — no TTL bookkeeping at all.
    */
  def enrich(stream: DataFrame, dims: Seq[(DataFrame, String)]): DataFrame =
    dims.foldLeft(stream) { case (acc, (dim, key)) => acc.join(broadcast(dim), key) }

  /** Upsert sink (PRIMARY KEY NOT ENFORCED semantics, LAB3-Walkthrough.md:453-456):
    * foreachBatch merge keeping the last row per key by `orderCol`. The parquet
    * rewrite implementation suits modest sink cardinality (the reference's sink
    * tables are per-zone / per-claim summaries); at scale back this with Delta
    * MERGE or a compacted Kafka topic keyed on the PK.
    */
  def upsertParquet(df: DataFrame, path: String, keyCols: Seq[String], orderCol: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("update").foreachBatch { (batch: DataFrame, batchId: Long) =>
      upsertBatch(batch, path, keyCols, orderCol, batchId)
    }

  /** One upsert micro-batch (the foreachBatch body; separated so crash
    * recovery is testable).
    *
    * Write-aside + swap: writing directly over `path` while the merge still
    * reads from it would corrupt the sink if any cached block were recomputed
    * mid-overwrite. Swap order is crash-safe: current → backup, staging →
    * current, drop backup — AND the batch first RECOVERS from a previous
    * crash: if `path` is missing but a backup exists, the crash happened
    * between the two renames, so the backup (the full sink history) is
    * restored before merging; deleting it blindly would discard every prior
    * upsert on the checkpoint retry. Rename results are checked so a failed
    * swap fails the batch and the checkpoint retries.
    */
  private[graft] def upsertBatch(batch: DataFrame, path: String, keyCols: Seq[String],
                                 orderCol: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(s"${path}__backup")
    // crash recovery: a missing current + surviving backup = interrupted swap
    if (!fs.exists(cur) && fs.exists(bak) && !fs.rename(bak, cur))
      sys.error(s"upsertParquet: failed to restore $bak after an interrupted swap")

    // "sink absent" is decided by an existence check, NOT by catching read
    // errors — a transient read failure on an existing sink must fail the
    // batch (checkpoint retries) rather than silently restart history
    val existing = if (fs.exists(cur)) Some(spark.read.parquet(path)) else None
    val all = existing.map(_.unionByName(batch)).getOrElse(batch)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc)
    val merged = all.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    val tmp = s"${path}__staging_$batchId"
    merged.write.mode("overwrite").parquet(tmp)
    val stg = new org.apache.hadoop.fs.Path(tmp)
    fs.delete(bak, true) // stale backup from an ALREADY-RECOVERED crash only
    val hadCurrent = fs.exists(cur)
    if (hadCurrent && !fs.rename(cur, bak))
      sys.error(s"upsertParquet: failed to move $cur aside to $bak")
    if (!fs.rename(stg, cur)) {
      if (hadCurrent) fs.rename(bak, cur) // restore; ignore result, original error wins
      sys.error(s"upsertParquet: failed to move staging $stg into place at $cur")
    }
    fs.delete(bak, true)
    ()
  }
}

/** Kafka source/sink facades (S1/S2). The connector jar
  * (spark-sql-kafka-0-10) ships on real clusters but not in this container, so
  * these build the plans by format name — compile-safe here, runtime-complete
  * there. Payload serde is pluggable: JSON works out of the box; Confluent
  * Avro wire format (magic byte 0x00 + 4-byte schema id + Avro body —
  * reference: scripts/publish_lab3_data.py:96-122) is framed/unframed here
  * with the body left to spark-avro's from_avro/to_avro on the cluster.
  */
object KafkaIO {

  def source(spark: SparkSession, bootstrap: String, topic: String,
             startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  def sink(df: DataFrame, bootstrap: String, topic: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Microsecond-preserving timestamp formats: Spark's to_json default
    * renders millis only, silently truncating round-trips.
    */
  private val serdeOptions = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** JSON value serde: parse a Kafka `value` column into typed columns. */
  def fromJsonValue(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(from_json(col("value").cast("string"), schema, serdeOptions).as("r")).select("r.*")

  def toJsonValue(df: DataFrame, keyCol: Option[String]): DataFrame = {
    val value = to_json(struct(df.columns.map(col): _*), serdeOptions).as("value")
    keyCol match {
      case Some(k) => df.select(col(k).cast("string").as("key"), value)
      case None    => df.select(value)
    }
  }

  /** Snapshot of a compacted keyed topic — the read side of the reference's
    * `PRIMARY KEY … NOT ENFORCED` upsert sinks (LAB3-Walkthrough.md:453-456;
    * LAB4-Walkthrough.md:399-402), whose physical form on Confluent is a
    * compacted Kafka topic keyed on the PK. Kafka's own log compaction only
    * promises *eventual* removal of overwritten records, so a
    * seek-to-earliest consumer must apply these semantics itself: the
    * highest-`offsetCol` record per key wins, and a null value (tombstone)
    * deletes the key. Scanning a compacted topic through this reproduces
    * exactly the table state the upsert sink maintains
    * ([[StreamingOps.upsertParquet]]'s last-write-wins per PK).
    *
    * One shuffle on the key; `max_by` partial-aggregates map-side, so the
    * reduce moves one record per (partition, key), not the log.
    */
  def compactedSnapshot(records: DataFrame, keyCol: String = "key",
                        valueCol: String = "value", offsetCol: String = "offset"): DataFrame =
    records
      .groupBy(col(keyCol))
      .agg(max_by(struct(col(offsetCol), col(valueCol)), col(offsetCol)).as("__last"))
      .filter(col("__last")(valueCol).isNotNull) // tombstoned keys are gone
      .select(col(keyCol), col("__last")(valueCol).as(valueCol))

  /** Confluent wire-format framing: 0x00 magic + big-endian schema id + body. */
  def confluentFrame(schemaId: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + body.length)
    out(0) = 0
    out(1) = ((schemaId >> 24) & 0xff).toByte
    out(2) = ((schemaId >> 16) & 0xff).toByte
    out(3) = ((schemaId >> 8) & 0xff).toByte
    out(4) = (schemaId & 0xff).toByte
    System.arraycopy(body, 0, out, 5, body.length)
    out
  }

  def confluentUnframe(bytes: Array[Byte]): (Int, Array[Byte]) = {
    require(bytes.length >= 5 && bytes(0) == 0, "not Confluent wire format")
    val id = ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) | ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
    (id, java.util.Arrays.copyOfRange(bytes, 5, bytes.length))
  }
}
