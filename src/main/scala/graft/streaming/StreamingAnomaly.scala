package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.util.LongAccumulator

import graft.anomaly.AnomalyDetector

/** Streaming ML_DETECT_ANOMALIES (W2/M2 — the reference's
  * `... OVER (PARTITION BY key ORDER BY window_time RANGE UNBOUNDED PRECEDING)`
  * at LAB3-Walkthrough.md:128-132): per-key, event-time-ordered running
  * detection, one output row per input row.
  *
  * Spark has no streaming OVER window; this is the custom stateful operator
  * (SURVEY.md §7.3) built on transformWithState ([[Detector]]):
  *   - state = ring buffer of ≤ maxTrainingSize recent values per key — the
  *     reference's own state bound ("prevents memory issues",
  *     LAB4-Walkthrough.md:188);
  *   - rows within a trigger batch are processed in event-time order; a row
  *     strictly older than its key's frontier (the last folded row's ts,
  *     `BufferState.lastTsMicros`) arrived behind it in a later trigger and
  *     is DROPPED, leaving buffer, forecast and period untouched — Flink's
  *     rule for rows behind the watermark, and StreamingMatchRecognize's.
  *     `lateRows` counts the drops;
  *   - emits exactly the batch detector's contract: nulls until
  *     minTrainingSize, then forecast/upper/lower/is_anomaly;
  *   - a `ttl` (the standing stage passes `sql.state-ttl`) evicts a key
  *     whose newest row falls more than the TTL behind the watermark, by
  *     StreamingMatchRecognize's rule ([[StreamingOps.resetTtlTimer]]),
  *     against the input's own watermark when it carries one (the TUMBLE
  *     stage upstream); the key's next row starts fresh training, as a
  *     first-ever row would.
  *
  * State scales O(keys × maxTrainingSize) — at 1000 executors this partitions
  * by key hash like any keyed state; no driver involvement.
  */
object StreamingAnomaly {

  case class PointP(key: String, ts: Timestamp, value: Double, payload: String)
  case class Detection(key: String, ts: Timestamp, value: Double,
                       forecast_value: Option[Double], upper_bound: Option[Double],
                       lower_bound: Option[Double], is_anomaly: Boolean)
  case class DetectionP(key: String, ts: Timestamp, value: Double, payload: String,
                        forecast_value: Option[Double], upper_bound: Option[Double],
                        lower_bound: Option[Double], is_anomaly: Boolean)
  /** Ring buffer plus the auto-STL period tracker (lastTsMicros/period are
    * inert unless the config is `enableStl` with `seasonalPeriod = 0` — see
    * AnomalyDetector.advancePeriod).
    */
  case class BufferState(values: List[Double],
                         lastTsMicros: Long = Long.MinValue,
                         period: Int = 0)

  // built once per JVM: Detector.init runs per task, and deriving a product
  // encoder by Scala reflection there cost more than the fold itself
  private lazy val bufferStateEnc = Encoders.product[BufferState]

  def apply(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
            cfg: AnomalyDetector.Config): Dataset[Detection] = {
    implicit val detEnc = Encoders.product[Detection]
    withPayload(df, col(keyCol), col(tsCol), col(valueCol), lit(""), cfg)
      .map(d => Detection(d.key, d.ts, d.value,
        d.forecast_value, d.upper_bound, d.lower_bound, d.is_anomaly))
  }

  /** Same detector, carrying an opaque per-row `payload` through the stateful
    * operator untouched — the SQL front-end packs the input row as JSON here
    * so a standing `SELECT …, ML_DETECT_ANOMALIES(…) OVER …` keeps its
    * passthrough columns (a JSON round-trip per WINDOWED row, not per event —
    * the stage's input is already the tumbled aggregate stream).
    */
  def withPayload(df: DataFrame, keyExpr: Column, tsExpr: Column, valueExpr: Column,
                  payloadExpr: Column, cfg: AnomalyDetector.Config,
                  lateRows: Option[LongAccumulator] = None,
                  ttl: Option[StreamingOps.StateTtl] = None): Dataset[DetectionP] = {
    require(df.isStreaming, "StreamingAnomaly runs on a streaming input; a static frame " +
      "runs through AnomalyDetector.detectBatch")
    implicit val pointEnc = Encoders.product[PointP]
    implicit val detEnc = Encoders.product[DetectionP]
    implicit val keyEnc = Encoders.STRING

    val points = df.select(
      keyExpr.cast("string").as("key"),
      tsExpr.cast("timestamp").as("ts"),
      valueExpr.cast("double").as("value"),
      payloadExpr.cast("string").as("payload"))
    StreamingOps.withTtlWatermark(points, "ts", ttl).as[PointP]
      .groupByKey(_.key)
      .transformWithState(new Detector(cfg, lateRows, ttl),
        StreamingOps.ttlTimeMode(ttl), OutputMode.Append())
  }

  /** The per-key fold: one [[BufferState]] per key, one eviction timer when
    * a TTL is set.
    */
  private class Detector(cfg: AnomalyDetector.Config, lateRows: Option[LongAccumulator],
                         ttl: Option[StreamingOps.StateTtl])
      extends StatefulProcessor[String, PointP, DetectionP] {
    @transient private var st: ValueState[BufferState] = _

    // TTL rides an explicit event-time timer (TTLConfig's own expiry is
    // processing-time)
    override def init(om: OutputMode, tm: TimeMode): Unit =
      st = getHandle.getValueState[BufferState]("anombuf", bufferStateEnc, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[PointP],
                                 tv: TimerValues): Iterator[DetectionP] = {
      val prev = Option(st.get())
      var buf = prev.map(_.values).getOrElse(Nil)
      var lastTs = prev.map(_.lastTsMicros).getOrElse(Long.MinValue)
      var period = prev.map(_.period).getOrElse(0)
      val (late, inOrder) = rows.toSeq.sortBy(p => StreamingOps.tsMicros(p.ts))
        .partition(p => StreamingOps.tsMicros(p.ts) < lastTs)
      if (late.nonEmpty) lateRows.foreach(_.add(late.size.toLong))
      val out = inOrder.map { p =>
        // forecast math lives in AnomalyDetector.step — one copy shared
        // with the batch sequential path and the pure-Scala twin, so
        // batch ≡ streaming holds for every forecast option (zband, ar,
        // stl incl. auto-period: advancePeriod folds the same time-ordered
        // sequence here and in detectBatchSeq)
        val next = AnomalyDetector.advancePeriod(lastTs, period, StreamingOps.tsMicros(p.ts), cfg)
        lastTs = next._1; period = next._2
        val (f, hi, lo, anom) = AnomalyDetector.step(buf, p.value, cfg, period)
        val det = DetectionP(key, p.ts, p.value, p.payload, f, hi, lo, anom)
        buf = (buf :+ p.value).takeRight(cfg.maxTrainingSize)
        det
      }
      st.update(BufferState(buf, lastTs, period))
      if (inOrder.nonEmpty) StreamingOps.resetTtlTimer(getHandle, ttl, lastTs, tv)
      out.iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[DetectionP] = {
      st.clear()
      Iterator.empty
    }
  }
}
