package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

import graft.anomaly.AnomalyDetector

/** Streaming ML_DETECT_ANOMALIES (W2/M2 — the reference's
  * `... OVER (PARTITION BY key ORDER BY window_time RANGE UNBOUNDED PRECEDING)`
  * at LAB3-Walkthrough.md:128-132): per-key, event-time-ordered running
  * detection, one output row per input row.
  *
  * Spark has no streaming OVER window; this is the custom stateful operator
  * (SURVEY.md §7.3) built on flatMapGroupsWithState:
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
  *     minTrainingSize, then forecast/upper/lower/is_anomaly.
  *
  * State scales O(keys × maxTrainingSize) — at 1000 executors this partitions
  * by key hash like any keyed state; no driver involvement.
  */
object StreamingAnomaly {

  case class Point(key: String, ts: Timestamp, value: Double)
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
                  lateRows: Option[LongAccumulator] = None): Dataset[DetectionP] = {
    implicit val pointEnc = Encoders.product[PointP]
    implicit val detEnc = Encoders.product[DetectionP]
    implicit val stateEnc = Encoders.product[BufferState]
    implicit val keyEnc = Encoders.STRING

    val points = df.select(
      keyExpr.cast("string").as("key"),
      tsExpr.cast("timestamp").as("ts"),
      valueExpr.cast("double").as("value"),
      payloadExpr.cast("string").as("payload")).as[PointP]

    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[BufferState, DetectionP](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[PointP], state: GroupState[BufferState]) =>
          var buf = state.getOption.map(_.values).getOrElse(Nil)
          var lastTs = state.getOption.map(_.lastTsMicros).getOrElse(Long.MinValue)
          var period = state.getOption.map(_.period).getOrElse(0)
          val (late, inOrder) = rows.toSeq.sortBy(p => StreamingOps.tsMicros(p.ts))
            .partition(p => StreamingOps.tsMicros(p.ts) < lastTs)
          if (late.nonEmpty) lateRows.foreach(_.add(late.size.toLong))
          val out = inOrder.map { p =>
            // forecast math lives in AnomalyDetector.step — one copy shared
            // with the batch sequential path and the pure-Scala twin, so
            // batch ≡ streaming holds for every forecast option (zband, ar,
            // stl incl. auto-period: advancePeriod folds the same time-ordered
            // sequence here and in detectBatchSeq)
            val st = AnomalyDetector.advancePeriod(lastTs, period, StreamingOps.tsMicros(p.ts), cfg)
            lastTs = st._1; period = st._2
            val (f, hi, lo, anom) = AnomalyDetector.step(buf, p.value, cfg, period)
            val det = DetectionP(key, p.ts, p.value, p.payload, f, hi, lo, anom)
            buf = (buf :+ p.value).takeRight(cfg.maxTrainingSize)
            det
          }
          state.update(BufferState(buf, lastTs, period))
          out.iterator
      }
  }
}
