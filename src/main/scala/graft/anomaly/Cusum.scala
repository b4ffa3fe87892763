package graft.anomaly

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CUSUM changepoint detection (Page 1954) — the mean-SHIFT member of the
  * anomaly family. The band detectors ([[AnomalyDetector]]: zband/AR/STL/
  * ARIMA) flag individual points outside a forecast band; CUSUM accumulates
  * small persistent deviations until their SUM is undeniable, so it catches
  * a 1.5σ level shift a 99% band never trips on — the "traffic quietly
  * degraded 20%" class of incident.
  *
  * Math (standardized two-sided form): baseline (μ₀, σ) is frozen from the
  * first `warmup` points per key; each later point's z = (x−μ₀)/σ feeds
  *   S⁺ = max(0, S⁺ + z − k)   S⁻ = max(0, S⁻ − z − k)
  * and a changepoint fires when either exceeds `h` (then both reset — the
  * restart convention, so repeated shifts re-alarm). Defaults k=0.5 (tuned
  * to detect ≥1σ shifts), h=5 (ARL₀ ≈ 10⁴ points under H₀).
  *
  * One `step()` drives the batch sequential path. State is O(1) per key
  * (six doubles); the batch path is one key shuffle + in-partition sort,
  * keys streamed through each task one after another.
  */
object Cusum {

  case class Config(warmup: Int = 20, k: Double = 0.5, h: Double = 5.0) {
    require(warmup >= 2, s"warmup must be >= 2 (a stddev needs it), got $warmup")
    require(k >= 0, s"drift k must be >= 0, got $k")
    require(h > 0, s"decision threshold h must be > 0, got $h")
  }

  /** (n, sum, sumSq) while warming; (mu, sd) frozen after; running S⁺/S⁻. */
  case class State(n: Long, sum: Double, sumSq: Double,
                   mu: Double, sd: Double, sPos: Double, sNeg: Double)
  val Empty: State = State(0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)

  /** One online step: returns (state', sPos, sNeg, changepoint, warm). Warmup
    * points accumulate the baseline and emit (0, 0, false, false); the
    * baseline freezes at exactly `warmup` points (sample sd, /(n−1) — the
    * family's convention); a degenerate sd (constant warmup) emits alarms on
    * ANY deviation via the sd=0 guard (z = ±∞ clamps through max()).
    */
  private[graft] def step(st: State, v: Double, cfg: Config): (State, Double, Double, Boolean, Boolean) = {
    // a NaN observation must not poison the recurrences (max(0, NaN) = NaN
    // would stick forever and silently disable the key): skip it entirely —
    // no state change, no alarm, sums reported as they stand
    if (v.isNaN) (st, st.sPos, st.sNeg, false, st.n >= cfg.warmup)
    else if (st.n < cfg.warmup) {
      val n1 = st.n + 1
      val s1 = st.sum + v
      val q1 = st.sumSq + v * v
      val next =
        if (n1 == cfg.warmup) {
          val mu = s1 / n1
          val variance = math.max((q1 - s1 * s1 / n1) / (n1 - 1), 0.0)
          State(n1, s1, q1, mu, math.sqrt(variance), 0.0, 0.0)
        } else State(n1, s1, q1, 0.0, 0.0, 0.0, 0.0)
      (next, 0.0, 0.0, false, false)
    } else {
      val z = if (st.sd > 0) (v - st.mu) / st.sd
              else if (v == st.mu) 0.0
              else if (v > st.mu) Double.PositiveInfinity else Double.NegativeInfinity
      val sPos = math.max(0.0, st.sPos + z - cfg.k)
      val sNeg = math.max(0.0, st.sNeg - z - cfg.k)
      val alarm = sPos > cfg.h || sNeg > cfg.h
      val next = if (alarm) st.copy(sPos = 0.0, sNeg = 0.0)
                 else st.copy(sPos = sPos, sNeg = sNeg)
      (next, sPos, sNeg, alarm, true)
    }
  }

  /** Batch detection: adds `s_pos`, `s_neg`, `is_changepoint`, `warm`.
    * `orderCols` must totally order each key's series (tie-break included).
    */
  def detectBatch(df: DataFrame, valueCol: Column, partitionCols: Seq[Column],
                  orderCols: Seq[Column], cfg: Config): DataFrame = {
    graft.core.KeyImage.requireAtomic(df, partitionCols)
    val pre = df
      .withColumn("__v", valueCol.cast("double"))
      // collision-free length-prefixed key image (a separator encoding can
      // merge two crafted keys - state would never reset between their series)
      .withColumn("__key", graft.core.KeyImage.of(partitionCols))
      .repartition(partitionCols: _*)
      .sortWithinPartitions(col("__key") +: orderCols: _*)
    val outSchema = StructType(pre.schema.fields ++ Seq(
      StructField("s_pos", DoubleType), StructField("s_neg", DoubleType),
      StructField("is_changepoint", BooleanType), StructField("warm", BooleanType)))
    val vIdx = pre.schema.fieldIndex("__v")
    val keyIdx = pre.schema.fieldIndex("__key")
    pre.mapPartitions { it =>
      var curKey: String = null
      var st = Empty
      it.map { r =>
        val key = r.getString(keyIdx)
        if (key != curKey) { curKey = key; st = Empty }
        val out =
          if (r.isNullAt(vIdx)) Seq(null, null, null, Boolean.box(st.n >= cfg.warmup))
          else {
            val (next, sPos, sNeg, alarm, warm) = step(st, r.getDouble(vIdx), cfg)
            st = next
            Seq(Double.box(sPos), Double.box(sNeg), Boolean.box(alarm), Boolean.box(warm))
          }
        Row.fromSeq(r.toSeq ++ out)
      }
    }(Encoders.row(outSchema))
      .drop("__v", "__key")
  }
}
