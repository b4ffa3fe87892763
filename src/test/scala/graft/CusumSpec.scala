package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.anomaly.{AnomalyDetector, Cusum}

class CusumSpec extends SparkSpec {

  /** Deterministic pseudo-noise in [-1, 1], sd ~0.58 — no RNG state. */
  private def noise(i: Int): Double = math.sin(i * 12.9898) // bounded, mean ~0

  private def series(shiftAt: Int, shiftSigma: Double, n: Int = 200): Seq[Double] =
    (0 until n).map(i => 10.0 + noise(i) * 0.6 + (if (i >= shiftAt) shiftSigma * 0.6 else 0.0))

  private def toDf(vals: Seq[Double]) = {
    import spark.implicits._
    vals.zipWithIndex.map { case (v, i) =>
      ("k", new Timestamp(1700000000000L + i * 60000L), i.toLong, v)
    }.toDF("key", "ts", "tie", "v")
  }

  test("the defining fixture: a small persistent shift CUSUM catches and the 99.9% band never flags") {
    // noise sd ~0.42, bounded at ±0.6; shift 0.83 (~1.2 sigma): the largest
    // possible single-point deviation is (0.5+0.6)/0.42 = 2.6 sigma — BELOW
    // the 99.9% band's z=3.29 by construction, so the band detector provably
    // cannot flag, while CUSUM accumulates ~0.7/step and must
    val vals = series(shiftAt = 100, shiftSigma = 0.83)
    val cfg = Cusum.Config(warmup = 50, k = 0.5, h = 5.0)
    val out = Cusum.detectBatch(toDf(vals), col("v"), Seq(col("key")), Seq(col("tie")), cfg)
      .orderBy("tie").select("tie", "is_changepoint")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val alarms = out.filter(_._2).map(_._1)
    assert(alarms.nonEmpty && alarms.head >= 100 && alarms.head <= 125,
      s"shift at 100 must alarm within ~25 points, got ${alarms.take(3).mkString(",")}")
    assert(!out.takeWhile(_._1 < 100).exists(_._2), "no false alarm before the shift")

    val band = AnomalyDetector.detectBatch(toDf(vals), col("v"), Seq(col("key")),
      Seq(col("tie")), AnomalyDetector.Config(50, 50, 99.9))
      .filter(col("is_anomaly")).count()
    assert(band == 0, s"the band detector should miss a small persistent shift, flagged $band")
  }

  test("stationary noise never alarms; downward shifts trip the negative sum") {
    val cfg = Cusum.Config(warmup = 50, k = 0.5, h = 5.0)
    val flat = Cusum.detectBatch(toDf(series(shiftAt = 10000, shiftSigma = 0.0, n = 400)),
      col("v"), Seq(col("key")), Seq(col("tie")), cfg)
    assert(flat.filter(col("is_changepoint")).count() == 0)

    val down = Cusum.detectBatch(toDf(series(shiftAt = 100, shiftSigma = -2.0)),
      col("v"), Seq(col("key")), Seq(col("tie")), cfg)
      .filter(col("is_changepoint")).orderBy("tie").select("tie", "s_neg").head()
    assert(down.getLong(0) >= 100 && down.getDouble(1) > 5.0)
  }

  test("a NaN observation is skipped, never poisons state — a later shift still alarms") {
    val cfg = Cusum.Config(warmup = 50, k = 0.5, h = 5.0)
    val vals = series(shiftAt = 100, shiftSigma = 2.0).updated(70, Double.NaN).updated(30, Double.NaN)
    val out = Cusum.detectBatch(toDf(vals), col("v"), Seq(col("key")), Seq(col("tie")), cfg)
      .filter(col("is_changepoint")).orderBy("tie").select("tie")
      .collect().map(_.getLong(0))
    assert(out.nonEmpty && out.head >= 100 && out.head <= 120,
      s"NaN mid-warmup and mid-run must not disable detection, alarms=${out.take(3).mkString(",")}")
  }
}
