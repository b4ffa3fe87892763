package graft.anomaly

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML_DETECT_ANOMALIES (reference: LAB3-Walkthrough.md:119-132,
  * LAB4-Walkthrough.md:150-163,185-190) re-expressed Spark-first.
  *
  * Behavioral contract reproduced from the reference:
  *   - per-key, event-time-ordered history capped at `maxTrainingSize`;
  *   - no detection until `minTrainingSize` history rows exist (warm-up);
  *   - output struct (forecast_value, upper_bound, lower_bound, is_anomaly);
  *   - `is_anomaly` ⇔ value outside [lower, upper];
  *   - band width driven by `confidencePercentage`.
  *
  * Forecast model: trailing-history mean with a symmetric z·stddev confidence
  * band (the reference's ARIMA engine is closed; the contract above is what its
  * labs rely on — warm-up gating, band, surge-above-upper filter).
  *
  * Batch integration below is pure window functions (avg/stddev_samp/count over
  * a rows-frame) — fully codegen'd, one shuffle on the partition keys, and
  * oracle-checkable against identical SQL in DuckDB.
  */
object AnomalyDetector {

  /** `enableStl` mirrors the reference's `'enableStl' = FALSE` config key
    * (LAB4-Walkthrough.md:185-190) — seasonal decomposition ahead of the
    * forecaster. Every observed reference call sets it FALSE; when TRUE here,
    * the trailing history is decomposed with a classical additive
    * seasonal-trend split ([[StlLite]]) and the residual is forecast by the
    * configured `forecast` model, with the next seasonal component added back.
    * The closed reference engine infers the period from the timestamps; this
    * engine takes it explicitly — `seasonalPeriod` must be ≥ 2 when
    * enableStl=TRUE (rejected fast and loudly otherwise, never silently
    * ignored).
    *
    * `forecast` selects the forecaster behind the shared contract (the
    * reference cites "ARIMA time-series forecasting", LAB4-Walkthrough.md:185;
    * its engine is closed):
    *   - "zband" (default): trailing-history mean, symmetric z·stddev band —
    *     the contract-faithful baseline, SQL-window expressible, oracle-backed;
    *   - "ar": AR(`arOrder`) with intercept, OLS-fit on the trailing history
    *     per step; band = forecast ± z · residual stddev. Tracks trends and
    *     (with arOrder ≥ period) seasonality a mean cannot, at the cost of a
    *     per-step fit. Falls back to the mean/stddev band while the history is
    *     too short to fit or the fit is singular (constant series);
    *   - "arima": ARIMA(arOrder, dOrder, 0) — the reference names ARIMA
    *     outright (LAB4-Walkthrough.md:185). `dOrder = 1` (default) first
    *     differences the history, fits AR(p) in differenced space, and
    *     integrates the one-step forecast back (forecast = last + Δ̂); the
    *     band stddev is the differenced-space residual sd, which IS the
    *     integrated one-step error sd (integration adds a known constant).
    *     This is the correct model for genuinely integrated series (random
    *     walks), where a plain AR fit's small-sample coefficient bias pulls
    *     forecasts toward the window mean and flags ordinary steps.
    */
  case class Config(minTrainingSize: Int, maxTrainingSize: Int, confidencePercentage: Double,
                    enableStl: Boolean = false, forecast: String = "zband", arOrder: Int = 3,
                    seasonalPeriod: Int = 0, dOrder: Int = 1) {
    require(minTrainingSize >= 2, "need >=2 history rows for a stddev")
    require(!enableStl || seasonalPeriod >= 2 || seasonalPeriod == 0,
      "enableStl=TRUE needs seasonalPeriod >= 2, or 0 for auto-inference from the series cadence (the reference's closed engine infers it from timestamps, LAB4-Walkthrough.md:185-190)")
    require(forecast == "zband" || forecast == "ar" || forecast == "arima",
      s"forecast must be 'zband', 'ar' or 'arima', got '$forecast'")
    require(arOrder >= 1 && arOrder <= 32, s"arOrder out of range: $arOrder")
    require(dOrder == 0 || dOrder == 1, s"dOrder must be 0 or 1, got $dOrder")
    val z: Double = Gaussian.invCdf(0.5 + confidencePercentage / 200.0)
  }

  /** One-step forecast over a time-ordered trailing history (oldest →
    * newest): (point forecast, band stddev). The zband math is kept exactly
    * as the original inline formulation (left-to-right List sum, /(n-1)
    * sample variance) so the streaming twins remain bit-identical with the
    * batch oracle.
    */
  private[graft] def forecastPoint(buf: List[Double], cfg: Config,
                                   inferredPeriod: Int = 0): (Double, Double) = {
    val period = if (cfg.seasonalPeriod > 0) cfg.seasonalPeriod else inferredPeriod
    if (cfg.enableStl && period >= 2)
      StlLite.fit(buf.toArray, period, cfg).getOrElse(inner(buf, cfg))
    else inner(buf, cfg)
  }

  /** seasonalPeriod = 0 with enableStl means AUTO: infer the period from the
    * series cadence the way the reference's closed engine does "from
    * timestamps" (LAB4-Walkthrough.md:185-190). The input to
    * ML_DETECT_ANOMALIES is always a windowed series, so the cadence is the
    * window width; the natural season of an intra-day cadence is the day
    * (hourly → 24, 5-min → 288, 6-h → 4) and of a daily-or-coarser cadence
    * the week (daily → 7). Returns 0 when the delta divides neither — the
    * caller keeps trying subsequent deltas and STL stays off (inner
    * forecaster only) until one resolves.
    */
  def inferPeriod(deltaMicros: Long): Int = {
    val day = 86400000000L
    val week = 7L * day
    if (deltaMicros <= 0) 0
    else if (day % deltaMicros == 0 && day / deltaMicros >= 2) (day / deltaMicros).toInt
    else if (week % deltaMicros == 0 && week / deltaMicros >= 2) (week / deltaMicros).toInt
    else 0
  }

  /** Shared auto-period tracker for the batch-sequential and streaming paths:
    * fold each row's event-time micros through (lastTsMicros, period) state.
    * No-op unless the config is in auto mode and the period is unresolved.
    * Both paths fold the same time-ordered sequence, so the inferred period —
    * and therefore every detection — stays bit-identical batch ≡ streaming.
    */
  private[graft] def advancePeriod(lastTsMicros: Long, period: Int, tsMicros: Long,
                                   cfg: Config): (Long, Int) =
    if (!cfg.enableStl || cfg.seasonalPeriod != 0 || period > 0) (tsMicros, period)
    else if (lastTsMicros == Long.MinValue) (tsMicros, 0)
    else (tsMicros, inferPeriod(tsMicros - lastTsMicros))

  private def inner(buf: List[Double], cfg: Config): (Double, Double) =
    cfg.forecast match {
      case "ar" =>
        ArForecaster.fit(buf.toArray, cfg.arOrder).getOrElse(meanSd(buf))
      case "arima" =>
        ArimaForecaster.fit(buf.toArray, cfg.arOrder, cfg.dOrder).getOrElse(meanSd(buf))
      case _ => meanSd(buf)
    }

  private def meanSd(buf: List[Double]): (Double, Double) = {
    val n = buf.size
    val mean = buf.sum / n
    val variance = buf.map(x => (x - mean) * (x - mean)).sum / (n - 1)
    (mean, math.sqrt(variance))
  }

  /** The single online detection step shared by the batch sequential path,
    * both streaming operators, and the pure-Scala twin: given the trailing
    * history and the incoming value, emit (forecast, upper, lower, isAnomaly)
    * — or warm-up nulls while history < minTrainingSize.
    */
  private[graft] def step(buf: List[Double], v: Double, cfg: Config,
                          inferredPeriod: Int = 0)
  : (Option[Double], Option[Double], Option[Double], Boolean) =
    if (buf.size >= cfg.minTrainingSize) {
      val (f, sd) = forecastPoint(buf, cfg, inferredPeriod)
      val (lo, hi) = (f - cfg.z * sd, f + cfg.z * sd)
      (Some(f), Some(hi), Some(lo), v > hi || v < lo)
    } else (None, None, None, false)

  /** Batch (bounded) detection: adds forecast_value, upper_bound, lower_bound,
    * is_anomaly columns. `orderCols` must be a deterministic total order within
    * each key (add a row id as tie-break if the timestamp can repeat).
    *
    * zband routes to pure window functions (codegen'd, oracle-exact vs DuckDB);
    * ar has no SQL-window formulation (a model fit per row), so it routes to
    * [[detectBatchSeq]] — same shuffle count (one, on the keys), same output.
    */
  def detectBatch(df: DataFrame, valueCol: Column, partitionCols: Seq[Column],
                  orderCols: Seq[Column], cfg: Config): DataFrame =
    if (cfg.forecast == "zband" && !cfg.enableStl)
      detectBatchWindow(df, valueCol, partitionCols, orderCols, cfg)
    else detectBatchSeq(df, valueCol, partitionCols, orderCols, cfg)

  private def detectBatchWindow(df: DataFrame, valueCol: Column, partitionCols: Seq[Column],
                                orderCols: Seq[Column], cfg: Config): DataFrame = {
    val v = valueCol.cast("double")
    // Sliding-frame sums as DIFFERENCES of two growing-frame cumulative sums
    // (round 7): Spark's WindowExec re-aggregates a [-max, -1] ROWS frame
    // from scratch on every row (rows leave the frame and sum has no
    // retraction), so the digit-string decimal chain below ran
    // O(rows × frame) times — 12 s of lab3's sf1 surge stage against 0.6 s
    // for everything else. UNBOUNDED PRECEDING frames update incrementally
    // (O(1)/row), and because decimal arithmetic is EXACT within precision,
    // cum(-1) − cum(-max-1) equals the direct frame sum bit-for-bit — the
    // digit-string re-entry to double sees the identical value (q08/q09's
    // DuckDB oracles, which keep the direct-frame formulation, stay
    // hash-green). NULL nuance: a non-empty frame of all-NULL values yields
    // NULL directly but 0 via subtraction — only possible when n = 0, where
    // the warm gate already nulls every output, so the published columns are
    // identical.
    val cumA = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumB = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -(cfg.maxTrainingSize + 1L))
    // mean/stddev from decimal-exact sums (order-independent, bit-reproducible
    // across engines) rather than a streaming estimator like stddev_samp whose
    // float result depends on accumulation order.
    // digit-string entry/exit around the decimals (Scalars.digitDecimalSum
    // rationale): direct double<->decimal casts are engine-specific at the
    // last ulp, and v*v is a computed double
    // element precision 27, NOT 38: the window sum widens to p+10 = 37 and
    // the subtraction to 38 — still within Spark's cap, so the SCALE
    // survives. At p = 38 elements the capped subtraction silently became
    // DECIMAL(38,7), rounding s2 at the 8th decimal (caught by the
    // fractional-fixture equivalence spec; invisible on integer series).
    // 19 integer digits of headroom remain for v² (money squares ≈ 1e8).
    //
    // The SIX primitive window aggregates are materialized ONCE as columns
    // (r16 optimization round, guide §2.4/§7.2): Catalyst does not CSE
    // duplicate window expressions — with the aggregates inlined into each
    // published column, the four withColumns expanded to 24 aggregate
    // buffers, and a downstream filter on is_anomaly/upper_bound (every
    // surge pipeline: q08's oracle, lab3/lab4) substituted the full formula
    // and materialized a SECOND Window node with 46 more — ~70 incremental
    // aggregators where 6 suffice (q34 plan nodes (10)+(12), r16 before
    // plans). Binding them through real columns leaves ONE Window node with
    // exactly these 6 expressions; the scalar arithmetic below is what
    // filters now duplicate, which is cheap. Same expressions, same order of
    // operations — bit-identical outputs (q08/q09 oracle-green; the
    // surge-stage twin measured 1.96 → 0.81 s at sf0.1).
    val tmp = Seq("__ad_w1", "__ad_w2",
      "__ad_s1a", "__ad_s1b", "__ad_s2a", "__ad_s2b", "__ad_na", "__ad_nb")
    require(!tmp.exists(df.columns.contains),
      s"detectBatch: input already carries a reserved __ad_* column")
    val Seq(_, _, s1a, s1b, s2a, s2b, na, nb) = tmp.map(col)
    // the cast inputs are bound ONCE and all six aggregates land in one
    // select: per-aggregate derived inputs made ExtractWindowExpressions
    // interleave a Project under each Window, which blocks CollapseWindow —
    // the first cut of this rewrite produced FOUR Window nodes (still 6
    // buffers, but 4 passes); bound inputs + one projection yield ONE
    val w1 = df
      .withColumn("__ad_w1", v.cast("string").cast("decimal(27,6)"))
      .withColumn("__ad_w2", (v * v).cast("string").cast("decimal(27,8)"))
    val mat = w1.select(w1.columns.map(col) ++ Seq(
      sum(col("__ad_w1")).over(cumA).as("__ad_s1a"),
      sum(col("__ad_w1")).over(cumB).as("__ad_s1b"),
      sum(col("__ad_w2")).over(cumA).as("__ad_s2a"),
      sum(col("__ad_w2")).over(cumB).as("__ad_s2b"),
      count(v).over(cumA).as("__ad_na"),
      count(v).over(cumB).as("__ad_nb")): _*)
    val s1 = when(s1b.isNull, s1a).otherwise(s1a - s1b)
      .cast("string").cast("double")
    val s2 = when(s2b.isNull, s2a).otherwise(s2a - s2b)
      .cast("string").cast("double")
    val n = (na - nb).cast("double")
    val forecast = s1 / n
    val sd = sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0)))
    val warm = n >= cfg.minTrainingSize
    val upper = forecast + lit(cfg.z) * sd
    val lower = forecast - lit(cfg.z) * sd
    mat.withColumn("forecast_value", when(warm, forecast))
      .withColumn("upper_bound", when(warm, upper))
      .withColumn("lower_bound", when(warm, lower))
      .withColumn("is_anomaly", when(warm, v > upper || v < lower).otherwise(lit(false)))
      .drop(tmp: _*)
  }

  /** Sequential batch path for forecasters that need a model fit per row
    * (AR): one shuffle partitioning by the keys, a sort within partitions on
    * (key, order), then the shared online [[step]] per row with a ring buffer
    * per key — O(maxTrainingSize) memory per key, no per-key collect, keys
    * stream through each task one after another. The same physical shape
    * transformWithState gives the streaming twin.
    */
  private def detectBatchSeq(df: DataFrame, valueCol: Column, partitionCols: Seq[Column],
                             orderCols: Seq[Column], cfg: Config): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    graft.core.KeyImage.requireAtomic(df, partitionCols)
    val pre = df
      .withColumn("__v", valueCol.cast("double"))
      // null partition values get an explicit sentinel: concat_ws SKIPS nulls,
      // so ("a", null, "b") and ("a", "b", null) would otherwise collide into
      // one key and interleave their series -- the window path partitions on
      // the real columns and keeps them apart (null = its own group)
      // collision-free length-prefixed key image (KeyImage): a separator
      // encoding can merge two crafted keys and interleave their series
      .withColumn("__key", graft.core.KeyImage.of(partitionCols))
      // auto-STL infers the season from the event-time cadence; the order
      // column IS the event time in every ML_DETECT_ANOMALIES use
      .withColumn("__ts", unix_micros(orderCols.head.cast("timestamp")))
      .repartition(partitionCols: _*)
      .sortWithinPartitions(col("__key") +: orderCols: _*)
    val outSchema = StructType(pre.schema.fields ++ Seq(
      StructField("forecast_value", DoubleType), StructField("upper_bound", DoubleType),
      StructField("lower_bound", DoubleType), StructField("is_anomaly", BooleanType)))
    val vIdx = pre.schema.fieldIndex("__v")
    val keyIdx = pre.schema.fieldIndex("__key")
    val tsIdx = pre.schema.fieldIndex("__ts")
    pre.mapPartitions { it =>
      var curKey: String = null
      // trailing frame of the last maxTrainingSize ROWS — a null value
      // OCCUPIES a slot but contributes no history, and a warm null row gets
      // (forecast, bounds, is_anomaly = null): exactly the window path's
      // ROWS-frame + count(v)-skips-nulls + null-comparison semantics, so the
      // forecast option never changes what a null row does
      var slots = List.empty[Option[Double]]
      var lastTs = Long.MinValue
      var period = 0
      it.map { r =>
        val key = r.getString(keyIdx)
        if (key != curKey) { curKey = key; slots = Nil; lastTs = Long.MinValue; period = 0 }
        if (!r.isNullAt(tsIdx)) {
          val st = advancePeriod(lastTs, period, r.getLong(tsIdx), cfg)
          lastTs = st._1; period = st._2
        }
        val history = slots.flatten
        val out =
          if (r.isNullAt(vIdx)) {
            val res =
              if (history.size >= cfg.minTrainingSize) {
                val (f, sd) = forecastPoint(history, cfg, period)
                Seq(Double.box(f), Double.box(f + cfg.z * sd), Double.box(f - cfg.z * sd), null)
              } else Seq(null, null, null, Boolean.box(false))
            slots = (slots :+ None).takeRight(cfg.maxTrainingSize)
            res
          } else {
            val v = r.getDouble(vIdx)
            val (f, hi, lo, anom) = step(history, v, cfg, period)
            slots = (slots :+ Some(v)).takeRight(cfg.maxTrainingSize)
            Seq(f.map(Double.box).orNull, hi.map(Double.box).orNull,
              lo.map(Double.box).orNull, Boolean.box(anom))
          }
        Row.fromSeq(r.toSeq ++ out)
      }
    }(Encoders.row(outSchema))
      .drop("__v", "__key", "__ts")
  }

  /** Pure-Scala single-series twin of detectBatch — the reference implementation
    * the streaming operator is tested against. Input must be time-ordered.
    * Returns (forecast, upper, lower, isAnomaly) per element.
    */
  def detectSeries(values: Seq[Double], cfg: Config): Seq[(Option[Double], Option[Double], Option[Double], Boolean)] =
    detectSeries(values, cfg, inferredPeriod = 0)

  /** Twin with an explicit auto-inferred period (what a timestamped path
    * would have resolved) — pure series carry no timestamps to infer from.
    */
  def detectSeries(values: Seq[Double], cfg: Config, inferredPeriod: Int)
  : Seq[(Option[Double], Option[Double], Option[Double], Boolean)] = {
    var buf = List.empty[Double]
    values.map { v =>
      val out = step(buf, v, cfg, inferredPeriod)
      buf = (buf :+ v).takeRight(cfg.maxTrainingSize)
      out
    }
  }
}

/** AR(p)-with-intercept one-step forecaster: ordinary least squares on the
  * trailing history via the normal equations (tiny (p+1)×(p+1) solve, Gaussian
  * elimination with partial pivoting). Returns None when the history is too
  * short for a determined fit or the system is numerically singular (e.g. a
  * constant series, whose lag columns are collinear with the intercept) —
  * callers fall back to the mean/stddev band.
  *
  * This is deliberately a pure, dependency-free implementation: it runs
  * identically inside batch tasks, streaming state handlers, and plain unit
  * tests, which is what makes the batch≡streaming equivalence specs exact.
  */
object ArForecaster {

  /** @return Some((one-step forecast, in-sample residual stddev)) or None.
    *
    * A singular system at order `p` retries at `p-1` down to 1: perfectly
    * collinear lag columns are not noise but structure (an exact linear trend
    * makes every order above 1 rank-deficient, while AR(1)+intercept fits it
    * exactly), so reducing the order recovers the fit instead of discarding
    * it. None only when even order 1 is singular (constant series) or the
    * history is too short.
    */
  def fit(h: Array[Double], p: Int): Option[(Double, Double)] = {
    var order = p
    while (order >= 1) {
      val r = fitOrder(h, order)
      if (r.isDefined) return r
      order -= 1
    }
    None
  }

  private def fitOrder(h: Array[Double], p: Int): Option[(Double, Double)] = {
    val n = h.length
    val m = n - p // regression rows
    val k = p + 1 // intercept + p lags
    if (m < k + 2) return None // need residual degrees of freedom
    val a = Array.ofDim[Double](k, k)
    val b = new Array[Double](k)
    var t = p
    while (t < n) {
      val y = h(t)
      var i = 0
      while (i < k) {
        val xi = if (i == 0) 1.0 else h(t - i)
        b(i) += xi * y
        var j = 0
        while (j <= i) {
          val xj = if (j == 0) 1.0 else h(t - j)
          a(i)(j) += xi * xj
          j += 1
        }
        i += 1
      }
      t += 1
    }
    var i = 0
    while (i < k) { var j = i + 1; while (j < k) { a(i)(j) = a(j)(i); j += 1 }; i += 1 }
    solve(a, b).map { coef =>
      var sse = 0.0
      var t2 = p
      while (t2 < n) {
        var pred = coef(0)
        var j = 1
        while (j <= p) { pred += coef(j) * h(t2 - j); j += 1 }
        val e = h(t2) - pred
        sse += e * e
        t2 += 1
      }
      val sd = math.sqrt(math.max(sse, 0.0) / (m - k))
      var f = coef(0)
      var j = 1
      while (j <= p) { f += coef(j) * h(n - j); j += 1 }
      (f, sd)
    }
  }

  /** In-place Gaussian elimination with partial pivoting; None on a pivot
    * smaller than `eps` relative to the matrix scale (singular system).
    */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Option[Array[Double]] = {
    val k = a.length
    val scale = math.max(a.map(_.map(math.abs).max).max, 1e-300)
    val eps = 1e-10 * scale
    var col = 0
    while (col < k) {
      var piv = col
      var r = col + 1
      while (r < k) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (math.abs(a(piv)(col)) < eps) return None
      if (piv != col) {
        val tmp = a(piv); a(piv) = a(col); a(col) = tmp
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      r = col + 1
      while (r < k) {
        val factor = a(r)(col) / a(col)(col)
        if (factor != 0.0) {
          var c = col
          while (c < k) { a(r)(c) -= factor * a(col)(c); c += 1 }
          b(r) -= factor * b(col)
        }
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](k)
    var i = k - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < k) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    Some(x)
  }
}

/** ARIMA(p, d, 0) one-step forecaster over the trailing history — the `d`
  * integration term the reference's named engine has and plain AR lacks
  * (LAB4-Walkthrough.md:185). d = 1: forecast the FIRST DIFFERENCES with
  * AR(p)+intercept and integrate back (ŷ_{n+1} = y_n + Δ̂); since the
  * integration step adds the known last observation, the differenced-space
  * residual sd equals the integrated one-step forecast sd, so the band uses
  * it directly. When the AR fit on the differences is singular (e.g. an exact
  * linear trend: constant differences), the drift model takes over — mean
  * difference + its sd — which fits exactly the series that broke the AR fit.
  * None only when the differenced history is too short even for a mean/sd
  * (< 3 points); callers fall back to the undifferenced mean band, matching
  * the other forecasters' warm-up contract.
  *
  * Pure and dependency-free like [[ArForecaster]]: batch tasks, streaming
  * state handlers, and unit tests run the identical code, which is what keeps
  * batch ≡ streaming bit-identical.
  */
object ArimaForecaster {

  def fit(h: Array[Double], p: Int, d: Int): Option[(Double, Double)] = {
    require(d == 0 || d == 1, s"only d in {0,1} is supported, got $d")
    if (d == 0) return ArForecaster.fit(h, p)
    val n = h.length
    if (n < 4) return None // need >= 3 differences for a variance
    val w = new Array[Double](n - 1)
    var i = 0
    while (i < n - 1) { w(i) = h(i + 1) - h(i); i += 1 }
    val (fw, sd) = ArForecaster.fit(w, p).getOrElse {
      // drift model: List-sum left-to-right like meanSd so the streaming twin
      // folds identically
      val m = w.length
      val mean = w.sum / m
      val variance = w.map(x => (x - mean) * (x - mean)).sum / (m - 1)
      (mean, math.sqrt(variance))
    }
    Some((h(n - 1) + fw, sd))
  }
}

/** Classical additive seasonal-trend decomposition over the trailing history
  * (the `enableStl` path of the reference's ML_DETECT_ANOMALIES,
  * LAB4-Walkthrough.md:185-190; the closed engine cites STL — this is the
  * moving-average classical variant, adequate for the band contract):
  *
  *  1. trend via centered moving average of window `period` (even periods use
  *     the standard 2×period half-weighted ends);
  *  2. seasonal(j) = mean of detrended points at phase j, centered to sum 0;
  *  3. the deseasonalized series (observed − seasonal) goes to the configured
  *     inner forecaster (mean or AR) for the point forecast and residual sd;
  *  4. one-step forecast = inner forecast + seasonal(next phase).
  *
  * Pure and dependency-free like [[ArForecaster]] so batch tasks, streaming
  * state handlers, and unit tests run the identical code. Returns None when
  * the history holds fewer than two full periods — callers fall back to the
  * non-seasonal forecaster, mirroring the warm-up contract.
  */
object StlLite {

  def fit(h: Array[Double], period: Int, cfg: AnomalyDetector.Config): Option[(Double, Double)] = {
    val n = h.length
    if (period < 2 || n < 2 * period) return None
    val half = period / 2
    val even = period % 2 == 0
    // centered MA trend, defined on [half, n-half)
    val lo = half
    val hi = n - half
    if (hi <= lo) return None
    val detrended = new Array[Double](n)
    val hasTrend = new Array[Boolean](n)
    var t = lo
    while (t < hi) {
      var s = 0.0
      if (even) {
        s = 0.5 * h(t - half) + 0.5 * h(t + half)
        var i = t - half + 1
        while (i < t + half) { s += h(i); i += 1 }
      } else {
        var i = t - half
        while (i <= t + half) { s += h(i); i += 1 }
      }
      detrended(t) = h(t) - s / period
      hasTrend(t) = true
      t += 1
    }
    // phase means of detrended points, centered to sum zero
    val seas = new Array[Double](period)
    val cnt = new Array[Int](period)
    t = 0
    while (t < n) {
      if (hasTrend(t)) { seas(t % period) += detrended(t); cnt(t % period) += 1 }
      t += 1
    }
    var j = 0
    while (j < period) {
      if (cnt(j) == 0) return None // a phase never covered by the MA window
      seas(j) /= cnt(j)
      j += 1
    }
    val mean = seas.sum / period
    j = 0
    while (j < period) { seas(j) -= mean; j += 1 }
    // deseasonalize the FULL history and forecast it with the inner model
    val deseason = Array.tabulate(n)(i => h(i) - seas(i % period))
    val innerFit = cfg.forecast match {
      case "ar"    => ArForecaster.fit(deseason, cfg.arOrder)
      case "arima" => ArimaForecaster.fit(deseason, cfg.arOrder, cfg.dOrder)
      case _       => None
    }
    val (f0, sd) = innerFit.getOrElse {
      val m = deseason.sum / n
      val v = deseason.map(x => (x - m) * (x - m)).sum / (n - 1)
      (m, math.sqrt(v))
    }
    Some((f0 + seas(n % period), sd))
  }
}

/** Inverse normal CDF, Acklam's rational approximation (public-domain constants,
  * |rel err| < 1.15e-9) — used to turn confidencePercentage into a z-score.
  */
object Gaussian {
  private val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
    1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
  private val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
    6.680131188771972e+01, -1.328068155288572e+01)
  private val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
    -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
  private val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
    3.754408661907416e+00)

  def invCdf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"p out of range: $p")
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pLow) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }
}
