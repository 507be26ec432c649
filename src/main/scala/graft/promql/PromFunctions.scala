package graft.promql

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** PromQL range-vector functions (SURVEY.md §2.6) — reference
  * src/promql/src/functions/ (rate/increase/delta with Prometheus'
  * extrapolation, idelta/irate, changes, resets, deriv, predict_linear,
  * *_over_time). Each kernel maps one window's samples
  * `Seq[(tsMs, value)]`, sorted by time, to a value; [[windowEval]]
  * picks the kernel the PromQL fold runs on every step's window,
  * matching the reference's RangeManipulate + per-window evaluation
  * split. The algorithms are the public Prometheus semantics.
  */
object PromFunctions {

  type Sample = (Long, Double)

  /** Prometheus extrapolatedRate (public algorithm from the Prometheus
    * docs/source semantics): used by rate (counter, per-second),
    * increase (counter, absolute) and delta (gauge, absolute). */
  def extrapolatedRate(
      samples: Seq[Sample], rangeStartMs: Long, rangeEndMs: Long,
      isCounter: Boolean, isRate: Boolean): Option[Double] = {
    if (samples == null || samples.size < 2) return None
    val first = samples.head
    val last = samples.last
    var resultValue = last._2 - first._2
    if (isCounter) {
      var prev = first._2
      var i = 1
      while (i < samples.size) {
        val v = samples(i)._2
        if (v < prev) resultValue += prev
        prev = v
        i += 1
      }
    }
    val rangeSeconds = (rangeEndMs - rangeStartMs) / 1000.0
    var durationToStart = (first._1 - rangeStartMs) / 1000.0
    val durationToEnd = (rangeEndMs - last._1) / 1000.0
    val sampledInterval = (last._1 - first._1) / 1000.0
    val averageDurationBetweenSamples = sampledInterval / (samples.size - 1)

    if (isCounter && resultValue > 0 && first._2 >= 0) {
      val durationToZero = sampledInterval * (first._2 / resultValue)
      if (durationToZero < durationToStart) durationToStart = durationToZero
    }
    val extrapolationThreshold = averageDurationBetweenSamples * 1.1
    var extrapolateToInterval = sampledInterval
    extrapolateToInterval +=
      (if (durationToStart < extrapolationThreshold) durationToStart
       else averageDurationBetweenSamples / 2)
    extrapolateToInterval +=
      (if (durationToEnd < extrapolationThreshold) durationToEnd
       else averageDurationBetweenSamples / 2)
    var factor = extrapolateToInterval / sampledInterval
    if (isRate) factor /= rangeSeconds
    Some(resultValue * factor)
  }

  /** irate/idelta: instantaneous rate from the last two samples. */
  def instantDiff(samples: Seq[Sample], isCounter: Boolean, perSecond: Boolean): Option[Double] = {
    if (samples == null || samples.size < 2) return None
    val a = samples(samples.size - 2)
    val b = samples.last
    var dv = b._2 - a._2
    if (isCounter && b._2 < a._2) dv = b._2 // reset: counter restarted
    val dt = (b._1 - a._1) / 1000.0
    if (dt <= 0) None else Some(if (perSecond) dv / dt else dv)
  }

  def countChanges(s: Seq[Sample]): Double =
    s.sliding(2).count(p => p.size == 2 && p(1)._2 != p(0)._2 &&
      !(p(1)._2.isNaN && p(0)._2.isNaN)).toDouble

  def countResets(s: Seq[Sample]): Double =
    s.sliding(2).count(p => p.size == 2 && p(1)._2 < p(0)._2).toDouble

  /** Least-squares slope/intercept vs the range end (Prometheus deriv /
    * predict_linear). Intercept is at the evaluation timestamp. */
  def linearRegression(samples: Seq[Sample], interceptTimeMs: Long): Option[(Double, Double)] = {
    if (samples == null || samples.size < 2) return None
    var n, sumX, sumY, sumXY, sumX2 = 0.0
    samples.foreach { case (ts, v) =>
      val x = (ts - interceptTimeMs) / 1000.0
      n += 1; sumX += x; sumY += v; sumXY += x * v; sumX2 += x * x
    }
    val covXY = sumXY - sumX * sumY / n
    val varX = sumX2 - sumX * sumX / n
    if (varX == 0) return None
    val slope = covXY / varX
    val intercept = sumY / n - slope * sumX / n
    Some((slope, intercept))
  }

  // ---- *_over_time ----------------------------------------------------
  /** Raw value-sequence reduction for each `*_over_time` fn. */
  def overTimeFn(name: String): Seq[Double] => Double = name match {
    case "avg_over_time" => v => v.sum / v.size
    // Prometheus funcMin/MaxOverTime: NaN loses to any real value (an
    // accumulated NaN is replaced by the next sample)
    case "min_over_time" => _.reduceLeft((m, x) => if (x < m || m.isNaN) x else m)
    case "max_over_time" => _.reduceLeft((m, x) => if (x > m || m.isNaN) x else m)
    case "sum_over_time" => _.sum
    case "count_over_time" => _.size.toDouble
    case "last_over_time" => _.last
    case "stddev_over_time" => v => math.sqrt(welfordVar(v))
    case "stdvar_over_time" => welfordVar
    case "present_over_time" => _ => 1.0
    case other => throw new IllegalArgumentException(s"unknown over-time fn: $other")
  }

  /** Welford's incremental variance — the exact algorithm Prometheus
    * uses (funcStdvarOverTime), so equal samples give exactly 0. */
  def welfordVar(v: Seq[Double]): Double = {
    var count = 0.0; var mean = 0.0; var aux = 0.0
    v.foreach { x =>
      count += 1
      val delta = x - mean
      mean += delta / count
      aux += delta * (x - mean)
    }
    aux / count
  }

  /** Prometheus double exponential smoothing (holt_winters /
    * double_exponential_smoothing): level smoothed by sf, trend by tf;
    * returns the final smoothed value. Public Prometheus algorithm. */
  def doubleExponentialSmoothing(samples: Seq[Sample], sf: Double, tf: Double): Option[Double] = {
    if (samples == null || samples.size < 2) return None
    if (sf <= 0 || sf >= 1 || tf <= 0 || tf >= 1) return None
    var s = samples(0)._2
    var b = samples(1)._2 - samples(0)._2
    var i = 1
    while (i < samples.size) {
      val x = samples(i)._2
      val sPrev = s
      s = sf * x + (1 - sf) * (sPrev + b)
      b = tf * (s - sPrev) + (1 - tf) * b
      i += 1
    }
    Some(s)
  }

  /** Prometheus quantile: linear interpolation over the sorted values. */
  def promQuantile(q: Double, values: Seq[Double]): Double = {
    if (values.isEmpty) return Double.NaN
    if (q < 0) return Double.NegativeInfinity
    if (q > 1) return Double.PositiveInfinity
    val sorted = values.sorted
    val rank = q * (sorted.size - 1)
    val lower = sorted(math.floor(rank).toInt)
    val upper = sorted(math.ceil(rank).toInt)
    lower + (upper - lower) * (rank - math.floor(rank))
  }

  /** PromQL `quantile(q, v)` aggregate over one group's collected
    * non-null values; an empty group gives null. */
  lazy val quantileUdf: UserDefinedFunction = udf((q: Double, v: Seq[Double]) =>
    if (v.isEmpty) null else java.lang.Double.valueOf(promQuantile(q, v)))

  /** histogram_quantile bucket interpolation (public Prometheus
    * algorithm) over (le, count) pairs of one (labels, ts) group —
    * used by the HistogramFold equivalent. */
  def histogramQuantile(q: Double, buckets: Seq[(Double, Double)]): Double = {
    if (buckets == null || buckets.size < 2) return Double.NaN
    if (q.isNaN) return Double.NaN
    if (q < 0) return Double.NegativeInfinity
    if (q > 1) return Double.PositiveInfinity
    val sorted0 = buckets.sortBy(_._1)
    if (!sorted0.last._1.isPosInfinity) return Double.NaN
    // Prometheus ensureMonotonic: cumulative counts are raised to the
    // running max (stale mixed-age buckets can be non-monotonic —
    // promql/simple_histogram.result histogram5 pins 0.775, not the
    // unfixed 0.175)
    var runMax = Double.NegativeInfinity
    val sorted = sorted0.map { case (le, c) =>
      runMax = math.max(runMax, c); (le, runMax)
    }
    val total = sorted.last._2
    if (total == 0) return Double.NaN
    val target = q * total
    var i = 0
    while (i < sorted.size && sorted(i)._2 < target) i += 1
    if (i >= sorted.size) i = sorted.size - 1
    if (i == 0) {
      val (le, c) = sorted(0)
      if (le <= 0) return le
      return le * target / c
    }
    if (i >= sorted.size - 1 && sorted(i)._1.isPosInfinity) return sorted(sorted.size - 2)._1
    val (le, c) = sorted(i)
    val (prevLe, prevC) = sorted(i - 1)
    prevLe + (le - prevLe) * (target - prevC) / (c - prevC)
  }

  lazy val histogramQuantileUdf: UserDefinedFunction =
    udf((q: Double, b: Seq[(Double, Double)]) => histogramQuantile(q, b))

  /** One-window evaluator `(samples, windowStartMs, windowEndMs) =>
    * value` for every range-vector function, None for no value. The
    * PromQL fold ([[PromQL.rangeFn]]) calls it in-partition on each
    * step's window of non-null samples, so no `__samples` array is
    * built or passed through a UDF. PromQLSpec pins the fold against a
    * plain-Scala reference evaluator that calls this same dispatch. */
  def windowEval(name: String, args: Seq[Double])
      : (Seq[Sample], Long, Long) => Option[Double] = name match {
    case "rate" => (s, a, b) => extrapolatedRate(s, a, b, isCounter = true, isRate = true)
    case "increase" => (s, a, b) => extrapolatedRate(s, a, b, isCounter = true, isRate = false)
    case "delta" => (s, a, b) => extrapolatedRate(s, a, b, isCounter = false, isRate = false)
    case "irate" => (s, _, _) => instantDiff(s, isCounter = true, perSecond = true)
    case "idelta" => (s, _, _) => instantDiff(s, isCounter = false, perSecond = false)
    case "changes" => (s, _, _) => if (s.isEmpty) None else Some(countChanges(s))
    case "resets" => (s, _, _) => if (s.isEmpty) None else Some(countResets(s))
    case "deriv" => (s, _, e) => linearRegression(s, e).map(_._1)
    case "predict_linear" =>
      val ahead = args.head
      (s, _, e) => linearRegression(s, e).map { case (m, b) => b + m * ahead }
    case "quantile_over_time" =>
      val q = args.head
      (s, _, _) => if (s.isEmpty) None else Some(promQuantile(q, s.map(_._2)))
    case "holt_winters" | "double_exponential_smoothing" =>
      val (sf, tf) = (args(0), args(1))
      (s, _, _) => doubleExponentialSmoothing(s, sf, tf)
    case overName =>
      val f = overTimeFn(overName)
      (s, _, _) => if (s.isEmpty) None else Some(f(s.map(_._2)))
  }
}
