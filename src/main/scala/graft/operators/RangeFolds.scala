package graft.operators

import graft.aggregates.TDigest

/** Window evaluators for [[RangeSelect.FoldAgg]] — the collect-buffering
  * RANGE aggregates (reference query/src/range_select/plan.rs:967
  * `RangeSelectStream` updates these per-window accumulators in one pass
  * over the sorted series; here [[WindowFold]] runs that pass). Each
  * evaluator receives the window's (ts, value) samples in ascending
  * (ts, value) order, null values included.
  */
object RangeFolds {

  /** An evaluator over a window's samples; None gives a NULL slot value. */
  type Eval = IndexedSeq[(Long, java.lang.Double)] => Option[Any]

  /** `f` over the window's non-null samples: percentile and array_agg
    * skip null values, as the explode path's aggregates do. */
  def skipNulls(f: IndexedSeq[(Long, Double)] => Option[Any]): Eval =
    samples => f(samples.collect { case (t, v) if v != null => (t, v.doubleValue) })

  /** Exact percentile: linear interpolation at rank q·(n−1) over the
    * sorted window values (PostgreSQL percentile_cont / DuckDB
    * quantile_cont semantics). */
  def percentileCont(q: Double): Eval =
    skipNulls { samples =>
      if (samples.isEmpty) None
      else {
        val v = new Array[Double](samples.length)
        var i = 0
        while (i < v.length) { v(i) = samples(i)._2; i += 1 }
        java.util.Arrays.sort(v)
        val pos = q * (v.length - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        Some(if (lo == hi) v(lo) else v(lo) + (pos - lo) * (v(hi) - v(lo)))
      }
    }

  /** The SQL path's `__approx_pct_td` t-digest
    * (graft.aggregates.TDigest), built with ONE compress pass over the
    * full window — window-deterministic centroids, where the explode
    * path's aggregate buffers 10k-point batches in partition order. The
    * same sketch family as DataFusion's approx_percentile_cont. */
  def percentileTDigest(q: Double): Eval =
    skipNulls { samples =>
      if (samples.isEmpty) None
      else {
        val v = new Array[Double](samples.length)
        var lo = Double.MaxValue
        var hi = Double.MinValue
        var i = 0
        while (i < v.length) {
          v(i) = samples(i)._2
          if (v(i) < lo) lo = v(i)
          if (v(i) > hi) hi = v(i)
          i += 1
        }
        val (cm, cw) = TDigest.compress(v, Array.fill(v.length)(1.0))
        Some(TDigest.quantile(cm, cw, q, lo, hi))
      }
    }

  /** array_agg over the window in ts order. Pair with
    * `dataType = ArrayType(DoubleType)`. */
  val arrayAgg: Eval =
    skipNulls(samples => if (samples.isEmpty) None else Some(samples.map(_._2)))

  /** first_value(x ORDER BY ts) — null VALUES carry (DataFusion returns
    * the first row's value even when null), so these four read the
    * whole window; its (ts, value) ascending order matches the explode
    * path's struct-lexicographic tie resolution. */
  val firstValueByTime: Eval =
    samples => if (samples.isEmpty) None else Some(samples.head._2)

  /** last_value(x ORDER BY ts) — see [[firstValueByTime]]. */
  val lastValueByTime: Eval =
    samples => if (samples.isEmpty) None else Some(samples.last._2)

  /** first_value(x ORDER BY ts DESC): max-ts row, but ties keep the
    * explode path's (-ts, value)-ascending order — the MIN value within
    * the max-ts run, i.e. the first element of that run. */
  val firstValueByTimeDesc: Eval =
    samples => if (samples.isEmpty) None else {
      val maxTs = samples.last._1
      var i = samples.length - 1
      while (i > 0 && samples(i - 1)._1 == maxTs) i -= 1
      Some(samples(i)._2)
    }

  /** last_value(x ORDER BY ts DESC): min-ts row, MAX value on ties
    * (the last element of the min-ts run). */
  val lastValueByTimeDesc: Eval =
    samples => if (samples.isEmpty) None else {
      val minTs = samples.head._1
      var i = 0
      while (i + 1 < samples.length && samples(i + 1)._1 == minTs) i += 1
      Some(samples(i)._2)
    }
}
