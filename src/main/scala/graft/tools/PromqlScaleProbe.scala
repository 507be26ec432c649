package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.promql.PromQL
import graft.promql.PromQL.{EvalParams, Metric}

/** Measures the PromQL range-vector formulations against each other at
  * a large range/step ratio: `rate(x[1h])` at 15 s step (240× grid
  * fan-out through gridExplode). Reports wall time and total shuffle
  * write bytes for (a) the grid-explode path, (b) the per-series
  * rangeBetween window path — the round-4 verdict's acceptance
  * criterion is ≥5× shuffle-bytes reduction. */
object PromqlScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val stepArg = if (args.length > 1) args(1).toLong else 15000L
    val rangeArg = if (args.length > 2) args(2).toLong else 3600000L
    // series label: event_type = 5 fat series (chunked-parallelism case),
    // user_id = thousands of thin series (wide-metric case)
    val labelArg = if (args.length > 3) args(3) else "event_type"
    val spark = LocalSession()

    val ev = graft.Tables.load(spark, src, "events")
      .select(col(labelArg).cast("string").as("series"),
        (col("ts") / 1000000L).cast("long").as("ms"),
        col("value").cast("double").as("v"))
    val b = ev.agg(min(col("ms")), max(col("ms"))).head
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val m = Metric(ev, "ms", "v", Seq("series"))
    // default: 15 s step over the span, 1 h range → 240× fan-out ratio
    val p = EvalParams(startMs = lo, endMs = hi, stepMs = stepArg)
    val rangeMs = rangeArg

    def run(label: String, threshold: Long): Unit = {
      PromQL.GridFanoutMax = threshold
      // warmup once for JIT/scan caches, then measure
      PromQL.rangeFn("rate", m, p, rangeMs).df.count()
      val r = StageMeter.measure(spark)(PromQL.rangeFn("rate", m, p, rangeMs).df.count())
      println(f"[promql-scale] $label%-12s rows=${r.result}%-9d wall=${r.wallS}%7.2f s shuffleMB=${r.shuffleMB}%9.1f")
    }

    println(s"[promql-scale] label=$labelArg span ${(hi - lo) / 1000}s, steps=${(hi - lo) / p.stepMs}, ratio=${rangeMs / p.stepMs}")
    // arg 5 "foldonly" skips the explode side (at 100× volume it runs
    // ~17 min — measured once, not worth re-paying per axis)
    if (args.length <= 4 || args(4) != "foldonly")
      run("gridExplode", Long.MaxValue) // never switch → explode path
    run("fold", 1L)                   // always switch → deque-fold path
    PromQL.GridFanoutMax = 1L
    spark.stop()
  }
}
