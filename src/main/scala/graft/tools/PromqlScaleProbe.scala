package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.promql.PromQL
import graft.promql.PromQL.{EvalParams, Metric}

/** Measures `rate(x[range])` through the PromQL window fold over the
  * events table at a chosen window/step ratio; the default,
  * `rate(x[1h])` at a 15 s step, is ratio 240. Prints rows, wall time
  * and total shuffle write bytes of one warm run.
  *
  * Args: `<sf dir> [stepMs] [rangeMs] [series label]`; e.g.
  * `<sf dir> 300000 60000 user_id` is `rate(x[1m])` at a 5 m step,
  * ratio 0. */
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
    val p = EvalParams(startMs = lo, endMs = hi, stepMs = stepArg)
    val rangeMs = rangeArg

    println(s"[promql-scale] label=$labelArg span ${(hi - lo) / 1000}s, steps=${(hi - lo) / p.stepMs}, ratio=${rangeMs / p.stepMs}")
    // warmup once for JIT/scan caches, then measure
    PromQL.rangeFn("rate", m, p, rangeMs).df.count()
    val r = StageMeter.measure(spark)(PromQL.rangeFn("rate", m, p, rangeMs).df.count())
    println(f"[promql-scale] fold         rows=${r.result}%-9d wall=${r.wallS}%7.2f s shuffleMB=${r.shuffleMB}%9.1f")
    spark.stop()
  }
}
