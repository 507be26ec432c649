package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.operators.{RangeFolds, RangeSelect}
import graft.operators.RangeSelect.RangeAgg

/** Measures the two RANGE formulations of a collect-buffering aggregate
  * (exact percentile) at a large range/align ratio and prints rows, wall
  * time and shuffle write MB of one warm run each. At the default, `p50/p90
  * RANGE '1h' ALIGN '15s'` (a 240× slot fan-out), the explode path
  * serializes every input row into 240 aggregation buffers; the
  * [[RangeSelect.FoldAgg]] path shuffles each row at most twice and
  * evaluates the percentile inside the per-series [[graft.operators.WindowFold]]
  * sweep.
  *
  * args: [sfDir] [alignMs] [rangeMs] [byCol] [eventsScale]
  */
object RangeScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val alignMs = if (args.length > 1) args(1).toLong else 15000L
    val rangeMs = if (args.length > 2) args(2).toLong else 3600000L
    val byCol = if (args.length > 3) args(3) else "event_type"
    val scale = if (args.length > 4) args(4).toInt else 1
    val spark = LocalSession()

    var ev = graft.Tables.load(spark, src, "events")
      .select(col(byCol).cast("string").as("series"),
        (col("ts") / 1000000L).cast("long").as("ms"),
        col("value").cast("double").as("v"))
    if (scale > 1)
      // time-shifted copies: same series count, scale× the samples
      ev = ev.crossJoin(
          spark.range(scale).select(col("id").as("__rep")))
        .withColumn("ms", col("ms") + col("__rep") * 7L) // jitter, same span
        .drop("__rep")
    ev = ev.repartition(32).persist()
    val n0 = ev.count()

    def run(label: String, fold: Boolean): Unit = {
      def q() =
        if (fold)
          RangeSelect(ev, "ms", Seq("series"), alignMs, rangeMs, Nil,
            foldAggs = Seq(
              RangeSelect.FoldAgg("p50", "v", RangeFolds.percentileCont(0.5)),
              RangeSelect.FoldAgg("p90", "v", RangeFolds.percentileCont(0.9))))
        else
          RangeSelect(ev, "ms", Seq("series"), alignMs, rangeMs, Seq(
            RangeAgg("p50", ctx => percentile(ctx.value("v"), lit(0.5))),
            RangeAgg("p90", ctx => percentile(ctx.value("v"), lit(0.9)))))
      q().count() // warmup (JIT, scan caches)
      val r = StageMeter.measure(spark)(q().count())
      println(f"[range-scale] $label%-12s rows=${r.result}%-9d wall=${r.wallS}%7.2f s " +
        f"shuffleMB=${r.shuffleMB}%9.1f")
    }

    println(s"[range-scale] events=$n0 (scale=$scale) by=$byCol " +
      s"align=${alignMs}ms range=${rangeMs}ms ratio=${rangeMs / alignMs}")
    run("explode", fold = false)
    run("fold", fold = true)
    spark.stop()
  }
}
