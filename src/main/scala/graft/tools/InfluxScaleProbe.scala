package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._
import graft.ingest.Protocols

object InfluxScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/graft_scale"
    val spark = LocalSession()
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val lines = spark.read.parquet(s"$sfDir/events.parquet").select(concat(
      lit("events,type="), col("event_type"),
      lit(" value="), col("value").cast("decimal(18,4)"),
      lit(",user="), col("user_id"), lit("i "),
      col("ts")).as("line"))
    time("build+count")(lines.count())
    val parsed = Protocols.fromInfluxLines(lines, "line")
    time("parse+count")(parsed.count())
    time("parse+count again")(parsed.count())
    val wide = Protocols.pivotMeasurement(parsed, "events")
    time("pivot+count")(wide.count())
    time("project only")(wide.select(col("type")).count())
    time("direct+filter agg")(parsed.filter(col("measurement") === "events")
      .groupBy(element_at(col("tags"), "type"))
      .agg(sum(element_at(col("fields_num"), "value"))).count())
    time("agg count-only")(wide.groupBy(col("type")).agg(count(lit(1))).count())
    println(wide.groupBy(col("type")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString.take(2500))
    spark.stop()
  }
}
