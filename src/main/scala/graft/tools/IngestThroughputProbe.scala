package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._
import graft.ingest.Protocols

/** Warm min-of-3 throughput of the bulk line-protocol ingest
  * (influxPivoted + the bench's aggregation), sampled vs exhaustive
  * schema discovery, at 1× and N× line volume. BASELINE.md pins the
  * reference at ~326k rows/s on the TSBS load.
  * args: [sfDir] [scale]
  */
object IngestThroughputProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val scale = if (args.length > 1) args(1).toInt else 1
    val spark = LocalSession()

    var src = graft.Tables.load(spark, sfDir, "events")
    if (scale > 1) src = src.crossJoin(
        spark.range(scale).select(col("id").as("__rep")))
      .withColumn("ts", col("ts") + col("__rep")).drop("__rep")
    val lines = src.select(concat(
      lit("events,type="), col("event_type"),
      lit(" value="), col("value").cast("decimal(18,4)"),
      lit(",user="), col("user_id"), lit("i "),
      col("ts")).as("line")).repartition(32).persist()
    val n = lines.count()

    def run(label: String, sampleRows: Int): Unit = {
      def q() = Protocols
        .influxPivoted(lines, "line", "events", discoverySampleRows = sampleRows)
        .groupBy(col("type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .count()
      q() // warmup
      val walls = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); q(); (System.nanoTime() - t0) / 1e9
      }
      val w = walls.min
      println(f"[ingest-probe] $label%-12s lines=$n wall=$w%6.2f s " +
        f"rows_per_s=${n / w}%.0f  passes=${walls.map(x => f"$x%.2f").mkString(",")}")
    }
    println(s"[ingest-probe] scale=$scale lines=$n (persisted source — " +
      "parse cost only, no parquet scan)")
    run("full-2pass", 0)
    run("sampled", 4096)
    spark.stop()
  }
}
