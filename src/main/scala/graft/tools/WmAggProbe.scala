package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** Emission-timing probe for append-mode windowed aggregation under
  * Trigger.AvailableNow + maxFilesPerTrigger=1. Findings feeding the
  * `flow_stream_tumble_watermark` entry's oracle:
  * (1) a window emits in the first batch whose EVICTION watermark
  *     (computed from data through the previous batch) reaches its
  *     end — end <= watermark is enough (boundary inclusive);
  * (2) the LATE-EVENT filter lags one batch further (it uses the
  *     eviction watermark of the previous batch), and
  * (3) it drops by WINDOW END, not row time — a row older than the
  *     late watermark still counts while its window's end exceeds it
  *     (the sink count here shows W0 = 3 waves including the @5 rows
  *     that arrived under late wm 2). */
object WmAggProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    val tmp = java.nio.file.Files.createTempDirectory("wmagg").toString
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    val epoch = 1767225600L
    def at(m: Int) = timestamp_seconds(lit(epoch + m * 60L))
    val users = spark.range(0, 4).select(col("id").as("user_id"))
    def clock(id: Long, m: Int) =
      users.limit(1).select(lit(id).as("user_id"), at(m).as("t"))
    val batches = Seq(
      users.select(col("user_id"), at(2).as("t"))
        .unionByName(users.select(col("user_id"), at(12).as("t")))
        .unionByName(clock(-1L, 12)),
      users.select(col("user_id"), at(3).as("t")) // in-time late for W0
        .unionByName(clock(-2L, 25)),
      users.select(col("user_id"), at(5).as("t")) // TOO late for W0
        .unionByName(users.select(col("user_id"), at(17).as("t")))
        .unionByName(clock(-3L, 40)),
      clock(-4L, 70),
      clock(-5L, 71))
    batches.zipWithIndex.foreach { case (b, i) =>
      val stage = s"$tmp/stage$i"
      b.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified((epoch + i * 60L) * 1000L): Unit
    }
    val src = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
    val q = src.withWatermark("t", "10 minutes")
      .groupBy(window(col("t"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/sink")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.foreach { p =>
      println(s"PROBE batch=${p.batchId} in=${p.numInputRows} " +
        s"out=${p.sink.numOutputRows} watermark=${p.eventTime.get("watermark")}")
    }
    val out = spark.read.parquet(s"$tmp/sink")
      .select(((unix_timestamp(col("ws")) - epoch) / 60).cast("long").as("w_min"), col("n"))
      .orderBy("w_min").collect()
    println("PROBE sink=" + out.map(r => (r.getLong(0), r.getLong(1))).mkString(","))
    spark.stop()
  }
}
