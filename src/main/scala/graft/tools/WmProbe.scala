package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** Eviction-timing probe behind the `flow_stream_dedup_watermark`
  * entry. Establishes two engine facts the entry's fixture depends on:
  * (1) the file source DOES split micro-batches under
  * Trigger.AvailableNow + maxFilesPerTrigger=1 (mtime order), and
  * (2) dropDuplicatesWithinWatermark evicts state at the END of a
  * batch, AFTER that batch's rows were matched — so a duplicate
  * arriving in the same batch whose eviction watermark first exceeds
  * its key's expiry is still dropped; only the NEXT batch re-emits.
  * Expected output: evens twice (0, 17), odds once (12), clock (25). */
object WmProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("wmprobe").toString
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    val epoch = 1767225600L
    def at(m: Int) = timestamp_seconds(lit(epoch + m * 60L))
    val users = spark.range(0, 10).select(col("id").as("user_id"))
    val evens = users.filter(col("user_id") % 2 === 0)
    val odds = users.filter(col("user_id") % 2 === 1)
    val batches = Seq(
      evens.select(col("user_id"), at(0).as("t"))
        .unionByName(odds.select(col("user_id"), at(12).as("t"))),
      evens.select(col("user_id"), at(5).as("t"))
        .unionByName(odds.select(col("user_id"), at(13).as("t")))
        .unionByName(evens.limit(1).select(lit(-2L).as("user_id"), at(25).as("t"))),
      evens.select(col("user_id"), at(14).as("t"))
        .unionByName(odds.select(col("user_id"), at(14).as("t"))),
      evens.select(col("user_id"), at(17).as("t"))
        .unionByName(odds.select(col("user_id"), at(17).as("t"))))
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
      .dropDuplicatesWithinWatermark("user_id")
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/sink")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.foreach { p =>
      println(s"PROBE batch=${p.batchId} rows=${p.numInputRows} watermark=${p.eventTime.get("watermark")}")
    }
    val out = spark.read.parquet(s"$tmp/sink")
      .select(col("user_id"), ((unix_timestamp(col("t")) - epoch) / 60).cast("long").as("t_min"))
      .orderBy("user_id", "t_min").collect()
    println("PROBE out=" + out.map(r => (r.getLong(0), r.getLong(1))).mkString(","))
    spark.stop()
  }
}
