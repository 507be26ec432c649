package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** Semantics probe behind the `flow_stream_curation` entry — the
  * composed streaming pipeline (watermark → quality filter → keyed
  * dedup-with-expiry → windowed per-source agg) chains TWO stateful
  * operators. Facts to pin (first run answered #1, this fixture pins
  * the rest):
  *
  *  1. a row dropped by the quality FILTER does NOT advance the
  *     watermark — Catalyst pushes the filter below the
  *     EventTimeWatermark node, so junk rows never reach the watermark
  *     collector (first probe run: all-junk clocks left the watermark
  *     at the good rows' max and the sink empty). Watermark clocks must
  *     therefore PASS the filter.
  *  2. emission schedule of the dedup→window chain: same two-lagged
  *     rule as the single-operator WmAggProbe or not?
  *  3. dedup state expiry + re-emit: a key re-arriving after its state
  *     expired counts into the window of the RE-ARRIVAL time.
  *  4. a fresh key whose window already closed (late row) is dropped.
  *
  * Fixture (delay 10 min, 10-min windows; wave = keys 0-9, sources a/b
  * by parity; clocks = unique keys, source c, GOOD text):
  *   b0: wave@2 (W0) + clock c1@12
  *   b1: wave@5 (dup -> dedup-dropped) + clock c2@25
  *   b2: wave@17 (dup, state still held -> dropped) + clock c3@40;
  *       wave state (expiry 12) evicted at end of b2 (wm 15)
  *   b3: wave@29 (STATE EXPIRED -> re-emits, counts into W2)
  *       + fresh key k100@7 (late: W0 closed) — dropped
  *   b4: clock c4@55
  * Expected sink: W0 (a:5, b:5), W1 (c:1 = c1), W2 (a:5, b:5).
  */
object CurationStreamProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    val tmp = graft.queries.QueryDsl.tempDirCleanedOnExit("curprobe")
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    val epoch = 1767225600L
    def at(m: Int) = timestamp_seconds(lit(epoch + m * 60L))
    val users = spark.range(0, 10)
      .select(col("id").as("key"),
        when(col("id") % 2 === 0, "a").otherwise("b").as("source"),
        lit(true).as("good"))
    def clock(id: Long, m: Int) = users.limit(1)
      .select(lit(id).as("key"), lit("c").as("source"), lit(true).as("good"),
        at(m).as("t"))
    def junk(id: Long, m: Int) = users.limit(1)
      .select(lit(id).as("key"), lit("j").as("source"), lit(false).as("good"),
        at(m).as("t"))
    def wave(m: Int) = users.select(col("key"), col("source"), col("good"), at(m).as("t"))
    val batches = Seq(
      wave(2).unionByName(clock(-1L, 12)).unionByName(junk(-100L, 3)),
      wave(5).unionByName(clock(-2L, 25)).unionByName(junk(-101L, 6)),
      wave(17).unionByName(clock(-3L, 40)).unionByName(junk(-102L, 18)),
      wave(29)
        .unionByName(users.limit(1).select(lit(100L).as("key"),
          lit("a").as("source"), lit(true).as("good"), at(7).as("t"))),
      clock(-4L, 55))
    batches.zipWithIndex.foreach { case (b, i) =>
      val stage = s"$tmp/stage$i"
      b.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      require(dst.setLastModified((epoch + i * 60L) * 1000L))
    }
    val src = spark.readStream
      .schema(spark.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
    val q = src.withWatermark("t", "10 minutes")
      .filter(col("good"))
      .dropDuplicatesWithinWatermark("key")
      .groupBy(window(col("t"), "10 minutes").as("w"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("source"), col("n"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/sink")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.foreach { p =>
      println(s"PROBE batch=${p.batchId} rows=${p.numInputRows} " +
        s"watermark=${p.eventTime.get("watermark")} " +
        s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString("/")} " +
        s"outRows=${p.sink.numOutputRows}")
    }
    val out = spark.read.parquet(s"$tmp/sink")
      .select(((unix_timestamp(col("ws")) - epoch) / 60).cast("long").as("w_min"),
        col("source"), col("n"))
      .orderBy(col("w_min"), col("source")).collect()
    println("PROBE sink=" + out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).mkString(","))
    spark.stop()
  }
}
