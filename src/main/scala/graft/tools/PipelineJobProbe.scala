package graft.tools

import graft.LocalSession
import org.apache.spark.scheduler._

/** Per-job wall breakdown of a named entry at sf0.1 (default
  * multimodal_dedup_pipeline) — where does a composed pipeline's wall
  * actually live? (This probe is what disproved the r7 "job-count
  * overhead" attribution.) */
object PipelineJobProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (e.time, String.valueOf(
          e.properties.getProperty("spark.job.description"))))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobs.get(e.jobId)
        if (st != null) done.add((e.jobId, e.time - st._1, st._2)): Unit
      }
    })

    val name = if (args.nonEmpty) args(0) else "multimodal_dedup_pipeline"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val q = graft.SparkEntry.queries(name)
    // warm pass (JIT/codegen), then the measured pass
    q(spark, dir).write.mode("overwrite")
      .parquet("/tmp/pjp_warm")
    done.clear()
    val t0 = System.nanoTime()
    q(spark, dir).write.mode("overwrite")
      .parquet("/tmp/pjp_out")
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"PROBE total wall ${wall}%.3f s, jobs=${done.size}")
    done.forEach { case (id, ms, desc) =>
      println(f"PROBE job $id%3d ${ms / 1000.0}%7.3f s  ${Option(desc).getOrElse("").take(90)}")
    }
    spark.stop()
  }
}
