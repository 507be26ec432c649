package graft.tools

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Measures what a body of driver code cost on Spark: the jobs it
  * started, the stages that ran (skipped stages do not), their shuffle
  * writes, and its wall time. */
object StageMeter {

  final case class Measured[A](result: A, jobs: Int, stages: Int,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long, wallMs: Double) {
    def wallS: Double = wallMs / 1e3
    def shuffleMB: Double = shuffleWriteBytes / 1e6
  }

  private val groups = new AtomicInteger

  /** Runs `body` in a fresh job group and counts only that group's jobs
    * and their stages, so work left over from an earlier phase never
    * bleeds in. A marker job submitted afterwards fences the listener
    * bus: its start event is delivered after every event of `body`'s
    * jobs, so the counts are final without a sleep. `body` must not set
    * a job group of its own. */
  def measure[A](spark: SparkSession)(body: => A): Measured[A] = {
    val sc = spark.sparkContext
    val group = s"stage-meter-${groups.incrementAndGet()}"
    val marker = s"$group-marker"
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val jobs, stages = new AtomicInteger
    val bytes, records = new AtomicLong
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stageIds.add)
          case `marker` => fenced.countDown()
          case _ => ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) {
          stages.incrementAndGet()
          val w = e.stageInfo.taskMetrics.shuffleWriteMetrics
          bytes.addAndGet(w.bytesWritten)
          records.addAndGet(w.recordsWritten): Unit
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val t0 = System.nanoTime()
      val out = try body finally sc.clearJobGroup()
      val wallMs = (System.nanoTime() - t0) / 1e6
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(fenced.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker job")
      Measured(out, jobs.get, stages.get, bytes.get, records.get, wallMs)
    } finally sc.removeSparkListener(listener)
  }
}
