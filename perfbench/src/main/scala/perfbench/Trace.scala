package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * scale as Spark's listener and planning-tracker timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. `parent` is the enclosing benchmark span (0 for
  * an op's root and for intervals reported by Spark itself). */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Spans are recorded only while an op is
  * traced (`op >= 0`); otherwise [[span]] just runs its body. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: Int = -1

  def on: Boolean = op >= 0

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, layer, name, start, Clock.nowMs)
      }
    }

  /** Catalyst phases of a frame the engine returned, from its
    * QueryPlanningTracker (analysis, optimization, planning). */
  def planPhases(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      spans += Span(nextId, 0, op, "plan", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      nextId += 1
    }

  /** Spans, then the listener's jobs as `job` spans, as JSON lines
    * (id, parent, op, layer, name, start, end). */
  def write(path: java.io.File, jobs: Seq[JobListener.Job]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    def line(id: Int, parent: Int, op: Int, layer: String, name: String, a: Double, b: Double) =
      w.println(f"""{"id":$id,"parent":$parent,"op":$op,"layer":"$layer","name":"$name",""" +
        f""""start_ms":$a%.3f,"end_ms":$b%.3f}""")
    try {
      spans.foreach(s => line(s.id, s.parent, s.op, s.layer, s.name, s.startMs, s.endMs))
      jobs.foreach(j => line(-j.id - 1, 0, j.op, "job", s"job-${j.id}", j.startMs.toDouble, j.endMs.toDouble))
    } finally w.close()
  }
}

/** Per-job and per-task accounting, keyed by the job group the
  * benchmark sets for each traced op (`op-<n>`). */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs: mutable.ArrayBuffer[Job] = mutable.ArrayBuffer.empty
  val work: mutable.Map[Int, Work] = mutable.Map.empty
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobById = mutable.Map.empty[Int, Job]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val j = Job(e.jobId, op, e.time, e.time)
    jobs += j; jobById(e.jobId) = j
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => work.getOrElseUpdate(op, new Work).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOp.get(e.stageId).filter(_ => m != null).foreach { op =>
      val w = work.getOrElseUpdate(op, new Work)
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.recordsRead += m.inputMetrics.recordsRead
      w.bytesWritten += m.outputMetrics.bytesWritten
      w.recordsWritten += m.outputMetrics.recordsWritten
    }
  }
}

object JobListener {
  final case class Job(id: Int, op: Int, startMs: Long, var endMs: Long)
  final class Work {
    var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    var recordsRead = 0L; var bytesWritten = 0L; var recordsWritten = 0L
  }
}

/** Per-layer figures derived from the spans and job records of the
  * traced ops: each is a mean per traced op unless named otherwise. */
object Layers {

  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def unionMs(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** `summedMs` adds each layer's spans one by one (jobs that run side
    * by side count twice); the union-based figures partition the op
    * wall exactly, so `wallMs - summedMs` is what the per-span sums
    * fail to account for. */
  final case class OpLayers(
      wallMs: Double, frameSelfMs: Double, frameJobs: Int,
      analysisMs: Double, optimizationMs: Double, planningMs: Double,
      planSelfMs: Double, jobs: Int, jobMs: Double, driverGapMs: Double,
      summedMs: Double) {
    def residualMs: Double = wallMs - summedMs
  }

  /** One record per root span (an op, or a step scheduled after it),
    * over the spans and jobs of its op that start inside it. */
  def perRoot(tr: Tracer, jl: JobListener): Seq[OpLayers] = {
    val byOp = tr.spans.groupBy(_.op)
    val jobsByOp = jl.jobs.groupBy(_.op)
    tr.spans.filter(_.layer == "op").toSeq.map { root =>
      val (lo, hi) = (root.startMs, root.endMs)
      def within(a: Double) = a >= lo && a <= hi
      val ss = byOp(root.op).filter(s => s.layer != "op" && within(s.startMs))
      val jobs = jobsByOp.getOrElse(root.op, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble))
        .filter(j => within(j._1)).toSeq
      val frames = ss.filter(_.layer == "frame").map(s => (s.startMs, s.endMs)).toSeq
      val plans = ss.filter(_.layer == "plan")
      val planIv = plans.map(s => (s.startMs, s.endMs)).toSeq
      val jobU = unionMs(jobs, lo, hi)
      val planJobU = unionMs(planIv ++ jobs, lo, hi)
      val covered = unionMs(frames ++ planIv ++ jobs, lo, hi)
      def phase(n: String) = plans.filter(_.name == n).map(_.ms).sum
      def inside(iv: (Double, Double), f: (Double, Double)) = iv._1 >= f._1 && iv._1 <= f._2
      val frameSum = frames.map { f =>
        (f._2 - f._1) - (planIv ++ jobs).filter(inside(_, f))
          .map { case (a, b) => math.min(b, f._2) - a }.sum
      }.sum
      val gap = root.ms - covered
      OpLayers(root.ms, covered - planJobU, jobs.count(j => frames.exists(inside(j, _))),
        phase("analysis"), phase("optimization"), phase("planning"), planJobU - jobU,
        jobs.size, jobU, gap,
        frameSum + plans.map(_.ms).sum + jobs.map { case (a, b) => b - a }.sum + gap)
    }
  }
}
