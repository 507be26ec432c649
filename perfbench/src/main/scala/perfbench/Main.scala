package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client thread, each op sent after
  * the previous one completed.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --tmp <dir> --trace-dir <dir>
  * }}}
  *
  * Everything the run writes lives under `--tmp` (deleted on exit);
  * the traced run (`--trace 1`) also leaves its spans and layer figures
  * in `--trace-dir`. The last stdout line is the result JSON; lines
  * before it (prefixed `#`) carry the settings, sample counts and host
  * stamps. Exit codes: 0 done, 2 bad arguments, 3 setup failed, 4 the
  * timed run failed outright. */
object Main {

  /** Pinned engine settings: never taken from the environment or the
    * machine size, so every run of every commit measures the same. */
  val Threads = 2
  val ShufflePartitions = 4
  val SetupRuns = 3
  /** Hard stop for the timed loop, well inside a run's time limit. */
  val MaxLoopSeconds = 120

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tmp: java.io.File, traceDir: java.io.File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      new java.io.File(need("tmp")), new java.io.File(need("trace-dir")))
  }

  val workloads: Map[String, Env => Workload] = Map(
    "ts_dashboard" -> (new TsDashboard(_)),
    "upsert_ingest" -> (new UpsertIngest(_)),
    "dedup_stream" -> (new DedupStream(_)))

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a =
      try parse(argv)
      catch { case NonFatal(e) => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2) }
    val make = workloads.getOrElse(a.workload, {
      System.err.println(s"perfbench: unknown workload ${a.workload}; one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    a.tmp.mkdirs()
    val code =
      try run(a, make, t0)
      finally Disk.delete(a.tmp)
    sys.exit(code)
  }

  private def session(tmp: java.io.File): SparkSession = {
    def dir(n: String) = new java.io.File(tmp, n).getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", Threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("spark-warehouse"))
      .config("graft.checkpoint.dir", dir("checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(a: Args, make: Env => Workload, t0: Long): Int = {
    val spark = session(a.tmp)
    try {
      val sparkStartS = (System.nanoTime() - t0) / 1e9
      val tracer = new Tracer
      val env = new Env(spark, a.seed, tracer)
      val wl = make(env)

      // build the workload state SetupRuns times, each on fresh dirs;
      // the last state is warmed up once and then timed
      val setups = (1 to SetupRuns).map { n =>
        val s0 = System.nanoTime()
        try {
          if (n > 1) Disk.delete(new java.io.File(a.tmp, s"state-${n - 1}"))
          wl.setup(new java.io.File(a.tmp, s"state-$n"))
        } catch {
          case NonFatal(e) =>
            System.err.println(s"perfbench: setup of workload ${a.workload} failed: $e")
            e.printStackTrace()
            return 3
        }
        (System.nanoTime() - s0) / 1e9
      }
      val w0 = System.nanoTime()
      (0 until wl.warmupOps).foreach { i =>
        val r =
          try wl.op(i, new OpTimer(tracer))
          catch { case NonFatal(e) => OpResult(0, Seq(e.toString)) }
        if (r.mismatches.nonEmpty) {
          System.err.println(s"perfbench: warm-up of workload ${a.workload} failed: ${r.mismatches.mkString("; ")}")
          return 3
        }
      }
      val warmupS = (System.nanoTime() - w0) / 1e9
      val setupS = sparkStartS + Stats.median(setups) + warmupS
      System.err.println(f"perfbench: spark $sparkStartS%.2f s, setups ${setups.map(x => f"$x%.2f").mkString("/")} s, warm-up $warmupS%.2f s")

      val r = timedLoop(a, wl, env, spark, t0)
      report(a, wl, env, r, setupS, setups, sparkStartS, warmupS)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: workload ${a.workload} failed: $e")
        e.printStackTrace()
        4
    } finally spark.stop()
  }

  /** One timed op: latency (+Inf when it failed), timed wall, items. */
  final case class Sample(ms: Double, wallMs: Double, items: Long, traced: Boolean, failed: Boolean)

  final case class Host(cpuNs: Long, gcMs: Long, steal: Long, total: Long)

  private def hostNow(): Host = {
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // /proc/stat "cpu" line: user nice system idle iowait irq softirq steal ...
    val (steal, total) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
        (f(7), f.sum)
      } catch { case NonFatal(_) => (0L, 0L) }
    Host(cpu, gc, steal, total)
  }

  final case class Loop(samples: Seq[Sample], failures: Seq[String], before: Host, after: Host,
      heapPeakMb: Double, jl: JobListener)

  private def timedLoop(a: Args, wl: Workload, env: Env, spark: SparkSession, t0: Long): Loop = {
    val sc = spark.sparkContext
    val jl = new JobListener
    val heap = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    env.recording = true
    val before = hostNow()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val hardStop = t0 + MaxLoopSeconds * 1000000000L
    var n = 0
    while ((System.nanoTime() < deadline || n % wl.cycle != 0) && System.nanoTime() < hardStop) {
      val i = wl.warmupOps + n
      // the traced run alternates traced and untraced cycles, so the
      // trace's cost is measured on the same state and the same seed
      val traced = a.trace && (n / wl.cycle) % 2 == 0
      if (traced) {
        env.tracer.op = i
        sc.setJobGroup(s"op-$i", s"perfbench op $i", interruptOnCancel = false)
        sc.addSparkListener(jl)
      }
      val t = new OpTimer(env.tracer)
      val (items, bad) =
        try {
          val r = wl.op(i, t)
          (r.items, r.mismatches)
        } catch { case NonFatal(e) => (0L, Seq(s"op $i failed: $e")) }
      finally if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(jl)
        sc.clearJobGroup()
        env.tracer.op = -1
      }
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
      failures ++= bad
      samples += Sample(if (bad.isEmpty) t.opMs else Double.PositiveInfinity,
        t.opMs + t.extraMs, if (bad.isEmpty) items else 0L, traced, bad.nonEmpty)
      n += 1
    }
    env.recording = false
    val after = hostNow()
    Loop(samples.toSeq, failures.toSeq, before, after, heapPeak / 1048576.0, jl)
  }

  private def report(a: Args, wl: Workload, env: Env, r: Loop, setupS: Double,
      setups: Seq[Double], sparkS: Double, warmupS: Double): Int = {
    val finalBad = try wl.finish() catch { case NonFatal(e) => Seq(s"end-of-run check failed: $e") }
    val (bytes, rows) = wl.stored
    val all = r.samples
    val timed = if (a.trace) all.filter(_.traced) else all
    val lat = timed.map(_.ms)
    val (tailPct, tailMs) = Stats.tail(lat)
    val wallS = all.map(_.wallMs).sum / 1000.0
    val items = all.map(_.items).sum
    val cpuMs = (r.after.cpuNs - r.before.cpuNs) / 1e6
    val gcMs = (r.after.gcMs - r.before.gcMs).toDouble
    val totalTicks = r.after.total - r.before.total
    val stealFrac = if (totalTicks > 0) (r.after.steal - r.before.steal).toDouble / totalTicks else 0.0
    val loadavg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val failed = all.count(_.failed)
    val correct = failed == 0 && finalBad.isEmpty

    def out(s: String): Unit = println(s"# $s")
    val rt = Runtime.getRuntime
    out(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    out(s"settings: master=local[$Threads] shuffle.partitions=$ShufflePartitions tz=UTC aqe=true " +
      s"heap_max_mb=${rt.maxMemory / 1048576} java=${System.getProperty("java.version")} " +
      s"nproc=${rt.availableProcessors} setup_runs=$SetupRuns clients=1 loop=closed")
    out(f"setup_s = spark start $sparkS%.2f + median state build of ${setups.map(s => f"$s%.2f").mkString("/")} + warm-up $warmupS%.2f s")
    out(f"ops attempted=${all.size} failed=$failed timed=${lat.size} " +
      f"op_latency_ms p50=${Stats.median(lat)}%.2f p$tailPct%.1f=$tailMs%.2f " +
      f"(${Stats.beyond(lat.size)} of ${lat.size} samples beyond) items=$items ${wl.itemUnit} wall_s=$wallS%.2f")
    out(s"op_ms: ${all.map(x => f"${x.ms}%.0f").mkString(" ")}")
    env.kinds.foreach { case (k, xs) =>
      out(f"kind $k: p50=${Stats.median(xs.toSeq)}%.2f ms n=${xs.size} " + xs.map(x => f"$x%.0f").mkString(" "))
    }
    out(f"stamps: host.steal_frac=$stealFrac%.4f host.loadavg=$loadavg%.2f jvm.gc_ms=$gcMs%.0f " +
      f"proc.cpu_s=${cpuMs / 1000}%.2f jvm.heap_peak_mb=${r.heapPeakMb}%.0f")
    (r.failures ++ finalBad).take(20).foreach(f => System.err.println(s"perfbench: check failed: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_latency_ms", Stats.median(lat), "ms"),
        ("op_latency_tail_ms", tailMs, "ms"),
        ("items_per_s", items / wallS, "1/s"),
        ("cpu_ms_per_op", cpuMs / all.size, "ms"),
        ("stored_bytes_per_row", bytes.toDouble / rows, "B"))
      else layerMetrics(a, wl, env, r, all, gcMs, cpuMs, stealFrac, loadavg)
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${all.size}, "failed": $failed, "metrics": $json}""")
    0
  }

  /** Full-precision JSON number; a failed-op infinity reads as 1e300. */
  def num(v: Double): String =
    if (v.isNaN) "0" else if (v.isInfinite) "1.0E300" else java.lang.Double.toString(v)

  private def layerMetrics(a: Args, wl: Workload, env: Env, r: Loop, all: Seq[Sample],
      gcMs: Double, cpuMs: Double, stealFrac: Double, loadavg: Double): Seq[(String, Double, String)] = {
    val tr = env.tracer
    val traced = all.filter(_.traced)
    val ops = math.max(1, traced.size).toDouble
    val layers = Layers.perRoot(tr, r.jl)
    def per(f: Layers.OpLayers => Double) = layers.map(f).sum / ops
    val work = r.jl.work.collect { case (op, wk) if op >= 0 => wk }.toSeq
    def w(f: JobListener.Work => Long) = work.map(f).sum.toDouble
    val rowsOut = w(_.recordsWritten) + env.rowsReturned
    val reads = env.readPaths.values.sum.toDouble
    val (untracedMs, tracedMs) =
      (Stats.median(all.filterNot(_.traced).map(_.ms)), Stats.median(traced.map(_.ms)))
    val wallSum = layers.map(_.wallMs).sum
    val dupFrac = wl match {
      case d: DedupStream => d.dupFrac
      case _ => 0.0
    }
    val ms = Seq(
      ("sql.frame_ms", per(_.frameSelfMs), "ms"),
      ("sql.frame_jobs", per(_.frameJobs.toDouble), "count"),
      ("plan.analysis_ms", per(_.analysisMs), "ms"),
      ("plan.optimization_ms", per(_.optimizationMs), "ms"),
      ("plan.planning_ms", per(_.planningMs), "ms"),
      ("exec.jobs", per(_.jobs.toDouble), "count"),
      ("exec.stages", w(_.stages) / ops, "count"),
      ("exec.tasks", w(_.tasks) / ops, "count"),
      ("exec.job_ms", per(_.jobMs), "ms"),
      ("exec.driver_gap_ms", per(_.driverGapMs), "ms"),
      ("exec.task_run_ms", w(_.runMs) / ops, "ms"),
      ("exec.task_cpu_ms", w(_.cpuNs) / 1e6 / ops, "ms"),
      ("exec.shuffle_write_bytes", w(_.shuffleWriteBytes) / ops, "B"),
      ("exec.records_read_per_row_out", if (rowsOut > 0) w(_.recordsRead) / rowsOut else 0.0, "ratio"),
      ("model.data_files", wl.dataFiles.toDouble, "count"),
      ("model.bytes_written_per_row", if (w(_.recordsWritten) > 0) w(_.bytesWritten) / w(_.recordsWritten) else 0.0, "B"),
      ("model.read_clean_frac", if (reads > 0) env.readPaths("clean") / reads else 0.0, "1"),
      ("model.read_delta_frac", if (reads > 0) env.readPaths("delta") / reads else 0.0, "1"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("jvm.heap_peak_mb", r.heapPeakMb, "MB"),
      ("proc.cpu_s", cpuMs / 1000, "s"),
      ("host.steal_frac", stealFrac, "1"),
      ("host.loadavg", loadavg, "1"),
      ("trace.overhead_frac", tracedMs / untracedMs - 1, "1"))
    a.traceDir.mkdirs()
    val base = new java.io.File(a.traceDir, s"${a.workload}-seed${a.seed}-${ProcessHandle.current.pid}")
    tr.write(new java.io.File(base.getPath + ".spans.jsonl"), r.jl.jobs.toSeq)
    val extra = env.kinds.map { case (k, xs) => (s"kind.${k}_ms", Stats.median(xs.toSeq), "ms") } ++ Seq(
      ("dedup.dup_frac", dupFrac, "1"),
      ("exec.task_gc_ms", w(_.gcMs) / ops, "ms"),
      ("exec.spill_bytes", w(_.spillBytes) / ops, "B"),
      ("trace.residual_ms", layers.map(_.residualMs).sum / ops, "ms"),
      ("trace.residual_frac", if (wallSum > 0) layers.map(_.residualMs).sum / wallSum else 0.0, "1"),
      ("model.stored_bytes", wl.stored._1.toDouble, "B"))
    val pw = new java.io.PrintWriter(new java.io.File(base.getPath + ".layers.json"), "UTF-8")
    try pw.println((ms ++ extra).map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{\n", ",\n", "\n}"))
    finally pw.close()
    println(s"# trace: ${base.getPath}.{spans.jsonl,layers.json} spans=${tr.spans.size} traced_ops=${traced.size}")
    extra.foreach { case (k, v, u) => println(f"# $k = $v%.3f $u") }
    ms
  }
}
