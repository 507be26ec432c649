package graft

/** Per-round benchmark. Prints ONE compact JSON line (the driver's
  * tail capture is 2000 chars — the line must stay well under that,
  * so we report a curated headline set, not all ~100 queries).
  *
  * Protocol: quiesce gate (wait for loadavg to settle so the official
  * snapshot isn't a contended-machine artifact — rounds 3 and 4 both
  * were), one untimed warmup pass (JIT + codegen + parquet footer
  * caches), then two timed passes; per-query time is the min of the
  * two, with a third pass when they disagree by >30% (stderr logs
  * every pass WITH its start-of-pass loadavg for diagnosis).
  * promql_sum_rate gets min-of-5 — it drifted between rounds and the
  * extra passes pin down noise.
  *
  * Contended-snapshot guard (round 6 shipped a 2x-inflated artifact
  * when load arrived MID-run, after the start gate passed): after the
  * main loop, any query whose best pass still exceeds 2x its cleanest
  * prior-round time (min across every BENCH_r*.json in the repo — so
  * one dirty round can't poison the reference) waits for quiet and
  * re-runs. The artifact stamps the loadavg of each query's winning
  * pass ("loads", aligned with the queries object) and the rerun count;
  * full per-pass load stamps are on stderr (the tail budget can't hold
  * them all).
  */
object Bench {

  /** Headline set: TSBS-comparable (BASELINE.md) first, then the
    * scan/shuffle-heavy representative of each operator family. */
  val headline: Vector[String] = Vector(
    "tsbs_single_groupby_1_1_12", "tsbs_cpu_max_all_8",
    "tsbs_double_groupby_1", "tsbs_double_groupby_all",
    "tsbs_high_cpu_all", "groupby_orderby_limit", "lastpoint",
    "scan_filter_project", "agg_groupby", "agg_cube", "join_multiway",
    "join_inequality", "window_rank", "range_tumbling", "range_sliding",
    "range_fill_linear", "range_percentile", "promql_sum_rate", "promql_topk",
    "dedup_minhash", "dedup_ngram_jaccard", "dedup_incremental",
    "dedup_two_level", "merge_compacted_read", "similarity_topk",
    "similarity_ivf", "similarity_ivf_persisted",
    "text_stats", "text_tfidf", "cluster_kmeans",
    "dedup_boilerplate", "text_decontaminate",
    "text_substring_dedup", "text_substring_keep1", "pack_sequences",
    "multimodal_dedup_pipeline", "multimodal_neardup_pipeline",
    "pipeline_etl", "ingest_influx_lp", "ingest_flight")

  /** Quiet-machine reference seeds for queries with no committed
    * same-basis BENCH_r*.json history yet (first round in the
    * headline): without a reference the contended-snapshot guard is
    * blind to them — an r8 dev run caught multimodal_neardup_pipeline
    * at 6.4 s (3.3x its quiet 1.93 s) purely from a mid-run load
    * bounce, and nothing re-ran it. Each seed is (wall, basis): a seed
    * applies ONLY while no committed same-basis artifact carries the
    * key (a committed round then fully replaces it — the seed never
    * participates in the min again) and is dropped outright by a
    * measurementBasis bump (ADVICE r9: the old unconditional min meant
    * a permanently-low seed outlived every committed artifact). */
  private val seedRefs: Map[String, (Double, Int)] = Map(
    "text_substring_keep1" -> ((1.49, 6)),
    "multimodal_neardup_pipeline" -> ((1.93, 6)),
    "dedup_incremental" -> ((3.76, 6)),
    "dedup_two_level" -> ((1.81, 6)),
    // r10: quiet walls for the two headline entries the interrupted
    // build round added — without a seed the contended-snapshot guard
    // is blind to them (an unhealed 8 s merge_compacted_read pass
    // shipped in an r10 dev run exactly this way)
    "merge_compacted_read" -> ((5.8, 6)),
    "similarity_ivf_persisted" -> ((2.0, 6)))

  /** Queries whose round-over-round drift warranted extra passes. */
  private val minOfFive = Set("promql_sum_rate")

  /** Ingest queries also report rows/s (BASELINE.md's 326k rows/s
    * line-protocol number is throughput, not wall time). */
  private val ingestRows = Set("ingest_influx_lp", "ingest_flight")

  private def loadavg: Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** Measurement-basis epoch. Rounds before this one measured
    * DIFFERENT work under the same query keys (r1-r5: text_stats /
    * pipeline_etl timed a `count()`-pruned wall, ingest fixtures were
    * 10x smaller), so their minimums are permanently-unreachable
    * references that made the rerun guard fire on every quiet run.
    * Bump this when a headline query's measured work changes; the
    * value is stamped into the artifact as `"basis"` and priorBest()
    * only trusts rounds >= it. */
  private val measurementBasis = 6

  /** Cleanest prior time per headline query: the MIN across every
    * BENCH_r*.json committed in the repo WITH THE CURRENT MEASUREMENT
    * BASIS (round number >= measurementBasis, and any explicit
    * `"basis"` stamp must match), parsed leniently from the driver's
    * tail capture (the metric line appears JSON-escaped inside the
    * "tail" string). Ingest rows/s values share keys with the queries
    * object but are orders of magnitude larger — min() keeps the
    * seconds. */
  private def priorBest(): Map[String, Double] = {
    val re = """\\?"([a-z0-9_]+)\\?":([0-9]+\.?[0-9]*)""".r
    val roundRe = """BENCH_r(\d+)\.json""".r
    val basisRe = """\\?"basis\\?":(\d+)""".r
    val names = headline.toSet
    val acc = scala.collection.mutable.Map.empty[String, Double]
    // cwd first (the driver runs sbt from the repo root), then the
    // canonical repo path — launching from elsewhere must not silently
    // disable the guard
    val files = Seq(".", "/root/repo").iterator
      .map(d => Option(new java.io.File(d).listFiles()).getOrElse(Array())
        .filter { f =>
          f.getName match {
            case roundRe(n) => n.toInt >= measurementBasis
            case _          => false
          }
        })
      .find(_.nonEmpty).getOrElse(Array())
    if (files.isEmpty)
      Console.err.println("[bench-rerun] WARNING: no BENCH_r*.json found — contended-snapshot guard has no reference")
    for (f <- files) {
      val txt =
        try { val s = scala.io.Source.fromFile(f); try s.mkString finally s.close() }
        catch { case _: Throwable => "" }
      val sameBasis = basisRe.findFirstMatchIn(txt)
        .forall(_.group(1).toInt == measurementBasis)
      if (!sameBasis)
        Console.err.println(s"[bench-rerun] skipping ${f.getName}: different measurement basis")
      for (m <- re.findAllMatchIn(txt); if sameBasis && names(m.group(1))) {
        val v = m.group(2).toDouble
        // < 50 ms is a fast-FAIL wall (once() records elapsed time even
        // when the query threw), not a clean reference — no healthy
        // headline query finishes that fast
        if (v > 0.05) acc(m.group(1)) = math.min(acc.getOrElse(m.group(1), v), v)
      }
    }
    // seed references only where no committed artifact speaks yet;
    // once a round lands in git, its (same-basis) min REPLACES the seed
    seedRefs.foreach { case (k, (v, basis)) =>
      if (basis == measurementBasis && !acc.contains(k)) acc(k) = v
    }
    acc.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // quiesce gate: end-of-round snapshots ran concurrent with other
    // work twice (r3 2.5×, r4 2.6× a clean run). Wait for the machine
    // to settle — bounded so a busy driver can't stall the round.
    val skipGate = sys.env.contains("SPARK_GRAFT_BENCH_NOWAIT")
    var waited = 0
    while (!skipGate && loadavg >= 2.0 && waited < 300) {
      Console.err.println(f"[bench-gate] loadavg=${loadavg}%.1f >= 2.0, waiting (${waited}s/300s)")
      Thread.sleep(15000)
      waited += 15
    }
    // stamp the PRE-run value: the 32-core bench itself drives loadavg
    // up, so the end-of-run loadavg alone can't show the gate passed
    val loadAtGate = loadavg

    val spark = LocalSession()

    val qs = SparkEntry.queries
    // dev filter: SPARK_GRAFT_BENCH_ONLY=a,b restricts the set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = headline.filter(qs.contains).filter(n => only.forall(_.contains(n)))

    // seconds + rows. For ingest entries "rows" is the INGESTED count
    // (the per-type `n` totals), not the handful of aggregated output
    // rows — that's the basis the baseline's 326k rows/s uses.
    // Non-ingest queries materialize via a full-column checksum, NOT
    // count(): count() lets the optimizer prune final projections, so
    // per-row transform entries (text_stats, dedup_boilerplate's
    // rebuild) timed a bare scan (round-6 step change, disclosed in
    // BENCH_NOTES with before/after).
    def once(name: String): (Double, Long, Double) = {
      import org.apache.spark.sql.functions.{bit_xor, col, sum, xxhash64}
      val loadAtStart = loadavg
      val t0 = System.nanoTime()
      val rows =
        try {
          val df = qs(name)(spark, sfDir)
          if (ingestRows(name) && df.columns.contains("n")) {
            val r = df.agg(sum("n")).head
            if (r.isNullAt(0)) 0L else r.getLong(0)
          } else {
            try { df.select(bit_xor(xxhash64(df.columns.map(col): _*))).head; 0L }
            catch { case _: org.apache.spark.sql.AnalysisException =>
              df.count() // unhashable column type (map): fall back
            }
          }
        } catch { case e: Throwable =>
          Console.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          0L
        }
      ((System.nanoTime() - t0) / 1e9, rows, loadAtStart)
    }

    def passLog(name: String, tag: String, t: Double,
        passes: Seq[(Double, Long, Double)]): Unit =
      Console.err.println(f"[$tag] $name%-28s $t%8.3f s  passes=" +
        passes.map(x => f"${x._1}%.3f@${x._3}%.1f").mkString(","))

    for (n <- names) { val t = once(n)._1; Console.err.println(f"[bench-warm] $n%-28s $t%8.2f s") }
    // a loaded machine inflates wall time non-uniformly: min-of-2, a
    // THIRD pass when they disagree by >30%, min-of-5 for the drifters
    val timed = names.map { n =>
      val first = Seq(once(n), once(n))
      val (a, b) = (first(0)._1, first(1)._1)
      val extra =
        if (minOfFive(n)) Seq.fill(3)(once(n))
        else if (math.abs(a - b) > 0.3 * math.max(a, b)) Seq(once(n))
        else Nil
      val passes = first ++ extra
      val best = passes.minBy(_._1)
      val rows = passes.head._2
      spark.catalog.clearCache()
      passLog(n, "bench", best._1, passes)
      (n, best._1, rows, best._3)
    }

    // contended-snapshot guard: re-MEASURE (never adopt a reference)
    // any query whose main-loop best looks load-shaped. Two triggers
    // (r8's official artifact showed the old 2x-only threshold passes a
    // 1.3-1.7x contamination band through on ~10 queries):
    //   wall: best > 1.4x the cleanest same-basis committed round —
    //     catches UNIFORM background load, which inflates every wall
    //     but leaves per-query load stamps near the run median;
    //   load: the winning pass started under > 2x the run's median
    //     load (and the wall is at least 1.15x ref, else there is
    //     nothing to heal) — catches a MID-RUN load bounce that hits a
    //     few queries hard but may stay under 1.4x on the fast ones.
    // Quiet-run false-positive audit: the bench's own load settles ~3
    // mid-run, so median ~3 and the load trigger needs a 6+ stamp; the
    // wall trigger needs a 1.4x step vs the min of every committed
    // same-basis round — r8's quiet-vs-quiet per-query deltas were
    // <=1.25x. A false trigger costs two extra passes, never a wrong
    // number (min of all passes wins).
    val refs = priorBest()
    val medianLoad = {
      val ls = timed.map(_._4).filter(_ >= 0).sorted
      if (ls.isEmpty) -1.0 else ls(ls.length / 2)
    }
    def contaminated(n: String, t: Double, lmin: Double): Option[String] = {
      val hotLoad = medianLoad > 0 && lmin > 2 * medianLoad
      refs.get(n) match {
        case Some(r) if t > 1.4 * r =>
          Some(f"wall $t%.3f > 1.4x ref $r%.3f")
        case Some(r) if hotLoad && t > 1.15 * r =>
          Some(f"winning-pass load $lmin%.1f > 2x median $medianLoad%.1f, wall $t%.3f vs ref $r%.3f")
        case None if hotLoad =>
          Some(f"winning-pass load $lmin%.1f > 2x median $medianLoad%.1f (no committed ref)")
        case _ => None
      }
    }
    var reruns = 0
    var rerunWaited = 0 // one GLOBAL budget: 31 tripped queries must not stall 31x
    val healed = timed.map { case rec @ (n, t, rows, lmin) =>
      contaminated(n, t, lmin) match {
        case Some(why) =>
          while (!skipGate && loadavg >= 1.5 && rerunWaited < 300) {
            Console.err.println(f"[bench-rerun-gate] loadavg=$loadavg%.1f, waiting (${rerunWaited}s/300s)")
            Thread.sleep(10000)
            rerunWaited += 10
          }
          val extra = Seq(once(n), once(n))
          spark.catalog.clearCache()
          val best = ((t, rows, lmin) +: extra).minBy(_._1)
          reruns += 1
          passLog(n, "bench-rerun", best._1, extra)
          Console.err.println(f"[bench-rerun] $n ($why) -> ${best._1}%.3f")
          (n, best._1, rows, best._3)
        case None => rec
      }
    }

    val total = healed.map(_._2).sum
    // loadavg stamps: overall end-of-run + per-query load at the start
    // of the WINNING pass ("loads" aligns with the queries object) —
    // lets a reader spot a contended snapshot per query at a glance.
    // Calibration: the 32-thread bench's OWN load settles around 2-4
    // once the run is a few minutes in (quiet-machine runs read ~3.0
    // across the board); contention reads as clearly higher (r6's bad
    // snapshot would have stamped 10-30 on the inflated queries)
    val load = f"$loadavg%.1f"
    val body = healed.map { case (k, v, _, _) => f""""$k":$v%.3f""" }.mkString(",")
    val loads = healed.map { case (_, _, _, l) => f"$l%.1f" }.mkString(",")
    val ingest = healed.collect { case (k, v, rows, _) if ingestRows(k) && v > 0 =>
      f""""$k":${rows / v}%.0f""" }.mkString(",")
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{$body},"ingest_rows_per_s":{$ingest},"loads":[$loads],"reruns":$reruns,"basis":$measurementBasis,"sf":"$sfDir","loadavg":$load,"loadavg_at_gate":$loadAtGate%.1f}"""
    println(json)
    // belt-and-braces for the driver contract (r10 verdict: the JSON
    // line reached the driver only as an sbt "[info]"-prefixed line and
    // could not be parsed, two rounds running): also persist the line
    // to bench.json in the launch directory
    try {
      val w = new java.io.PrintWriter("bench.json")
      try w.println(json) finally w.close()
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] bench.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
