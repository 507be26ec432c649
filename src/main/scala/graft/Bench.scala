package graft

/** Per-round benchmark. Prints ONE compact JSON line (the driver's
  * tail capture is 2000 chars — the line must stay well under that,
  * so we report a curated headline set, not all ~100 queries).
  *
  * Protocol: quiesce gate (wait, at most 300 s, for loadavg to drop
  * under 2.0 so the snapshot isn't a contended-machine artifact), one
  * untimed warmup pass (JIT + codegen + parquet footer caches), then two
  * timed passes; per-query time is the min of the two, with a third
  * pass when they disagree by >30%. promql_sum_rate gets min-of-5 — it
  * drifted between rounds and the extra passes pin down noise. stderr
  * logs every pass WITH its start-of-pass loadavg; the artifact stamps
  * the loadavg of each query's winning pass ("loads", aligned with the
  * queries object). Walls compare only against runs on the same host.
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

  /** Queries whose round-over-round drift warranted extra passes. */
  private val minOfFive = Set("promql_sum_rate")

  /** Ingest queries also report rows/s (BASELINE.md's 326k rows/s
    * line-protocol number is throughput, not wall time). */
  private val ingestRows = Set("ingest_influx_lp", "ingest_flight")

  private def loadavg: Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

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
      Console.err.println(f"[bench] $n%-28s ${best._1}%8.3f s  passes=" +
        passes.map(x => f"${x._1}%.3f@${x._3}%.1f").mkString(","))
      (n, best._1, rows, best._3)
    }

    val total = timed.map(_._2).sum
    // loadavg stamps: overall end-of-run + per-query load at the start
    // of the WINNING pass ("loads" aligns with the queries object) —
    // lets a reader spot a contended snapshot per query at a glance.
    // Calibration: the 32-thread bench's OWN load settles around 2-4
    // once the run is a few minutes in (quiet-machine runs read ~3.0
    // across the board); contention reads as clearly higher (r6's bad
    // snapshot would have stamped 10-30 on the inflated queries)
    val load = f"$loadavg%.1f"
    val body = timed.map { case (k, v, _, _) => f""""$k":$v%.3f""" }.mkString(",")
    val loads = timed.map { case (_, _, _, l) => f"$l%.1f" }.mkString(",")
    val ingest = timed.collect { case (k, v, rows, _) if ingestRows(k) && v > 0 =>
      f""""$k":${rows / v}%.0f""" }.mkString(",")
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{$body},"ingest_rows_per_s":{$ingest},"loads":[$loads],"sf":"$sfDir","loadavg":$load,"loadavg_at_gate":$loadAtGate%.1f}"""
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
