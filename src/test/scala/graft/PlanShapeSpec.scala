package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.StageMeter

/** Plan-shape regression gate for the headline bench queries — pins the
  * structural properties the bench numbers depend on, so wall-clock
  * drift is attributable to the machine, not a silently changed plan.
  * This is the engine-side replacement for what the reference's
  * excluded optimizer corpus pins textually
  * (tests/cases/standalone/optimizer/filter_push_down.sql): the same
  * properties — pushdown, broadcast choice, top-k pruning — asserted
  * structurally on Spark's formatted physical plan. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private val dir = "/root/testdata/sf0.001"

  private val plans = scala.collection.mutable.Map.empty[String, String]
  private def plan(name: String): String = plans.getOrElseUpdate(name,
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))

  /** Distinct node ids of `op`, from the formatted plan's detail section
    * ("(12) BroadcastHashJoin") where every node appears exactly once
    * with no tree modifiers; the ") " anchor keeps "Exchange" from also
    * matching BroadcastExchange nodes. */
  private def nodeIds(p: String, op: String): Set[String] =
    ("\\((\\d+)\\) " + java.util.regex.Pattern.quote(op) + "(?![A-Za-z])").r
      .findAllMatchIn(p).map(_.group(1)).toSet

  test("no CartesianProduct in any headline bench plan") {
    // BroadcastNestedLoopJoin over a broadcast query set is deliberate
    // (similarity_topk); an unbroadcast CartesianProduct never is
    for (n <- Bench.headline)
      assert(!plan(n).contains("CartesianProduct"), s"$n has a cartesian")
  }

  test("join_multiway: broadcast dims, single-shuffle agg, no sort-merge join") {
    val p = plan("join_multiway")
    assert(nodeIds(p, "BroadcastHashJoin").size == 2, p.take(800))
    assert(nodeIds(p, "SortMergeJoin").isEmpty)
    assert(nodeIds(p, "Exchange").size <= 2, // agg + output sort
      s"shuffles=${nodeIds(p, "Exchange")}")
  }

  test("TSBS scans push their filters into the parquet scan") {
    def pushed(n: String, frag: String): Unit = {
      val lines = plan(n).linesIterator.filter(_.contains("PushedFilters")).toSeq
      assert(lines.exists(_.contains(frag)), s"$n pushed: $lines")
    }
    pushed("tsbs_single_groupby_1_1_12", "EqualTo(user_id,1)")
    pushed("tsbs_high_cpu_all", "GreaterThan(value,")
    pushed("tsbs_cpu_max_all_8", "LessThan(user_id,8)")
  }

  test("top-k plans keep the WindowGroupLimit map-side prune") {
    for (n <- Seq("similarity_topk", "similarity_ivf", "lastpoint"))
      assert(nodeIds(plan(n), "WindowGroupLimit").size >= 2, // partial+final
        s"$n lost WindowGroupLimit")
    // the IVF probe joins the broadcast query-cell set, never shuffling
    // the corpus
    assert(nodeIds(plan("similarity_ivf"), "BroadcastHashJoin").nonEmpty)
    assert(nodeIds(plan("similarity_ivf"), "SortMergeJoin").isEmpty)
  }

  test("decontaminate_semantic: probe cells broadcast, corpus never sort-merges") {
    // the IVF decontamination serve path's scale property: the (probe,
    // cell) fan-out broadcasts into the cell-assigned corpus — a
    // SortMergeJoin here would shuffle the whole corpus per eval set
    val p = plan("decontaminate_semantic")
    assert(nodeIds(p, "BroadcastHashJoin").nonEmpty, "probe-side broadcast lost")
    assert(nodeIds(p, "SortMergeJoin").isEmpty, "corpus is being shuffled")
  }

  test("promql_sum_rate: one fold repartition + bounded agg shuffles") {
    // (series, chunk) repartition, aggregate exchange, output sort —
    // anything beyond that means the fold path regressed to a fan-out
    assert(nodeIds(plan("promql_sum_rate"), "Exchange").size <= 3,
      s"shuffles=${nodeIds(plan("promql_sum_rate"), "Exchange")}")
  }

  test("range_percentile: fold path shows no slot explode on the percentile side") {
    val p = plan("range_percentile")
    // explode-part agg, fold repartition, the fold side's exchange into
    // the (by, slot) full-outer join, output sort
    assert(nodeIds(p, "Exchange").size <= 4, s"shuffles=${nodeIds(p, "Exchange")}")
    // the fold keeps ONE Generate (the explode part's count path may
    // carry one); the old all-explode formulation had the percentile
    // riding a Generate into an ObjectHashAggregate
    assert(!p.contains("ObjectHashAggregate"), "percentile re-entered a buffer agg")
  }

  test("per-row curation ops shuffle nothing but the output sort") {
    // repetition stats and PII redaction are embarrassingly per-row:
    // any Exchange beyond the final orderBy means a regression
    for (n <- Seq("text_repetition", "text_pii_redact"))
      assert(nodeIds(plan(n), "Exchange").size <= 1,
        s"$n shuffles=${nodeIds(plan(n), "Exchange")}")
  }

  test("text_tfidf: window top-k prunes map-side, corpus count joins broadcast") {
    val p = plan("text_tfidf")
    assert(nodeIds(p, "WindowGroupLimit").size >= 2, "lost WindowGroupLimit")
    assert(nodeIds(p, "BroadcastNestedLoopJoin").nonEmpty, "N should broadcast")
    assert(nodeIds(p, "CartesianProduct").isEmpty)
    // no term-partitioned window (Zipf-head terms would be one
    // unsplittable hot partition); the static plan shows two explode
    // subtrees but they canonicalize identically (the `tf >= 1` guard
    // defeats pruning divergence) and AQE's stage cache runs one —
    // pinned at runtime by CurationScaleProbe stage/shuffle counts
    assert(nodeIds(p, "Window").size == 1, "df must not come from a term window")
    assert(nodeIds(p, "Generate").size <= 2)
  }

  test("text_decontaminate: probe grams broadcast, corpus grams combine map-side") {
    val p = plan("text_decontaminate")
    assert(nodeIds(p, "BroadcastHashJoin").nonEmpty, "probe side must broadcast")
    assert(nodeIds(p, "SortMergeJoin").isEmpty, "corpus gram stream must not shuffle for the join")
    assert(nodeIds(p, "HashAggregate").nonEmpty && nodeIds(p, "Exchange").size <= 3,
      s"shuffles=${nodeIds(p, "Exchange")}")
  }

  test("dedup_boilerplate: line text never shuffles, no line-partitioned window") {
    val p = plan("dedup_boilerplate")
    // a line-value window or row-granular line join would put a footer
    // shared by 100M docs into one hot task — the operator's own target
    // shape; frequencies must come from a map-combined hash aggregate
    assert(nodeIds(p, "Window").isEmpty, "line-partitioned window reintroduced")
    assert(nodeIds(p, "Generate").size <= 2, "corpus exploded more than needed")
    assert(nodeIds(p, "CartesianProduct").isEmpty)
  }

  test("cluster_kmeans: final assignment aggregates in bounded shuffles") {
    // the Lloyd iterations run as separate bounded jobs (k·dim partial
    // sums); the returned plan is scan + assignment UDF + one agg
    // exchange + output sort
    assert(nodeIds(plan("cluster_kmeans"), "Exchange").size <= 3,
      s"shuffles=${nodeIds(plan("cluster_kmeans"), "Exchange")}")
  }

  test("text_substring_dedup: hash-keyed stages only, no window, no cartesian") {
    // window hashes shuffle; the text must never key a row-granular
    // window (a 100M-copy repeated span is this operator's own target)
    val p = plan("text_substring_dedup")
    assert(nodeIds(p, "Window").isEmpty, "a text-keyed window appeared")
    assert(nodeIds(p, "CartesianProduct").isEmpty)
    assert(nodeIds(p, "Generate").size <= 2, "corpus exploded more than needed")
  }

  test("multimodal pipeline: decode UDF stays above the spread exchange") {
    // the r8 fix class: a deterministic decode UDF's isNotNull filter
    // was pushed BELOW the repartition Exchange, running the full
    // codec chain in the single pre-shuffle task and again after.
    // Nondeterministic decode UDFs keep every UDF out of anything
    // upstream of the first Exchange.
    for (name <- Seq("multimodal_dedup_pipeline", "multimodal_neardup_pipeline")) {
      val p = plan(name)
      val exch = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1).toInt)
      assert(exch.nonEmpty, s"$name: expected a spread exchange")
      // formatted plans number nodes leaf-up per subtree: the scan-side
      // Filter nodes carrying a UDF would sit at ids BELOW the first
      // Exchange of the decode subtree. Assert no Filter detail block
      // mentions a UDF at all — the only filters allowed to see UDF
      // output are post-decode null drops, which Spark renders on the
      // already-projected __k column, not as UDF(...) calls.
      assert(!filterConditions(p).exists(_.contains("UDF(")),
        s"$name: a Filter re-evaluates a decode UDF")
    }
  }

  /** Every Filter node's Condition line from a formatted plan. The
    * codegen annotation sits ON the operator line — "(3) Filter
    * [codegen id : 1]" — not below it (ADVICE r9: the old
    * line-after-Filter pattern never matched codegen'd Filters, so the
    * UDF-pushdown guard could pass vacuously). */
  private def filterConditions(p: String): Seq[String] =
    "\\(\\d+\\) Filter[^\\n]*\\nInput[^\\n]*\\nCondition : ([^\\n]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq

  test("filterConditions sees codegen-annotated UDF filters (negative control)") {
    // proves the matcher would catch the r8 bug class: a DETERMINISTIC
    // UDF filter inside WholeStageCodegen must surface in its Condition
    val f = org.apache.spark.sql.functions.udf((s: Long) => s % 2 == 0)
    val df = spark.range(100).filter(f(org.apache.spark.sql.functions.col("id")))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val conds = filterConditions(p)
    assert(conds.nonEmpty, s"matcher found no Filter at all:\n$p")
    assert(conds.exists(_.contains("UDF(")),
      s"matcher missed the UDF condition: $conds\n$p")
  }

  test("sample_stratified: quota window prunes map-side (WindowGroupLimit)") {
    // the per-stratum top-n quota is scale-safe ONLY through Spark's
    // rank-limit pushdown: each task pre-prunes to n rows per stratum
    // before the shuffle, so the final window sees <= n x partitions
    // rows, never a stratum-sized partition
    assert(nodeIds(plan("sample_stratified"), "WindowGroupLimit").size >= 2,
      "quota path lost the map-side rank-limit prune")
  }

  test("sample_token_budget: no window stage in any EXECUTED plan") {
    // the mixture draw at 100 TB has ~10 strata and ~1e9 docs: a
    // Window.partitionBy(stratum) cumulative sum would serialize each
    // stratum through one task. tokenBudget materializes eagerly, so
    // the static plan of the returned frame is just a checkpoint scan —
    // pin the RUNTIME property instead: every query execution the
    // operator triggers must be Window-free.
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = seen.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("sample_token_budget")(spark, dir).collect()
      // the listener bus is async: the operator triggers >= 2
      // executions (subtotal collect, materialization) + final collect
      var spins = 0
      while (seen.size < 3 && spins < 40) { Thread.sleep(250); spins += 1 }
      assert(seen.size >= 3, s"captured only ${seen.size} executions")
      val windowed = seen.toArray.map(_.toString).filter(_.contains("Window"))
      assert(windowed.isEmpty,
        s"a Window stage executed:\n${windowed.headOption.getOrElse("")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("text_tfidf: RUNTIME stage count pins the AQE stage-cache single scan") {
    // The single-corpus-scan guarantee rests on the no-op `tf >= 1`
    // guard keeping both aggregate subtrees canonically identical so
    // AQE's stage cache deduplicates them (TfIdf.topTerms). The static
    // plan can't show this — it always prints two Generate subtrees —
    // so pin it at runtime: a Spark upgrade that breaks stage-cache
    // reuse re-scans and re-explodes the corpus (a second ~6-stage
    // chain and ~2x shuffle) and must fail here, not in a probe.
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$sf01/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val m = StageMeter.measure(spark)(
      graft.operators.TfIdf.topTerms(docs, "doc_id", "text", k = 3).count())
    assert(m.result > 0)
    // measured baseline: 8 stages, 1.75 MB shuffle; a lost stage-cache
    // reuse adds a >= 4-stage second scan chain and ~8 MB of duplicate
    // explode+aggregate shuffle at this SF
    assert(m.stages <= 11, s"stages=${m.stages} (baseline 8)")
    assert(m.shuffleWriteBytes <= 4L * 1024 * 1024,
      s"shuffleMB=${m.shuffleMB} (baseline ~1.75)")
  }

  test("dedup_ngram_jaccard: stage count and shuffle bytes stay bounded at sf0.1") {
    // Pins the RUNTIME structure (the static plan hides the persisted
    // candidate/doc sub-jobs) so bench drift is attributable: machine
    // noise moves wall-clock, not stages or shuffle volume. Measured
    // small-path baseline: 16 stages, ~15 MB shuffle; bounds carry ~60%
    // headroom. A revert to the pre-prune join or a lost broadcast
    // blows the shuffle bound by an order of magnitude.
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$sf01/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val m = StageMeter.measure(spark)(
      graft.operators.Dedup.ngramJaccardPairs(docs, "text", "doc_id").count())
    assert(m.result > 0)
    assert(m.stages <= 26, s"stages=${m.stages} (baseline 16)")
    assert(m.shuffleWriteBytes <= 40L * 1024 * 1024,
      s"shuffleMB=${m.shuffleMB} (baseline ~15)")
  }

  test("compacted merge table: steady-state scan is window-free, appends re-enter the delta merge") {
    // SURVEY §7.3(c): ADMIN compact_table materializes the merge view;
    // the structural claim is that a fully-compacted table's scan pays
    // NO window (the 100 TB steady state), and only a post-compaction
    // append brings the (delta-bounded) merge back.
    val g = new graft.sql.GraftSession(spark)
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    g.sql("""CREATE TABLE cmp_ps (ts TIMESTAMP TIME INDEX,
        h STRING PRIMARY KEY, v DOUBLE) WITH ('merge_mode'='last_row')""")
    g.sql("INSERT INTO cmp_ps VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    g.sql("INSERT INTO cmp_ps VALUES (1, 'a', 10.0)") // rewrite of key a
    def vals() = g.sql("SELECT h, v FROM cmp_ps ORDER BY h").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(fmt(g.sql("SELECT ts, h, v FROM cmp_ps")).contains("Window"))
    assert(vals() == Seq(("a", 10.0), ("b", 2.0)))
    g.sql("ADMIN compact_table('cmp_ps')")
    val clean = fmt(g.sql("SELECT ts, h, v FROM cmp_ps"))
    assert(!clean.contains("Window"), clean.take(1200))
    assert(vals() == Seq(("a", 10.0), ("b", 2.0)))
    // append after compaction: merged read returns (windowed over the
    // delta keys), values correct
    g.sql("INSERT INTO cmp_ps VALUES (2, 'b', 20.0)")
    assert(fmt(g.sql("SELECT ts, h, v FROM cmp_ps")).contains("Window"))
    assert(vals() == Seq(("a", 10.0), ("b", 20.0)))
    // a second compaction restores the window-free steady state
    g.sql("ADMIN compact_table('cmp_ps')")
    assert(!fmt(g.sql("SELECT ts, h, v FROM cmp_ps")).contains("Window"))
    assert(vals() == Seq(("a", 10.0), ("b", 20.0)))
  }
}
