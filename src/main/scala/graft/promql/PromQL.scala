package graft.promql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}
import graft.operators.WindowFold

/** PromQL engine (SURVEY.md §2.6/§3.2) — the Spark re-expression of the
  * reference's PromPlanner (query/src/promql/planner.rs) and its
  * extension nodes:
  *
  *  - SeriesNormalize  -> offset shift (staleness markers never reach
  *    parquet, so no sample is filtered)
  *  - InstantManipulate -> [[instant]]: the latest sample within the
  *    lookback at each step, from the shared [[WindowFold]] sweep
  *  - RangeManipulate  -> [[rangeFn]]: the same sweep, the range function
  *    evaluated on each step's window
  *  - SeriesDivide     -> the sweep's shuffle on (series labels, time
  *    slice), sorted by ts within each slice
  *  - EmptyMetric      -> sequence() grid for literal expressions
  *  - UnionDistinctOn  -> `or` via left ∪ (right anti left)
  *  - HistogramFold    -> le-bucket collect + interpolation UDF
  *
  * Scale: a selector shuffles each sample that some step's window holds
  * once (twice when its window crosses a time-slice boundary) and emits
  * one row per (series, step) with a non-empty window, at every
  * window/step ratio. Vector-vector binary ops are equi-joins on
  * (ts, labels) — Catalyst picks hash joins, and AQE handles skew.
  */
object PromQL {

  /** Label-name column ref — backtick-quoted, since quoted PromQL
    * identifiers may contain dots (promql/string_identifier.sql). */
  private def lcol(n: String): Column = col(s"`$n`")


  /** A metric table: label columns + epoch-ms long time column + double
    * value column. */
  final case class Metric(df: DataFrame, tsMs: String, value: String, labels: Seq[String])

  final case class EvalParams(
      startMs: Long, endMs: Long, stepMs: Long, lookbackMs: Long = 300000L) {
    require(stepMs > 0)
  }

  /** Instant vector: DataFrame with `__ts` (long ms), `__val` (double),
    * plus the label columns. */
  final case class InstantVector(df: DataFrame, labels: Seq[String]) {
    def output: DataFrame =
      df.select((col("__ts") +: labels.sorted.map(lcol)) :+ col("__val"): _*)
  }

  /** The window evaluator behind every selector: [[WindowFold]] with
    * grid anchor i (t = start + i·step, 0 ≤ i ≤ nSteps) as slot i over
    * the left-exclusive window (t - windowMs, t]. Each series splits into
    * ~64 time slices of the grid, never narrower than the window, so
    * few-series metrics still fold on every core. The prune to
    * (start - window, end] is a filter the scan can push down.
    * `emit` maps an anchor's non-empty window to its output values. */
  private def foldAtGrid(base: DataFrame, labels: Seq[String], p: EvalParams,
      windowMs: Long, out: StructField)(
      emit: (Long, Array[WindowFold.Entry]) => Array[Any]): DataFrame = {
    val nSteps = (p.endMs - p.startMs) / p.stepMs
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    WindowFold(
      base.filter(col("__sample_ts") > p.startMs - windowMs &&
        col("__sample_ts") <= p.endMs),
      labels, col("__sample_ts"), Seq(col("__v")),
      WindowFold.Slots(p.stepMs, p.startMs, 1 - windowMs, windowMs,
        math.max(ceilDiv(windowMs, p.stepMs), ceilDiv(nSteps + 1, 64)),
        Some((0L, nSteps))),
      "__ts", Seq(out))(emit)
  }

  /** SeriesNormalize: labels..., `__sample_ts` (offset-shifted ms),
    * `__v`. Ordinary NaN values are REAL samples, and so are NULL-valued
    * rows: promql/scalar.result pins NaN keeping cpu0 present in count()
    * AND the NULL sample keeping cpu2 present as a zero-count group —
    * null rides through as a null-valued sample and the aggregate's SQL
    * null semantics do the rest. */
  private def samples(m: Metric, offsetMs: Long): DataFrame =
    m.df.select((m.labels.map(lcol) :+ (col(m.tsMs) + offsetMs).as("__sample_ts")) :+
      lcol(m.value).as("__v"): _*)

  /** The latest sample within the lookback at each step, `__val` read
    * off it by `value` (a NULL-valued sample is still the latest). The
    * lookback window is LEFT-EXCLUSIVE (t - lookback, t]: a sample
    * exactly lookback old is stale (promql/subquery.result, t=359
    * case). */
  private def latestAtGrid(m: Metric, p: EvalParams, offsetMs: Long,
      value: WindowFold.Entry => Any): InstantVector = InstantVector(
    foldAtGrid(samples(m, offsetMs), m.labels, p, p.lookbackMs,
      StructField("__val", DoubleType, nullable = true))(
      (_, w) => Array(value(w.last))),
    m.labels)

  /** Selector -> instant vector (SeriesNormalize + InstantManipulate). */
  def instant(m: Metric, p: EvalParams, offsetMs: Long = 0L): InstantVector =
    latestAtGrid(m, p, offsetMs, _(1))

  /** timestamp(selector): instant vector whose value is the selected
    * sample's own timestamp in SECONDS (prometheus timestamp();
    * promql/timestamp_fn.result pins pre-alignment sample times). */
  def timestampInstant(m: Metric, p: EvalParams, offsetMs: Long = 0L): InstantVector =
    latestAtGrid(m, p, offsetMs, e => e(0).asInstanceOf[Long] / 1000.0)

  /** Range-vector function over each step's window (RangeManipulate):
    * [[PromFunctions.windowEval]] runs inside the fold on the window's
    * non-null samples — a NULL-valued sample carries presence to the
    * instant path only — and a None drops the anchor. `fnArgs`:
    * predict_linear's look-ahead, quantile_over_time's q, holt_winters'
    * (sf, tf). */
  def rangeFn(name: String, m: Metric, p: EvalParams, rangeMs: Long,
      offsetMs: Long = 0L, fnArgs: Seq[Double] = Nil): InstantVector = {
    val f = PromFunctions.windowEval(name, fnArgs)
    InstantVector(
      foldAtGrid(samples(m, offsetMs), m.labels, p, rangeMs,
        StructField("__val", DoubleType, nullable = false)) { (t, w) =>
        f(WindowFold.values(w, 0), t - rangeMs, t)
          .map(v => Array[Any](v)).orNull
      },
      m.labels)
  }

  /** absent(): 1 at grid steps where the selector returns nothing; the
    * output series carries labels from the selector's `=` matchers
    * (promql/src/extension_plan/absent.rs semantics). */
  def absent(iv: InstantVector, p: EvalParams, spark: SparkSession,
      literalLabels: Seq[(String, String)] = Nil): InstantVector = {
    val grid = gridDf(spark, p)
    val present = iv.df.select(col("__ts")).distinct()
    var out = grid.join(present, Seq("__ts"), "left_anti")
      .withColumn("__val", lit(1.0))
    // duplicate matchers on one label (job="a", job="b"): last one wins,
    // single output column (promql/absent.result)
    val lastByKey = literalLabels.foldLeft(Vector.empty[(String, String)]) {
      case (acc, (k, v)) => acc.filterNot(_._1 == k) :+ (k -> v)
    }
    lastByKey.foreach { case (k, v) => out = out.withColumn(k, lit(v)) }
    InstantVector(out, lastByKey.map(_._1))
  }

  /** EmptyMetric: literal expressions evaluated on the step grid. */
  def gridDf(spark: SparkSession, p: EvalParams): DataFrame =
    spark.range(0, (p.endMs - p.startMs) / p.stepMs + 1)
      .select((col("id") * p.stepMs + p.startMs).as("__ts"))

  def scalarLiteral(spark: SparkSession, p: EvalParams, v: Double): InstantVector =
    InstantVector(gridDf(spark, p).withColumn("__val", lit(v)), Nil)

  // ---- aggregation operators -----------------------------------------

  def aggregate(iv: InstantVector, op: String, by: Seq[String],
      without: Boolean = false, param: Option[Double] = None): InstantVector = {
    val keep =
      if (without) iv.labels.filterNot(by.contains)
      else iv.labels.filter(by.contains)
    val keys = (keep.map(lcol) :+ col("__ts"))
    val x = col("__val")
    op match {
      case "topk" | "bottomk" =>
        val k = param.get.toInt
        // tiebreak follows the value's direction over the tags too
        // (planner.rs:3900-3920: every sort expr uses the same asc flag)
        val ord = if (op == "topk") x.desc_nulls_first else x.asc_nulls_first
        val tagOrd = iv.labels.sorted.map(l =>
          if (op == "topk") col(l).desc_nulls_first else col(l).asc_nulls_first)
        val w = Window.partitionBy(keys: _*).orderBy(ord +: tagOrd: _*)
        val ranked = iv.df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= k).drop("__rn")
        InstantVector(ranked, iv.labels) // keeps original series labels
      case "count_values" =>
        throw new UnsupportedOperationException("count_values: use countValues()")
      case "sort" | "sort_desc" | "sort_by_label" | "sort_by_label_desc" =>
        InstantVector(iv.df, iv.labels) // ordering is presentational
      case _ =>
        val agg = op match {
          case "sum" => sum(x)
          case "min" => min(x)
          case "max" => max(x)
          case "avg" => avg(x)
          case "count" => count(x).cast("double")
          case "group" => lit(1.0)
          case "stddev" => stddev_pop(x)
          case "stdvar" => var_pop(x)
          case "quantile" => PromFunctions.quantileUdf(lit(param.get), collect_list(x))
          case other => throw new IllegalArgumentException(s"unknown aggr: $other")
        }
        InstantVector(iv.df.groupBy(keys: _*).agg(agg.as("__val")), keep)
    }
  }

  /** PromQL `count_values("dst", v)`: per (kept labels, ts, value)
    * count, the sample value becoming the `dst` label. */
  def countValues(iv: InstantVector, dst: String, by: Seq[String],
      without: Boolean = false): InstantVector = {
    val keep =
      if (without) iv.labels.filterNot(by.contains)
      else if (by.nonEmpty) iv.labels.filter(by.contains)
      else Nil
    // Prometheus formats integral values without a decimal point
    val fmt = udf { (v: Double) =>
      if (v == math.floor(v) && !v.isInfinite && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    }
    val df = iv.df.withColumn(dst, fmt(col("__val")))
    val keys = (keep :+ dst).map(lcol) :+ col("__ts")
    InstantVector(
      df.groupBy(keys: _*).agg(count(lit(1)).cast("double").as("__val")),
      keep :+ dst)
  }

  // ---- binary operators ------------------------------------------------

  private def arith(op: String, l: Column, r: Column): Column = op match {
    case "+" => l + r
    case "-" => l - r
    case "*" => l * r
    case "/" => l / r
    case "%" => l % r
    case "atan2" => atan2(l, r)
    case "^" => pow(l, r)
    case _ => throw new IllegalArgumentException(op)
  }

  private def cmp(op: String, l: Column, r: Column): Column = op match {
    case "==" => l === r
    case "!=" => l =!= r
    case ">" => l > r
    case "<" => l < r
    case ">=" => l >= r
    case "<=" => l <= r
    case _ => throw new IllegalArgumentException(op)
  }

  val ArithOps = Set("+", "-", "*", "/", "%", "^", "atan2")
  val CmpOps = Set("==", "!=", ">", "<", ">=", "<=")

  def vectorScalar(iv: InstantVector, op: String, scalar: Double,
      scalarLeft: Boolean = false, boolMod: Boolean = false): InstantVector = {
    val x = col("__val")
    val s = lit(scalar)
    val (l, r) = if (scalarLeft) (s, x) else (x, s)
    if (ArithOps(op))
      InstantVector(iv.df.withColumn("__val", arith(op, l, r)), iv.labels)
    else if (boolMod)
      InstantVector(iv.df.withColumn("__val",
        when(cmp(op, l, r), 1.0).otherwise(0.0)), iv.labels)
    else
      InstantVector(iv.df.filter(cmp(op, l, r)), iv.labels)
  }

  /** Vector ⊗ per-step scalar series (result of scalar()/time()):
    * join on __ts only; the vector side keeps its labels — one-to-one
    * matching would wrongly demand equal label sets. */
  def vectorScalarSeries(iv: InstantVector, scalarIv: InstantVector, op: String,
      scalarLeft: Boolean = false, boolMod: Boolean = false): InstantVector = {
    val s = scalarIv.df.select(col("__ts"), col("__val").as("__sv"))
    val joined = iv.df.join(s, Seq("__ts"))
    val x = col("__val")
    val (l, r) = if (scalarLeft) (col("__sv"), x) else (x, col("__sv"))
    val out =
      if (ArithOps(op)) joined.withColumn("__val", arith(op, l, r))
      else if (boolMod) joined.withColumn("__val",
        when(cmp(op, l, r), 1.0).otherwise(0.0))
      else joined.filter(cmp(op, l, r))
    InstantVector(out.drop("__sv"), iv.labels)
  }

  /** Vector-vector binary op: equi-join on (__ts, matching labels) —
    * PromQL one-to-one vector matching (planner.rs ~5000-5400), plus
    * many-to-one via group_left/group_right: the "many" side keeps all
    * its labels (and may copy `extraLabels` off the "one" side); the
    * join itself is the same equi-join, just without collapsing the
    * many side's extra labels. */
  def vectorVector(lhs: InstantVector, rhs: InstantVector, op: String,
      on: Option[Seq[String]] = None, ignoring: Seq[String] = Nil,
      boolMod: Boolean = false, groupLeft: Boolean = false,
      groupRight: Boolean = false, extraLabels: Seq[String] = Nil): InstantVector = {
    val matchLabels = on.getOrElse(
      lhs.labels.intersect(rhs.labels).filterNot(ignoring.contains))
    val keys = "__ts" +: matchLabels
    // set ops (and/or/unless) with DEFAULT matching compare the FULL
    // label set (a label missing on one side is a mismatch — pinned by
    // set_operation.result: vector_matching_a{l="x"} survives `or
    // on(instance)`); labels absent from a side are padded null, and all
    // key comparisons are null-safe (<=>), matching the reference's
    // null-equality joins.
    val allLabels = lhs.labels ++ rhs.labels.filterNot(lhs.labels.contains)
    val setKeys = "__ts" +: on.getOrElse(allLabels.filterNot(ignoring.contains))
    // an on() label absent from BOTH sides still joins — as null on
    // each (set_operation.result `AND ON (dummy) vector(1)`)
    val joinPad = allLabels ++
      setKeys.filterNot(k => k == "__ts" || allLabels.contains(k))
    def pad(df: DataFrame, have: Seq[String]): DataFrame =
      joinPad.foldLeft(df)((d, l) =>
        if (have.contains(l)) d else d.withColumn(l, lit(null).cast("string")))
    def semiJoin(left: DataFrame, right: DataFrame, joinType: String): DataFrame = {
      val l = left.alias("__l")
      val r = right.select(setKeys.map(lcol): _*).distinct().alias("__r")
      val cond = setKeys.map(k => col(s"__l.$k") <=> col(s"__r.$k")).reduce(_ && _)
      l.join(r, cond, joinType)
    }
    op match {
      case "and" =>
        val out = semiJoin(pad(lhs.df, lhs.labels), pad(rhs.df, rhs.labels), "left_semi")
        InstantVector(out.select(("__ts" +: lhs.labels :+ "__val").map(lcol): _*), lhs.labels)
      case "unless" =>
        val out = semiJoin(pad(lhs.df, lhs.labels), pad(rhs.df, rhs.labels), "left_anti")
        InstantVector(out.select(("__ts" +: lhs.labels :+ "__val").map(lcol): _*), lhs.labels)
      case "or" =>
        // UnionDistinctOn: keep left row on key collision; output schema
        // is the union of both sides' label columns
        val rightOnly = semiJoin(pad(rhs.df, rhs.labels), pad(lhs.df, lhs.labels), "left_anti")
        def shape(df: DataFrame) = df.select(("__ts" +: allLabels :+ "__val").map(lcol): _*)
        InstantVector(shape(pad(lhs.df, lhs.labels)).union(shape(rightOnly)), allLabels)
      case _ =>
        // the "many" side keeps its full label set; default one-to-one
        // treats the left as many with no copied labels (same join)
        val (manyIv, oneIv, manyIsLeft) =
          if (groupRight) (rhs, lhs, false) else (lhs, rhs, true)
        // the many side keeps extra labels only when the other side also
        // carries the column (set_operation.result pins null_label
        // surviving `/ on(job)` with both sides having it; the planner
        // prunes labels absent from one side —
        // tsid_binary_join_regression.result drops `host` under on(job)).
        // group_left/right keeps the many side's extras unconditionally.
        val manyExtra0 = manyIv.labels.filterNot(matchLabels.contains)
        val manyExtra =
          if (groupLeft || groupRight) manyExtra0
          else manyExtra0.filter(oneIv.labels.contains)
        val many = manyIv.df
          .select((keys ++ manyExtra :+ "__val").map(lcol): _*)
          .withColumnRenamed("__val", "__mv").alias("__m")
        val one = oneIv.df
          .select((keys ++ extraLabels :+ "__val").map(lcol): _*)
          .withColumnRenamed("__val", "__ov").alias("__o")
        val cond = keys.map(k => col(s"__m.$k") <=> col(s"__o.$k")).reduce(_ && _)
        val joined = many.join(one, cond).select(
          (keys ++ manyExtra).map(k => col(s"__m.$k").as(k)) ++
            extraLabels.map(k => col(s"__o.$k").as(k)) :+
            col("__m.__mv").as("__mv") :+ col("__o.__ov").as("__ov"): _*)
        val (lv, rv) =
          if (manyIsLeft) (col("__mv"), col("__ov")) else (col("__ov"), col("__mv"))
        val outLabels = matchLabels ++ manyExtra ++ extraLabels
        if (ArithOps(op))
          InstantVector(joined.withColumn("__val", arith(op, lv, rv))
            .drop("__mv", "__ov"), outLabels)
        else if (boolMod)
          InstantVector(joined.withColumn("__val",
            when(cmp(op, lv, rv), 1.0).otherwise(0.0))
            .drop("__mv", "__ov"), outLabels)
        else
          InstantVector(joined.filter(cmp(op, lv, rv))
            .withColumn("__val", lv).drop("__mv", "__ov"), outLabels)
    }
  }

  // ---- instant-vector scalar functions ---------------------------------

  def mathFn(iv: InstantVector, name: String, args: Seq[Double] = Nil): InstantVector = {
    val x = col("__val")
    val v = name match {
      case "abs" => abs(x)
      case "ceil" => ceil(x).cast("double")
      case "floor" => floor(x).cast("double")
      case "exp" => exp(x)
      case "ln" => log(x)
      case "log2" => log2(x)
      case "log10" => log10(x)
      case "sqrt" => sqrt(x)
      case "sgn" => signum(x)
      case "round" =>
        val nearest = args.headOption.getOrElse(1.0)
        round(x / nearest) * nearest
      case "clamp" => least(greatest(x, lit(args(0))), lit(args(1)))
      case "clamp_min" => greatest(x, lit(args(0)))
      case "clamp_max" => least(x, lit(args(0)))
      case "rad" => radians(x)
      case "deg" => degrees(x)
      // timestamp(v): the SAMPLE's timestamp in seconds as the value
      // (prometheus functions.md; ref promql timestamp fn)
      case "timestamp" => col("__ts").cast("double") / 1000.0
      case "sin" => sin(x)
      case "cos" => cos(x)
      case "tan" => tan(x)
      case "asin" => asin(x)
      case "acos" => acos(x)
      case "atan" => atan(x)
      case other => throw new IllegalArgumentException(s"unknown fn: $other")
    }
    InstantVector(iv.df.withColumn("__val", v), iv.labels)
  }

  /** time()/minute()/hour()/... evaluated on the grid timestamp. */
  def timeFn(iv: InstantVector, name: String): InstantVector = {
    val t = to_utc_timestamp(timestamp_millis(col("__ts")), "UTC")
    val v = name match {
      case "time" => (col("__ts") / 1000.0)
      case "minute" => minute(t).cast("double")
      case "hour" => hour(t).cast("double")
      case "month" => month(t).cast("double")
      case "year" => year(t).cast("double")
      case "day_of_month" => dayofmonth(t).cast("double")
      case "day_of_week" => (dayofweek(t) - 1).cast("double") // prom: 0=Sunday
      case "day_of_year" => dayofyear(t).cast("double")
      case "days_in_month" => dayofmonth(last_day(t)).cast("double")
      case other => throw new IllegalArgumentException(s"unknown time fn: $other")
    }
    InstantVector(iv.df.withColumn("__val", v), iv.labels)
  }

  /** label_replace, following the reference's rules exactly
    * (query/src/promql/planner.rs:3434-3530):
    *  - src exists + empty regex            → unchanged, no dst added
    *  - src missing + empty replacement     → unchanged
    *  - src missing + non-empty replacement → dst = literal replacement
    *  - else dst = regexp_replace(src, "^(?s:re)$", repl) — anchored,
    *    so a non-match copies the src value into dst. */
  def labelReplace(iv: InstantVector, dst: String, replacement: String,
      src: String, regex: String): InstantVector = {
    java.util.regex.Pattern.compile(regex) // validate (invalid → error)
    val srcExists = iv.labels.contains(src)
    if (srcExists && regex.isEmpty) iv
    else if (!srcExists) {
      if (replacement.isEmpty) iv
      else InstantVector(iv.df.withColumn(dst, lit(replacement)),
        (iv.labels :+ dst).distinct)
    } else {
      val anchored = s"^(?s:$regex)$$"
      val f = udf((s: String, re: String, rep: String) =>
        if (s == null) null
        else java.util.regex.Pattern.compile(re).matcher(s).replaceFirst(rep))
      InstantVector(iv.df.withColumn(dst, f(col(src), lit(anchored), lit(replacement))),
        (iv.labels :+ dst).distinct)
    }
  }

  def labelJoin(iv: InstantVector, dst: String, sep: String, srcs: Seq[String]): InstantVector = {
    // empty source-label names contribute nothing (promql/label.sql
    // label_join(..., "host", "-", "") clears the label)
    val real = srcs.filter(_.nonEmpty)
    val v = if (real.isEmpty) lit("") else concat_ws(sep, real.map(lcol): _*)
    InstantVector(iv.df.withColumn(dst, v), (iv.labels :+ dst).distinct)
  }

  /** scalar(): value when the instant vector has exactly one element at
    * the step, NaN when it has several, and NO row when it has none —
    * grid steps without input data are dropped
    * (extension_plan/scalar_calculate.rs; pinned by promql/scalar.result,
    * where `scalar(clamp(host{...}))` starts at the first sample). */
  def scalarFn(iv: InstantVector, p: EvalParams, spark: SparkSession): InstantVector = {
    val perTs = iv.df.groupBy(col("__ts"))
      .agg(count(lit(1)).as("__n"), first(col("__val")).as("__v"))
    // empty input → NaN at EVERY grid step (promql/scalar.result with an
    // out-of-range window); otherwise steps without data are dropped
    val totals = iv.df.agg(count(lit(1)).as("__total"))
    val full = gridDf(spark, p).join(perTs, Seq("__ts"), "left")
      .crossJoin(broadcast(totals))
      .filter(col("__n").isNotNull || col("__total") === 0)
    InstantVector(full.select(col("__ts"),
      when(col("__n") === 1, col("__v")).otherwise(lit(Double.NaN)).as("__val")), Nil)
  }

  /** histogram_quantile over classic le-bucket series (HistogramFold). */
  def histogramQuantile(iv: InstantVector, q: Double): InstantVector = {
    // a vector with no 'le' label yields an EMPTY result, not an error
    // (simple_histogram.sql's sum by(pod,instance,fbf) variant)
    if (!iv.labels.contains("le"))
      return InstantVector(iv.df.limit(0), iv.labels)
    val rest = iv.labels.filterNot(_ == "le")
    val grouped = iv.df
      .withColumn("__le", when(col("le") === "+Inf", lit(Double.PositiveInfinity))
        .otherwise(col("le").cast("double")))
      .groupBy((rest.map(lcol) :+ col("__ts")): _*)
      .agg(collect_list(struct(col("__le").as("_1"), col("__val").as("_2"))).as("__b"))
    InstantVector(grouped
      .withColumn("__val", PromFunctions.histogramQuantileUdf(lit(q), col("__b")))
      .drop("__b"), rest)
  }
}
