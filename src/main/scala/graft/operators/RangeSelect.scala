package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField}

/** GreptimeDB RANGE query (SURVEY.md §2.5) as a DataFrame expansion.
  *
  * `SELECT ts, by..., agg(val) RANGE 'r' FILL f FROM t ALIGN 'a' TO 'o' BY (by...)`
  *
  * Semantics pinned against the reference
  * (query/src/range_select/plan.rs:929-956 `produce_align_time`,
  * tests/cases/standalone/common/range/{calculate,fill}.result):
  *  - output slots are aligned timestamps `t ≡ align_to (mod align)`;
  *    a row at `ts` feeds every slot with `t <= ts < t + range`
  *  - without FILL only slots whose window saw >=1 input row appear
  *  - with any FILL, each series' slot grid is densified from its first
  *    to its last populated slot (plan.rs:1102-1110)
  *  - FILL PREV copies the previous slot value (leading nulls stay);
  *    FILL <const> replaces nulls; FILL LINEAR casts to double and
  *    interpolates between nearest non-null neighbours, extrapolating
  *    head/tail from the nearest two points, and is a no-op when a
  *    series has <2 non-null slots (plan.rs:113-187)
  *
  * Scale design: algebraic aggregates ([[RangeAgg]]) explode each row
  * into its ceil(range/align) slots (the reference's per-row
  * accumulator fan-out); partial aggregation combines map-side, so the
  * shuffle carries #series × #slots rows, not #input × fanout.
  * Collect-buffering aggregates ([[FoldAgg]]) run in the per-series
  * [[WindowFold]] sweep, which shuffles each row at most twice; the two
  * parts join on (by, slot). The fill pass re-uses one
  * (by)-hash-partitioned sort across all window stages.
  */
object RangeSelect {

  sealed trait Fill
  object Fill {
    /** No FILL clause: sparse slots, no densification. */
    case object None extends Fill
    case object Null extends Fill
    case object Prev extends Fill
    case object Linear extends Fill
    final case class Const(value: Any) extends Fill
  }

  /** One RANGE expression.
    * @param build aggregate expression builder; use [[Ctx.value]] so
    *              per-expression RANGE durations mask rows outside
    *              their window
    * @param rangeMs overrides the query-level range for this expr
    */
  final case class RangeAgg(
      alias: String,
      build: Ctx => Column,
      fill: Fill = Fill.None,
      rangeMs: Option[Long] = scala.None)

  /** Handed to [[RangeAgg.build]]: `value(c)` is column `c` masked to
    * this expression's window. */
  final class Ctx private[RangeSelect] (guard: Column) {
    def value(c: String): Column = value(col(c))
    def value(c: Column): Column = when(guard, c)
    def present: Column = when(guard, lit(1))
  }

  /** A collect-buffering aggregate (exact/approx percentile, WITHIN
    * GROUP, array_agg, first/last by time) evaluated inside the
    * per-series [[WindowFold]] instead of the slot explode. The explode
    * path serializes every input row into ceil(range/align) aggregation
    * buffers — 240× shuffle amplification at RANGE '1h' ALIGN '15s' —
    * where the fold shuffles each row at most twice (chunk-boundary
    * copy). Algebraic aggregates (min/max/sum/count/avg) should STAY on
    * the explode path: partial aggregation already combines them
    * map-side, and the codegen'd hash aggregate beats the fold there.
    *
    * @param eval window evaluator over the (ts, value) samples of
    *             [[input]] with slot <= ts < slot + range, in ascending
    *             (ts, value) order, null values included (see
    *             [[RangeFolds.skipNulls]]); None → NULL output for the
    *             slot
    * @param dataType Spark type of the evaluator's result
    */
  final case class FoldAgg(
      alias: String,
      input: String,
      eval: RangeFolds.Eval,
      fill: Fill = Fill.None,
      rangeMs: Option[Long] = scala.None,
      dataType: DataType = DoubleType)

  /** Explode-to-fold switchover for SQL-surfaced collect-buffering RANGE
    * aggregates (graft.sql.RangeSql): when ceil(range/align) reaches
    * this fan-out, percentile WITHIN GROUP routes through [[FoldAgg]].
    * Below it the explode is a plain codegen'd filter+agg and the
    * reference sqlness corpus (fan-out ≤ a few) keeps its pinned
    * explode-path results. */
  private[graft] var FoldFanoutMin = 16L

  private val Slot = "__slot"

  /** @param tsMs  name of a LongType epoch-millisecond time column
    * @param by    series key columns
    * @param foldAggs collect-buffering aggregates routed through the
    *                 per-series fold (joined with the explode part on
    *                 (by, slot) — a #series × #slots join)
    * @return DataFrame with columns (tsMs slot, by..., aggs..., foldAggs...)
    */
  def apply(
      df: DataFrame,
      tsMs: String,
      by: Seq[String],
      alignMs: Long,
      rangeMs: Long,
      aggs: Seq[RangeAgg],
      alignToMs: Long = 0L,
      foldAggs: Seq[FoldAgg] = Nil): DataFrame = {
    require(alignMs > 0 && rangeMs > 0, "align/range must be positive")
    require(aggs.nonEmpty || foldAggs.nonEmpty, "at least one aggregate")
    val ts = col(tsMs)

    val explodePart: Option[DataFrame] = if (aggs.isEmpty) scala.None else Some {
      val maxRange = (rangeMs +: aggs.flatMap(_.rangeMs)).max
      // slot indices i with i*align+align_to in (ts - maxRange, ts]
      // (floor division keeps pre-epoch timestamps correct)
      val iHi = floor((ts - alignToMs).cast("double") / alignMs).cast("long")
      val loTs = ts - maxRange
      val iLo = floor((loTs - alignToMs).cast("double") / alignMs).cast("long") + 1
      // sequence(lo, hi) turns descending when lo > hi (possible when
      // range < align, where a row may belong to zero slots) — the guard
      // filter below drops any out-of-window slot it produces.
      val exploded = df
        .withColumn("__i", explode(sequence(least(iLo, iHi), iHi)))
        .withColumn(Slot, col("__i") * alignMs + alignToMs)
        .drop("__i")
        .filter(col(Slot) <= ts && ts < col(Slot) + maxRange)

      val aggCols = aggs.map { a =>
        val r = a.rangeMs.getOrElse(rangeMs)
        val guard = (col(Slot) <= ts) && (ts < col(Slot) + r)
        a.build(new Ctx(guard)).as(a.alias)
      }
      exploded
        .groupBy((by.map(col) :+ col(Slot)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    }

    // slot i = i*align + align_to covers [slot, slot + maxRange); each
    // FoldAgg sees the prefix of that window with ts < slot + its range.
    // A chunk is one maxRange-wide band of slots, so per-series
    // parallelism is the series' time span / maxRange.
    val foldPart: Option[DataFrame] = if (foldAggs.isEmpty) scala.None else Some {
      val ranges = foldAggs.map(_.rangeMs.getOrElse(rangeMs)).toArray
      val maxR = ranges.max
      val inputs = foldAggs.map(_.input).distinct
      val aggIn = foldAggs.map(a => inputs.indexOf(a.input)).toArray
      val evals = foldAggs.map(_.eval).toArray
      WindowFold(df, by, ts, inputs.map(col),
        WindowFold.Slots(alignMs, alignToMs, 0L, maxR, (maxR + alignMs - 1) / alignMs),
        Slot, foldAggs.map(a => StructField(a.alias, a.dataType, nullable = true))) {
        (slotTs, w) => Array.tabulate[Any](evals.length)(a =>
          evals(a)(WindowFold.series(w, aggIn(a), slotTs + ranges(a))).orNull)
      }
    }

    // slot presence = ANY aggregate's window saw a row (the reference
    // keys output rows off the union of accumulator windows); the
    // full-outer join reproduces that across the two paths
    val combined = (explodePart, foldPart) match {
      case (Some(a), Some(b)) => a.join(b, by :+ Slot, "full_outer")
      case (Some(a), _) => a
      case (_, b) => b.get
    }

    val fills = aggs.map(a => a.alias -> a.fill) ++
      foldAggs.map(a => a.alias -> a.fill)
    val needFill = fills.exists(_._2 != Fill.None)
    val densified = if (needFill) densify(combined, by, alignMs) else combined

    val filled = applyFills(densified, by, fills)
    filled.withColumnRenamed(Slot, tsMs)
      .select((tsMs +: by) ++ (aggs.map(_.alias) ++ foldAggs.map(_.alias))
        map col: _*)
  }

  /** Per-series dense grid from first to last populated slot, left-joined
    * back onto the sparse aggregate (plan.rs:1102-1110). The join key
    * (by, slot) matches the aggregation's partitioning. */
  private def densify(grouped: DataFrame, by: Seq[String], alignMs: Long): DataFrame = {
    val extent = grouped.groupBy(by.map(col): _*)
      .agg(min(col(Slot)).as("__lo"), max(col(Slot)).as("__hi"))
      .withColumn(Slot, explode(sequence(col("__lo"), col("__hi"), lit(alignMs))))
      .drop("__lo", "__hi")
    extent.join(grouped, by :+ Slot, "left")
  }

  private def applyFills(df: DataFrame, by: Seq[String],
      fills: Seq[(String, Fill)]): DataFrame = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(col(Slot))
    fills.foldLeft(df) { case (d, (alias, fill)) =>
      fill match {
        case Fill.None | Fill.Null => d
        case Fill.Const(v) => d.withColumn(alias, coalesce(col(alias), lit(v)))
        case Fill.Prev =>
          d.withColumn(alias,
            last(col(alias), ignoreNulls = true)
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        case Fill.Linear => fillLinear(d, alias, w)
      }
    }
  }

  /** FILL LINEAR (plan.rs:141-187): nearest-neighbour interpolation,
    * head/tail extrapolation from the closest two points, no-op when the
    * series has fewer than two non-null slots. Output type: double. */
  private def fillLinear(df: DataFrame, c: String, w: WindowSpec): DataFrame = {
    val v = col(c).cast("double")
    val slotIf = when(col(c).isNotNull, col(Slot))
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    val staged = df
      .withColumn("__pv", last(v, ignoreNulls = true).over(before))
      .withColumn("__pt", last(slotIf, ignoreNulls = true).over(before))
      .withColumn("__nv", first(v, ignoreNulls = true).over(after))
      .withColumn("__nt", first(slotIf, ignoreNulls = true).over(after))
      .withColumn("__nn", count(col(c)).over(whole))
      .withColumn("__f1t", first(slotIf, ignoreNulls = true).over(whole))
      .withColumn("__f1v", first(v, ignoreNulls = true).over(whole))
      .withColumn("__l1t", last(slotIf, ignoreNulls = true).over(whole))
      .withColumn("__l1v", last(v, ignoreNulls = true).over(whole))
    // second/second-to-last non-null need the first stage's result
    val staged2 = staged
      .withColumn("__f2t", first(when(col(c).isNotNull && col(Slot) > col("__f1t"), col(Slot)),
        ignoreNulls = true).over(whole))
      .withColumn("__f2v", first(when(col(c).isNotNull && col(Slot) > col("__f1t"), v),
        ignoreNulls = true).over(whole))
      .withColumn("__l2t", last(when(col(c).isNotNull && col(Slot) < col("__l1t"), col(Slot)),
        ignoreNulls = true).over(whole))
      .withColumn("__l2v", last(when(col(c).isNotNull && col(Slot) < col("__l1t"), v),
        ignoreNulls = true).over(whole))

    def interp(t1: Column, v1: Column, t2: Column, v2: Column): Column =
      v1 + (v2 - v1) * (col(Slot) - t1).cast("double") / (t2 - t1).cast("double")

    val filledV =
      when(col(c).isNotNull, v)
        .when(col("__nn") < 2, lit(null).cast("double"))
        .when(col("__pt").isNotNull && col("__nt").isNotNull,
          interp(col("__pt"), col("__pv"), col("__nt"), col("__nv")))
        .when(col("__pt").isNull,
          interp(col("__f1t"), col("__f1v"), col("__f2t"), col("__f2v")))
        .otherwise(
          interp(col("__l2t"), col("__l2v"), col("__l1t"), col("__l1v")))

    staged2.withColumn(c, filledV)
      .drop("__pv", "__pt", "__nv", "__nt", "__nn",
            "__f1t", "__f1v", "__l1t", "__l1v", "__f2t", "__f2v", "__l2t", "__l2v")
  }
}
