package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.RangeSelect
import graft.operators.RangeSelect.{Fill, RangeAgg}
import QueryDsl._

/** RANGE query surface (SURVEY.md §2.5) exercised on the events table.
  * events.ts arrives as BIGINT nanoseconds (nanosAsLong); RangeSelect
  * operates on epoch-ms longs. LINEAR fill has no SQL oracle (it is
  * golden-tested in RangeSelectSpec against the reference fixtures).
  */
object RangeQueries {

  private val H = 3600000L   // 1h in ms
  private val HM = 1800000L  // 30m

  private def events(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    T(s, d, "events").withColumn("ts_ms", expr("ts div 1000000"))

  val queries: Map[String, Q] = Map(
    "range_tumbling" -> ((s, d) => {
      RangeSelect(events(s, d), "ts_ms", Seq("event_type"), H, H, Seq(
        RangeAgg("n", ctx => count(ctx.value("value"))),
        RangeAgg("max_v", ctx => max(ctx.value("value"))),
        RangeAgg("sum_v", ctx => dsum(ctx.value("value")))))
        .orderBy(col("ts_ms"), col("event_type"))
    }),

    "range_sliding" -> ((s, d) => {
      RangeSelect(events(s, d), "ts_ms", Seq("event_type"), H, 2 * H, Seq(
        RangeAgg("n", ctx => count(ctx.value("value"))),
        RangeAgg("sum_v", ctx => dsum(ctx.value("value")))))
        .orderBy(col("ts_ms"), col("event_type"))
    }),

    "range_fill_prev" -> ((s, d) => {
      // sparse series: only 'error' events, per user bucket of 25 -> gaps
      val df = events(s, d).filter(col("event_type") === "error")
        .withColumn("grp", col("user_id") % 4)
      RangeSelect(df, "ts_ms", Seq("grp"), HM, HM, Seq(
        RangeAgg("min_v", ctx => min(ctx.value("value")), Fill.Prev)))
        .orderBy(col("ts_ms"), col("grp"))
    }),

    "range_fill_const" -> ((s, d) => {
      val df = events(s, d).filter(col("event_type") === "signup")
        .withColumn("grp", col("user_id") % 4)
      RangeSelect(df, "ts_ms", Seq("grp"), HM, HM, Seq(
        RangeAgg("max_v", ctx => max(ctx.value("value")), Fill.Const(-1.0)),
        RangeAgg("n_raw", ctx => count(ctx.value("value")))))
        .orderBy(col("ts_ms"), col("grp"))
    }),

    "range_fill_linear" -> ((s, d) => {
      val df = events(s, d).filter(col("event_type") === "purchase")
        .withColumn("grp", col("user_id") % 4)
      RangeSelect(df, "ts_ms", Seq("grp"), HM, HM, Seq(
        RangeAgg("v", ctx => round(min(ctx.value("value")), 3), Fill.Linear)))
        .orderBy(col("ts_ms"), col("grp"))
    }),

    "range_align_to" -> ((s, d) => {
      // grid origin shifted by 17 minutes (ALIGN '1h' TO '...')
      RangeSelect(events(s, d), "ts_ms", Seq("event_type"), H, H, Seq(
        RangeAgg("n", ctx => count(ctx.value("value")))), alignToMs = 1020000L)
        .orderBy(col("ts_ms"), col("event_type"))
    }),

    "range_by_derived" -> ((s, d) => {
      // BY clause over a derived key (reference range/by.sql)
      val df = events(s, d).withColumn("ubucket", col("user_id") % 10)
      RangeSelect(df, "ts_ms", Seq("ubucket"), H, H, Seq(
        RangeAgg("n", ctx => count(ctx.value("value"))),
        RangeAgg("min_v", ctx => min(ctx.value("value")))))
        .orderBy(col("ts_ms"), col("ubucket"))
    }),

    "range_percentile" -> ((s, d) => {
      // collect-buffering aggregate (percentile WITHIN GROUP) through
      // the per-series FOLD path — no slot explode of the input rows —
      // alongside an algebraic count on the explode path, joined on
      // (by, slot). Rounded to 6 dp so the DuckDB quantile_cont oracle
      // compares exactly.
      import graft.operators.{RangeFolds, RangeSelect => RS}
      RS(events(s, d), "ts_ms", Seq("event_type"), HM, 2 * H, Seq(
        RangeAgg("n", ctx => count(ctx.value("value")))),
        foldAggs = Seq(
          RS.FoldAgg("p50", "value", RangeFolds.percentileCont(0.5)),
          RS.FoldAgg("p90", "value", RangeFolds.percentileCont(0.9))))
        .withColumn("p50", round(col("p50"), 6))
        .withColumn("p90", round(col("p90"), 6))
        .orderBy(col("ts_ms"), col("event_type"))
    }),

    "range_first_last" -> ((s, d) => {
      // first/last over the time index through the FOLD — the other
      // collect-buffering RANGE aggregate (the SQL surface encodes it
      // as element_at(array_sort(collect_list(...)))); ties on ts_ms
      // break by value, exactly DuckDB's struct-lexicographic min/max
      import graft.operators.{RangeFolds, RangeSelect => RS}
      RS(events(s, d), "ts_ms", Seq("event_type"), HM, 2 * H, Nil,
        foldAggs = Seq(
          RS.FoldAgg("first_v", "value", RangeFolds.firstValueByTime),
          RS.FoldAgg("last_v", "value", RangeFolds.lastValueByTime)))
        .orderBy(col("ts_ms"), col("event_type"))
    })
  )

  val oracles: Map[String, String] = Map(
    "range_tumbling" ->
      """SELECT event_type, COUNT(value) AS n, MAX(value) AS max_v,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_v,
           ((epoch_ns(ts)//1000000) // 3600000) * 3600000 AS ts_ms
         FROM events GROUP BY ts_ms, event_type ORDER BY ts_ms, event_type""",

    "range_sliding" ->
      """SELECT event_type,
           COUNT(value) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_v,
           (((epoch_ns(ts)//1000000) // 3600000) - g.i) * 3600000 AS ts_ms
         FROM events CROSS JOIN (SELECT unnest(generate_series(0,1)) AS i) g
         GROUP BY ts_ms, event_type ORDER BY ts_ms, event_type""",

    "range_fill_prev" ->
      """WITH agg AS (
           SELECT user_id % 4 AS grp,
                  ((epoch_ns(ts)//1000000) // 1800000) * 1800000 AS ts_ms,
                  MIN(value) AS min_v
           FROM events WHERE event_type = 'error' GROUP BY grp, ts_ms),
         grid AS (
           SELECT grp, unnest(generate_series(min(ts_ms), max(ts_ms), 1800000)) AS ts_ms
           FROM agg GROUP BY grp)
         SELECT g.grp, g.ts_ms,
           last_value(a.min_v IGNORE NULLS) OVER (
             PARTITION BY g.grp ORDER BY g.ts_ms
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_v
         FROM grid g LEFT JOIN agg a ON g.grp = a.grp AND g.ts_ms = a.ts_ms
         ORDER BY g.ts_ms, g.grp""",

    "range_fill_const" ->
      """WITH agg AS (
           SELECT user_id % 4 AS grp,
                  ((epoch_ns(ts)//1000000) // 1800000) * 1800000 AS ts_ms,
                  MAX(value) AS max_v, COUNT(value) AS n_raw
           FROM events WHERE event_type = 'signup' GROUP BY grp, ts_ms),
         grid AS (
           SELECT grp, unnest(generate_series(min(ts_ms), max(ts_ms), 1800000)) AS ts_ms
           FROM agg GROUP BY grp)
         SELECT g.grp, g.ts_ms, COALESCE(a.max_v, -1.0) AS max_v, a.n_raw
         FROM grid g LEFT JOIN agg a ON g.grp = a.grp AND g.ts_ms = a.ts_ms
         ORDER BY g.ts_ms, g.grp""",

    // FILL LINEAR (plan.rs:141-187): interpolate interior gaps, extrapolate
    // head/tail from the nearest two points, null when < 2 points
    "range_fill_linear" ->
      """WITH agg AS (
           SELECT user_id % 4 AS grp,
                  ((epoch_ns(ts)//1000000) // 1800000) * 1800000 AS ts_ms,
                  round(MIN(value), 3) AS v
           FROM events WHERE event_type = 'purchase' GROUP BY grp, ts_ms),
         grid AS (
           SELECT grp, unnest(generate_series(min(ts_ms), max(ts_ms), 1800000)) AS ts_ms
           FROM agg GROUP BY grp),
         j AS (
           SELECT g.grp, g.ts_ms, a.v
           FROM grid g LEFT JOIN agg a ON g.grp = a.grp AND g.ts_ms = a.ts_ms),
         wnd AS (
           SELECT *,
             last_value(v IGNORE NULLS) OVER (PARTITION BY grp ORDER BY ts_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN ts_ms END IGNORE NULLS)
               OVER (PARTITION BY grp ORDER BY ts_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
             first_value(v IGNORE NULLS) OVER (PARTITION BY grp ORDER BY ts_ms
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN ts_ms END IGNORE NULLS)
               OVER (PARTITION BY grp ORDER BY ts_ms
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt,
             COUNT(v) OVER (PARTITION BY grp) AS nn
           FROM j),
         pts AS (
           SELECT grp,
             MAX(CASE WHEN rn = 1 THEN ts_ms END) AS f1t,
             MAX(CASE WHEN rn = 1 THEN v END) AS f1v,
             MAX(CASE WHEN rn = 2 THEN ts_ms END) AS f2t,
             MAX(CASE WHEN rn = 2 THEN v END) AS f2v,
             MAX(CASE WHEN rd = 1 THEN ts_ms END) AS l1t,
             MAX(CASE WHEN rd = 1 THEN v END) AS l1v,
             MAX(CASE WHEN rd = 2 THEN ts_ms END) AS l2t,
             MAX(CASE WHEN rd = 2 THEN v END) AS l2v
           FROM (SELECT grp, ts_ms, v,
                   row_number() OVER (PARTITION BY grp ORDER BY ts_ms) AS rn,
                   row_number() OVER (PARTITION BY grp ORDER BY ts_ms DESC) AS rd
                 FROM j WHERE v IS NOT NULL) nn_only
           GROUP BY grp)
         SELECT w.ts_ms, w.grp,
           CASE WHEN w.v IS NOT NULL THEN CAST(w.v AS DOUBLE)
                WHEN w.nn < 2 THEN NULL
                WHEN w.pt IS NOT NULL AND w.nt IS NOT NULL
                  THEN w.pv + (w.nv - w.pv) * (w.ts_ms - w.pt) / CAST(w.nt - w.pt AS DOUBLE)
                WHEN w.pt IS NULL
                  THEN p.f1v + (p.f2v - p.f1v) * (w.ts_ms - p.f1t) / CAST(p.f2t - p.f1t AS DOUBLE)
                ELSE p.l2v + (p.l1v - p.l2v) * (w.ts_ms - p.l2t) / CAST(p.l1t - p.l2t AS DOUBLE)
           END AS v
         FROM wnd w JOIN pts p USING (grp)
         ORDER BY w.ts_ms, w.grp""",

    "range_align_to" ->
      """SELECT event_type, COUNT(value) AS n,
           (((epoch_ns(ts)//1000000) - 1020000) // 3600000) * 3600000 + 1020000 AS ts_ms
         FROM events GROUP BY ts_ms, event_type ORDER BY ts_ms, event_type""",

    "range_by_derived" ->
      """SELECT user_id % 10 AS ubucket, COUNT(value) AS n, MIN(value) AS min_v,
           ((epoch_ns(ts)//1000000) // 3600000) * 3600000 AS ts_ms
         FROM events GROUP BY ts_ms, ubucket ORDER BY ts_ms, ubucket""",

    // RANGE '2h' ALIGN '30m' (4 slots per row): exact percentile over
    // each forward window [slot, slot+2h) — DuckDB quantile_cont is the
    // same q·(n−1) linear interpolation as RangeFolds.percentileCont
    "range_percentile" ->
      """SELECT event_type,
           COUNT(value) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           (((epoch_ns(ts)//1000000) // 1800000) - g.i) * 1800000 AS ts_ms
         FROM events CROSS JOIN (SELECT unnest(generate_series(0,3)) AS i) g
         GROUP BY ts_ms, event_type ORDER BY ts_ms, event_type""",

    // struct-lexicographic (ts, value) min/max == the fold's
    // (ts, value)-ascending first/last
    "range_first_last" ->
      """SELECT event_type,
           min({t: epoch_ns(ts)//1000000, v: value}).v AS first_v,
           max({t: epoch_ns(ts)//1000000, v: value}).v AS last_v,
           (((epoch_ns(ts)//1000000) // 1800000) - g.i) * 1800000 AS ts_ms
         FROM events CROSS JOIN (SELECT unnest(generate_series(0,3)) AS i) g
         GROUP BY ts_ms, event_type ORDER BY ts_ms, event_type"""
  )
}
