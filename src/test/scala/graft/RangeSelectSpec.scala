package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RangeSelect
import graft.operators.RangeSelect.{Fill, RangeAgg}

/** Golden tests replicating the reference's sqlness fixtures
  * tests/cases/standalone/common/range/{calculate,fill}.result —
  * the host table (ts ms, host tag, val bigint with null gaps). */
class RangeSelectSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  import scala.jdk.CollectionConverters._
  private def host(): DataFrame = {
    val rows = Seq[(Long, String, java.lang.Long)](
      (0L, "host1", 0L), (5000L, "host1", null), (10000L, "host1", 1L),
      (15000L, "host1", null), (20000L, "host1", 2L),
      (0L, "host2", 3L), (5000L, "host2", null), (10000L, "host2", 4L),
      (15000L, "host2", null), (20000L, "host2", 5L))
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL("ts BIGINT, host STRING, val BIGINT"))
  }

  /** host with missing slots (fill.result second fixture) */
  private def hostGaps(): DataFrame = {
    val rows = Seq[(Long, String, java.lang.Long)](
      (0L, "host1", 0L), (1000L, "host1", 1L), (2000L, "host1", 2L),
      (15000L, "host1", 6L), (16000L, "host1", 7L), (17000L, "host1", 8L),
      (0L, "host2", 6L), (1000L, "host2", 7L), (2000L, "host2", 8L),
      (15000L, "host2", 12L), (16000L, "host2", 13L), (17000L, "host2", 14L))
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL("ts BIGINT, host STRING, val BIGINT"))
  }

  private def collect(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(col("host"), col("ts")).collect().toSeq.map(_.toSeq)

  test("min RANGE 5s ALIGN 5s (no fill) — sparse slots") {
    val out = RangeSelect(host(), "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")))))
    assert(collect(out) == Seq(
      Seq(0L, "host1", 0L), Seq(5000L, "host1", null), Seq(10000L, "host1", 1L),
      Seq(15000L, "host1", null), Seq(20000L, "host1", 2L),
      Seq(0L, "host2", 3L), Seq(5000L, "host2", null), Seq(10000L, "host2", 4L),
      Seq(15000L, "host2", null), Seq(20000L, "host2", 5L)))
  }

  test("2*min RANGE 5s — scalar around aggregate") {
    val out = RangeSelect(host(), "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")) * 2)))
    val got = collect(out).map(_.last)
    assert(got == Seq(0L, null, 2L, null, 4L, 6L, null, 8L, null, 10L))
  }

  test("RANGE 20s ALIGN 10s — overlapping windows incl. pre-epoch slot") {
    // covar fixture: slots -10s..20s; window [t, t+20s)
    val out = RangeSelect(host(), "ts", Seq("host"), 10000, 20000,
      Seq(RangeAgg("n", ctx => count(ctx.value("val")))))
    assert(collect(out).filter(_(1) == "host1") == Seq(
      Seq(-10000L, "host1", 1L), Seq(0L, "host1", 2L),
      Seq(10000L, "host1", 2L), Seq(20000L, "host1", 1L)))
  }

  test("FILL PREV") {
    val out = RangeSelect(host(), "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")), Fill.Prev)))
    val got = collect(out).map(_.last)
    assert(got == Seq(0L, 0L, 1L, 1L, 2L, 3L, 3L, 4L, 4L, 5L))
  }

  test("FILL LINEAR — interpolation to double") {
    val out = RangeSelect(host(), "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")), Fill.Linear)))
    val got = collect(out).map(_.last)
    assert(got == Seq(0.0, 0.5, 1.0, 1.5, 2.0, 3.0, 3.5, 4.0, 4.5, 5.0))
  }

  test("FILL CONST 6") {
    val out = RangeSelect(host(), "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")), Fill.Const(6L))))
    val got = collect(out).map(_.last)
    assert(got == Seq(0L, 6L, 1L, 6L, 2L, 3L, 6L, 4L, 6L, 5L))
  }

  test("FILL densifies missing slots; PREV and LINEAR across gaps") {
    val base = hostGaps()
    val sparse = RangeSelect(base, "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")))))
    assert(collect(sparse).map(_.last) == Seq(0L, 6L, 6L, 12L))

    val prev = RangeSelect(base, "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")), Fill.Prev)))
    assert(collect(prev).map(_.last) == Seq(0L, 0L, 0L, 6L, 6L, 6L, 6L, 12L))

    val lin = RangeSelect(base, "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("m", ctx => min(ctx.value("val")), Fill.Linear)))
    assert(collect(lin).map(_.last) == Seq(0.0, 2.0, 4.0, 6.0, 6.0, 8.0, 10.0, 12.0))
  }

  test("multiple fills share densified grid; unfilled column keeps sparse nulls") {
    val out = RangeSelect(hostGaps(), "ts", Seq("host"), 5000, 5000, Seq(
      RangeAgg("raw", ctx => min(ctx.value("val"))),
      RangeAgg("c6", ctx => min(ctx.value("val")), Fill.Const(6L))))
    val h1 = collect(out).filter(_(1) == "host1")
    assert(h1.map(_(2)) == Seq(0L, null, null, 6L))
    assert(h1.map(_(3)) == Seq(0L, 6L, 6L, 6L))
  }

  test("per-expression RANGE durations") {
    val out = RangeSelect(host(), "ts", Seq("host"), 5000, 5000, Seq(
      RangeAgg("m5", ctx => min(ctx.value("val"))),
      RangeAgg("m10", ctx => min(ctx.value("val")), Fill.None, Some(10000L))))
    val h1 = collect(out).filter(_(1) == "host1")
    // slot grid is the union over expressions: m10's [-5s,5s) window
    // adds slot -5s where m5 (window [-5s,0)) is null
    assert(h1.map(_.head) == Seq(-5000L, 0L, 5000L, 10000L, 15000L, 20000L))
    assert(h1.map(_(3)) == Seq(0L, 0L, 1L, 1L, 2L, 2L))
    assert(h1.map(_(2)) == Seq(null, 0L, null, 1L, null, 2L))
  }

  test("range smaller than align drops between-slot rows") {
    val out = RangeSelect(host(), "ts", Seq("host"), 10000, 5000,
      Seq(RangeAgg("n", ctx => count(ctx.value("val")))))
    // windows [0,5s),[10s,15s),[20s,25s): rows at 5s/15s fall in no slot
    assert(collect(out).filter(_(1) == "host1") == Seq(
      Seq(0L, "host1", 1L), Seq(10000L, "host1", 1L), Seq(20000L, "host1", 1L)))
  }

  test("ALIGN TO shifts the grid origin") {
    val out = RangeSelect(host(), "ts", Seq("host"), 5000, 5000,
      Seq(RangeAgg("n", ctx => count(ctx.present))), alignToMs = 1000L)
    // slots ...,-4s,1s,6s,...: row@0 -> slot -4s, row@5s -> slot 1s ...
    assert(collect(out).filter(_(1) == "host1").map(_.head) ==
      Seq(-4000L, 1000L, 6000L, 11000L, 16000L))
  }

  // ---- FoldAgg: collect-buffering aggregates through the fold --------

  /** Seeded random series: 3 hosts × 400 samples, irregular ts (some
    * before epoch), ~8% null values. */
  private def randomSeries(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for {
      h <- Seq("a", "b", "c")
      _ <- 0 until 400
    } yield Row(
      -20000L + (rnd.nextDouble() * 200000).toLong,
      h,
      if (rnd.nextDouble() < 0.08) null
      else java.lang.Double.valueOf(math.rint(rnd.nextDouble() * 1000) / 10))
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "ts BIGINT, host STRING, val DOUBLE"))
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(Seq("host", "ts").filter(df.columns.contains).map(col): _*)
      .collect().toSeq.map(_.toSeq)

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (sortedRows(a), sortedRows(b))
    assert(ra.length == rb.length, s"rows ${ra.length} vs ${rb.length}")
    ra.zip(rb).foreach { case (x, y) =>
      x.zip(y).foreach {
        case (u: Double, v: Double) =>
          assert(u == v || math.abs(u - v) < 1e-9, s"$x vs $y")
        case (u, v) => assert(u == v, s"$x vs $y")
      }
    }
  }

  test("fold percentile ≡ explode percentile at every range/align shape") {
    import graft.operators.{RangeFolds, RangeSelect => RS}
    val df = randomSeries(42).cache()
    // (align, range, align_to, by): sliding, tumbling, range<align,
    // non-divisible, an offset grid, and one series keyed by lit(0)
    for ((a, r, to, by) <- Seq((5000L, 40000L, 0L, Seq("host")),
        (10000L, 10000L, 0L, Seq("host")), (10000L, 4000L, 0L, Seq("host")),
        (7000L, 30000L, 0L, Seq("host")), (7000L, 30000L, 2500L, Seq("host")),
        (5000L, 40000L, 0L, Nil))) {
      val explode = RangeSelect(df, "ts", by, a, r, Seq(
        RangeAgg("n", ctx => count(ctx.value("val"))),
        RangeAgg("p50", ctx => percentile(ctx.value("val"), lit(0.5))),
        RangeAgg("p90", ctx => percentile(ctx.value("val"), lit(0.9)))), to)
      val fold = RangeSelect(df, "ts", by, a, r, Seq(
        RangeAgg("n", ctx => count(ctx.value("val")))), to,
        foldAggs = Seq(
          RS.FoldAgg("p50", "val", RangeFolds.percentileCont(0.5)),
          RS.FoldAgg("p90", "val", RangeFolds.percentileCont(0.9))))
      val cols = ("ts" +: by) ++ Seq("n", "p50", "p90")
      assertSame(explode.select(cols.map(col): _*), fold.select(cols.map(col): _*))
    }
    df.unpersist()
  }

  test("fold-only query, per-expression fold ranges, and slot-set union") {
    import graft.operators.{RangeFolds, RangeSelect => RS}
    val df = randomSeries(7)
    // per-expr ranges on the fold side: p5s over [t,t+5s), p20s over
    // [t,t+20s) — slot set = union (20s window adds leading slots)
    val fold = RangeSelect(df, "ts", Seq("host"), 5000, 5000, Nil,
      foldAggs = Seq(
        RS.FoldAgg("p5s", "val", RangeFolds.percentileCont(0.5)),
        RS.FoldAgg("p20s", "val", RangeFolds.percentileCont(0.5),
          rangeMs = Some(20000L))))
    val explode = RangeSelect(df, "ts", Seq("host"), 5000, 5000, Seq(
      RangeAgg("p5s", ctx => percentile(ctx.value("val"), lit(0.5))),
      RangeAgg("p20s", ctx => percentile(ctx.value("val"), lit(0.5)),
        Fill.None, Some(20000L))))
    assertSame(explode.select("ts", "host", "p5s", "p20s"),
      fold.select("ts", "host", "p5s", "p20s"))
  }

  test("FoldAgg fills ride the shared densified grid") {
    import graft.operators.{RangeFolds, RangeSelect => RS}
    val out = RangeSelect(hostGaps(), "ts", Seq("host"), 5000, 5000, Seq(
      RangeAgg("m", ctx => min(ctx.value("val")), Fill.Prev)),
      foldAggs = Seq(
        RS.FoldAgg("p", "val", RangeFolds.percentileCont(0.5), Fill.Prev)))
    val h1 = collect(out).filter(_(1) == "host1")
    // slots 0,5s,10s,15s densified; 5s/10s filled from slot 0
    assert(h1.map(_.head) == Seq(0L, 5000L, 10000L, 15000L))
    assert(h1.map(_(2)) == Seq(0L, 0L, 0L, 6L))      // min FILL PREV
    assert(h1.map(_(3)) == Seq(1.0, 1.0, 1.0, 7.0))  // median FILL PREV
  }

  test("fold first/last-by-time ≡ explode encoding, incl. ties and null values") {
    import graft.operators.{RangeFolds, RangeSelect => RS}
    // force ts collisions so tie-breaks are exercised: quantize to 4s
    val df = randomSeries(13).withColumn("ts", (col("ts") / 4000) * 4000)
    def encoded(fn: String, dir: String) = expr(
      s"element_at(array_sort(collect_list(struct(" +
        s"(CASE WHEN ts IS NULL THEN ${if (dir == "DESC") 0 else 1} ELSE ${if (dir == "DESC") 1 else 0} END) AS __n0, " +
        s"coalesce(${if (dir == "DESC") "-" else ""}CAST(ts AS DOUBLE), 0D) AS __k0, " +
        s"ts AS __t, val AS __v))), ${if (fn == "first_value") "1" else "-1"}).__v")
    for ((a, r) <- Seq((5000L, 40000L), (10000L, 10000L))) {
      val explode = RangeSelect(df, "ts", Seq("host"), a, r, Seq(
        RangeAgg("fa", _ => encoded("first_value", "ASC")),
        RangeAgg("la", _ => encoded("last_value", "ASC")),
        RangeAgg("fd", _ => encoded("first_value", "DESC")),
        RangeAgg("ld", _ => encoded("last_value", "DESC"))))
      val fold = RangeSelect(df, "ts", Seq("host"), a, r, Nil,
        foldAggs = Seq(
          RS.FoldAgg("fa", "val", RangeFolds.firstValueByTime),
          RS.FoldAgg("la", "val", RangeFolds.lastValueByTime),
          RS.FoldAgg("fd", "val", RangeFolds.firstValueByTimeDesc),
          RS.FoldAgg("ld", "val", RangeFolds.lastValueByTimeDesc)))
      assertSame(explode.select("ts", "host", "fa", "la", "fd", "ld"),
        fold.select("ts", "host", "fa", "la", "fd", "ld"))
    }
  }

  test("SQL percentile WITHIN GROUP routes through the fold at high fan-out") {
    import graft.operators.{RangeSelect => RS}
    graft.functions.Registry.registerAll(spark) // __approx_pct_td for explode
    val df = randomSeries(11)
    def resolve(name: String) = (df, "ts", Seq("host"))
    val sql = "SELECT ts, host, approx_percentile_cont(0.9) WITHIN GROUP " +
      "(ORDER BY val) RANGE '40s' FROM t ALIGN '5s' BY (host)"
    val saved = RS.FoldFanoutMin
    try {
      RS.FoldFanoutMin = Long.MaxValue // force explode
      val explodeRows = sortedRows(
        graft.sql.RangeSql.execute(spark, sql, resolve))
      RS.FoldFanoutMin = 2L // ratio 8 → fold
      val foldRows = sortedRows(
        graft.sql.RangeSql.execute(spark, sql, resolve))
      assert(explodeRows.length == foldRows.length)
      // both run the same t-digest; fold builds it in one compress pass
      // so centroids can differ at batch boundaries — assert tight
      // numeric agreement rather than bit equality
      explodeRows.zip(foldRows).foreach { case (x, y) =>
        assert(x.take(2) == y.take(2), s"$x vs $y")
        (x(2), y(2)) match {
          case (null, null) =>
          case (u: Double, v: Double) =>
            assert(math.abs(u - v) <= 1e-6 * math.max(1.0, math.abs(u)),
              s"$x vs $y")
          case other => fail(s"unexpected $other")
        }
      }
      // first/last over the time index route too — exact values (no
      // sketch), so the two paths must agree bit-for-bit
      val flSql = "SELECT ts, host, first_value(val ORDER BY ts) RANGE '40s', " +
        "last_value(val ORDER BY ts DESC) RANGE '40s' " +
        "FROM t ALIGN '5s' BY (host)"
      RS.FoldFanoutMin = Long.MaxValue
      val flExplode = sortedRows(graft.sql.RangeSql.execute(spark, flSql, resolve))
      RS.FoldFanoutMin = 2L
      val flFold = sortedRows(graft.sql.RangeSql.execute(spark, flSql, resolve))
      assert(flExplode == flFold)
    } finally RS.FoldFanoutMin = saved
  }
}
