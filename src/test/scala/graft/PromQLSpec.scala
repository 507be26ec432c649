package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.promql._
import graft.promql.PromQL.{EvalParams, Metric}
import graft.tools.StageMeter

import scala.jdk.CollectionConverters._

class PromQLSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private def mkDf(rows: Seq[(Double, Long, String)]): DataFrame =
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava,
      StructType.fromDDL("i DOUBLE, j BIGINT, k STRING"))

  /** tql/basic.sql fixture: two points at 1ms ('a','b'), one at 2ms ('a'). */
  private def basicCatalog: Map[String, Metric] = Map(
    "test" -> Metric(mkDf(Seq((1.0, 1L, "a"), (1.0, 1L, "b"), (2.0, 2L, "a"))),
      "j", "i", Seq("k")))

  private def eval(q: String, startS: Long = 0, endS: Long = 10, stepS: Long = 5,
      catalog: Map[String, Metric] = basicCatalog,
      lookbackS: Long = 300): Seq[(Long, String, Double)] = {
    val p = EvalParams(startS * 1000, endS * 1000, stepS * 1000, lookbackS * 1000)
    val out = new PromEval(spark, catalog, p).evalQuery(q)
    out.collect().toSeq.map { r =>
      val ts = r.getLong(r.fieldIndex("__ts"))
      val k = if (r.schema.fieldNames.contains("k")) r.getString(r.fieldIndex("k")) else ""
      (ts, k, r.getDouble(r.fieldIndex("__val")))
    }.sortBy(x => (x._2, x._1))
  }

  private type WindowFn = (Seq[PromFunctions.Sample], Long, Long) => Option[Double]

  /** Reference window evaluator over plain Scala collections,
    * independent of the fold's chunk and deque arithmetic: for each
    * series and grid anchor t, the series' samples (timestamps shifted
    * by `offsetS`) in (t - w, t], sorted by (ts, value), mapped by
    * `f(samples, t - w, t)`; an empty window or a None drops the
    * anchor. Rows are mkDf's (value, ts ms, series); the result is
    * sorted like [[eval]]'s. */
  private def reference(rows: Seq[(Double, Long, String)], startS: Long, endS: Long,
      stepS: Long, wS: Long, f: WindowFn, offsetS: Long = 0): Seq[(Long, String, Double)] = {
    val w = wS * 1000
    val byTsThenValue = Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering)
    (for {
      (k, rs) <- rows.groupBy(_._3).toSeq
      t <- (startS * 1000) to (endS * 1000) by (stepS * 1000)
      win = rs.map(r => (r._2 + offsetS * 1000, r._1))
        .filter(s => s._1 > t - w && s._1 <= t).sorted(byTsThenValue)
      if win.nonEmpty
      v <- f(win, t - w, t)
    } yield (t, k, v)).sortBy(x => (x._2, x._1))
  }

  /** The instant selector: the latest sample's value. */
  private val latest: WindowFn = (s, _, _) => Some(s.last._2)
  /** timestamp(selector): the latest sample's time in seconds. */
  private val stamp: WindowFn = (s, _, _) => Some(s.last._1 / 1000.0)
  private def fn(name: String, args: Double*): WindowFn = PromFunctions.windowEval(name, args)

  test("instant selector — tql/basic.result golden") {
    // expected: (5s,a,2),(10s,a,2),(5s,b,1),(10s,b,1); nothing at 0s
    assert(eval("test") == Seq(
      (5000L, "a", 2.0), (10000L, "a", 2.0), (5000L, "b", 1.0), (10000L, "b", 1.0)))
  }

  test("label matcher filters series") {
    assert(eval("""test{k="a"}""") == Seq((5000L, "a", 2.0), (10000L, "a", 2.0)))
    assert(eval("""test{k=~"a|zzz"}""") == Seq((5000L, "a", 2.0), (10000L, "a", 2.0)))
    assert(eval("""test{k!="a"}""") == Seq((5000L, "b", 1.0), (10000L, "b", 1.0)))
  }

  test("count by (k) — tql/basic.result golden") {
    assert(eval("count by (k) (test)") == Seq(
      (5000L, "a", 1.0), (10000L, "a", 1.0), (5000L, "b", 1.0), (10000L, "b", 1.0)))
  }

  test("sum without labels collapses series") {
    val got = eval("sum(test)").map { case (ts, _, v) => (ts, v) }
    assert(got == Seq((5000L, 3.0), (10000L, 3.0)))
  }

  test("vector-scalar arithmetic and comparison filter") {
    assert(eval("test * 10") == Seq(
      (5000L, "a", 20.0), (10000L, "a", 20.0), (5000L, "b", 10.0), (10000L, "b", 10.0)))
    assert(eval("test > 1.5") == Seq((5000L, "a", 2.0), (10000L, "a", 2.0)))
    assert(eval("test > bool 1.5") == Seq(
      (5000L, "a", 1.0), (10000L, "a", 1.0), (5000L, "b", 0.0), (10000L, "b", 0.0)))
  }

  test("vector-vector arithmetic joins on (ts, labels)") {
    assert(eval("test + test") == Seq(
      (5000L, "a", 4.0), (10000L, "a", 4.0), (5000L, "b", 2.0), (10000L, "b", 2.0)))
  }

  test("and / unless / or set ops") {
    assert(eval("""test and test{k="a"}""") == Seq((5000L, "a", 2.0), (10000L, "a", 2.0)))
    assert(eval("""test unless test{k="a"}""") == Seq((5000L, "b", 1.0), (10000L, "b", 1.0)))
    assert(eval("""test{k="a"} or test""") == Seq(
      (5000L, "a", 2.0), (10000L, "a", 2.0), (5000L, "b", 1.0), (10000L, "b", 1.0)))
  }

  test("rate — Prometheus extrapolation semantics") {
    // counter: 0@0s, 10@10s, 20@20s ... 60@60s; rate over [60s] at t=60s
    val rows = (0 to 6).map(i => (i * 10.0, i * 10000L, "x"))
    val cat = Map("c" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    val got = eval("rate(c[60s])", startS = 60, endS = 60, stepS = 60, catalog = cat)
    assert(got.size == 1)
    // samples cover the full window -> rate = 60/60 = 1.0 exactly
    assert(math.abs(got.head._3 - 1.0) < 1e-9, got.toString)
  }

  test("rate handles counter resets") {
    val rows = Seq((0.0, 0L, "x"), (10.0, 10000L, "x"), (2.0, 20000L, "x"), (12.0, 30000L, "x"))
    val cat = Map("c" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    val got = eval("increase(c[30s])", startS = 30, endS = 30, stepS = 30, catalog = cat)
    // window (0s,30s] excludes the 0s sample: samples 10,2,12 ->
    // raw = 12-10 + 10 (reset) = 12; extrapolated by 30/20 -> 18
    assert(math.abs(got.head._3 - 18.0) < 1e-9, got.toString)
  }

  test("irate / idelta use the last two samples") {
    val rows = Seq((0.0, 0L, "x"), (10.0, 10000L, "x"), (40.0, 20000L, "x"))
    val cat = Map("c" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    assert(eval("irate(c[30s])", 30, 30, 30, cat).head._3 == 3.0)
    assert(eval("idelta(c[30s])", 30, 30, 30, cat).head._3 == 30.0)
  }

  test("changes / resets / deriv / predict_linear") {
    val rows = Seq((0.0, 0L, "x"), (5.0, 10000L, "x"), (3.0, 20000L, "x"), (3.0, 30000L, "x"))
    val cat = Map("c" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    // window (0s,30s] sees 5,3,3 -> one change
    assert(eval("changes(c[30s])", 30, 30, 30, cat).head._3 == 1.0)
    assert(eval("resets(c[30s])", 30, 30, 30, cat).head._3 == 1.0)
    val lin = Seq((0.0, 0L, "x"), (10.0, 10000L, "x"), (20.0, 20000L, "x"))
    val catLin = Map("c" -> Metric(mkDf(lin), "j", "i", Seq("k")))
    assert(math.abs(eval("deriv(c[30s])", 30, 30, 30, catLin).head._3 - 1.0) < 1e-9)
    val pred = eval("predict_linear(c[30s], 10)", 30, 30, 30, catLin).head._3
    // at t=30s the fitted value is 30; +10s ahead -> 40
    assert(math.abs(pred - 40.0) < 1e-9, pred.toString)
  }

  test("*_over_time family") {
    val rows = Seq((1.0, 1000L, "x"), (5.0, 2000L, "x"), (3.0, 3000L, "x"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    def one(q: String): Double = eval(q, 3, 3, 3, cat).head._3
    assert(one("avg_over_time(m[3s])") == 3.0)
    assert(one("min_over_time(m[3s])") == 1.0)
    assert(one("max_over_time(m[3s])") == 5.0)
    assert(one("sum_over_time(m[3s])") == 9.0)
    assert(one("count_over_time(m[3s])") == 3.0)
    assert(one("last_over_time(m[3s])") == 3.0)
    assert(math.abs(one("quantile_over_time(0.5, m[3s])") - 3.0) < 1e-9)
  }

  test("topk / quantile aggregations") {
    val got = eval("topk(1, test)")
    assert(got == Seq((5000L, "a", 2.0), (10000L, "a", 2.0)))
    val q = eval("quantile(0.5, test)").map { case (ts, _, v) => (ts, v) }
    assert(q == Seq((5000L, 1.5), (10000L, 1.5)))
  }

  test("absent / scalar / vector") {
    val got = eval("""absent(test{k="zzz"})""").map { case (ts, _, v) => (ts, v) }
    assert(got == Seq((0L, 1.0), (5000L, 1.0), (10000L, 1.0)))
    val sc = eval("""scalar(test{k="a"})""").map { case (ts, _, v) => (ts, v) }
    assert(sc.filter(_._1 >= 5000) == Seq((5000L, 2.0), (10000L, 2.0)))
    assert(eval("vector(42)").map(_._3) == Seq(42.0, 42.0, 42.0))
  }

  test("offset shifts the evaluation window") {
    val rows = Seq((1.0, 0L, "x"), (9.0, 6000L, "x"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    // at t=5s without offset: latest sample is 1.0 (6s > 5s)
    assert(eval("m", 5, 5, 5, cat).head._3 == 1.0)
    // offset 2s: evaluates at 3s -> sample@0 still; at 8s sees 9.0 shifted to 8s
    assert(eval("m offset 2s", 8, 8, 8, cat).head._3 == 9.0)
  }

  test("histogram_quantile over le buckets") {
    val rows = Seq(
      (1.0, 1000L, "0.1"), (2.0, 1000L, "0.5"), (4.0, 1000L, "1"), (4.0, 1000L, "+Inf"))
    val df = mkDf(rows).withColumnRenamed("k", "le")
    val cat = Map("h" -> Metric(df, "j", "i", Seq("le")))
    val got = eval("histogram_quantile(0.5, h)", 5, 5, 5, cat)
    // target=2 falls exactly at cumulative 2 in bucket (0.1, 0.5]
    assert(math.abs(got.head._3 - 0.5) < 1e-9, got.toString)
  }

  test("absent_over_time emits 1 only at empty-window steps") {
    val rows = Seq((1.0, 1000L, "x"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    // steps 0,5,10s with a 5s range: the 1s sample covers only step 5s
    // ((t-range, t] windows); absent at 0 and 10
    val got = eval("absent_over_time(m[5s])", 0, 10, 5, cat)
      .map { case (ts, _, v) => (ts, v) }
    assert(got == Seq((0L, 1.0), (10000L, 1.0)))
  }

  test("holt_winters double exponential smoothing") {
    val rows = Seq((1.0, 1000L, "x"), (2.0, 2000L, "x"), (3.0, 3000L, "x"), (4.0, 4000L, "x"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    val got = eval("holt_winters(m[4s], 0.5, 0.5)", 4, 4, 4, cat).head._3
    // perfect linear trend: smoothing tracks it exactly -> last value 4
    assert(math.abs(got - 4.0) < 1e-9, got.toString)
    val alias = eval("double_exponential_smoothing(m[4s], 0.5, 0.5)", 4, 4, 4, cat).head._3
    assert(alias == got)
  }

  test("count_values groups identical sample values") {
    val rows = Seq((1.0, 1000L, "a"), (1.0, 1000L, "b"), (2.0, 1000L, "c"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    val p = EvalParams(1000, 1000, 1000)
    val out = new PromEval(spark, cat, p).evalQuery("""count_values("v", m)""")
      .collect().map(r => r.getString(r.fieldIndex("v")) ->
        r.getDouble(r.fieldIndex("__val"))).toMap
    assert(out == Map("1" -> 2.0, "2" -> 1.0))
  }

  test("vector matching with on/ignoring") {
    // l has labels (k); r has labels (k): on(k) joins; ignoring(k) joins on ts only
    val l = Map("l" -> Metric(mkDf(Seq((10.0, 1000L, "a"))), "j", "i", Seq("k")))
    val r = Map("r" -> Metric(mkDf(Seq((4.0, 1000L, "a"))), "j", "i", Seq("k")))
    val cat = l ++ r
    val got = eval("l + on(k) r", 1, 1, 1, cat)
    assert(got == Seq((1000L, "a", 14.0)))
    val got2 = new PromEval(spark, cat, EvalParams(1000, 1000, 1000))
      .evalQuery("l + ignoring(k) r").collect()
    assert(got2.length == 1 && got2(0).getDouble(got2(0).fieldIndex("__val")) == 14.0)
  }

  test("group_left: many-to-one keeps the many side's labels") {
    // many side: two series per k (labels k, j-as-"mode" via second col?)
    // use mkDf's single label k; emulate many side with two ts... instead
    // build frames with an extra label via a second metric
    val many = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(10.0, 1000L, "a", "m1"),
        org.apache.spark.sql.Row(20.0, 1000L, "a", "m2")),
      StructType.fromDDL("i DOUBLE, j BIGINT, k STRING, inst STRING"))
    val one = mkDf(Seq((4.0, 1000L, "a")))
    val cat = Map(
      "many" -> Metric(many, "j", "i", Seq("k", "inst")),
      "one" -> Metric(one, "j", "i", Seq("k")))
    val p = EvalParams(1000, 1000, 1000)
    val out = new PromEval(spark, cat, p)
      .evalQuery("many + on(k) group_left one")
      .collect().map(r => (r.getString(r.fieldIndex("inst")),
        r.getDouble(r.fieldIndex("__val")))).toSet
    assert(out == Set("m1" -> 14.0, "m2" -> 24.0))
    // group_right mirrors: one-side on the left
    val out2 = new PromEval(spark, cat, p)
      .evalQuery("one + on(k) group_right many")
      .collect().map(r => (r.getString(r.fieldIndex("inst")),
        r.getDouble(r.fieldIndex("__val")))).toSet
    assert(out2 == Set("m1" -> 14.0, "m2" -> 24.0))
  }

  test("group_left copies requested labels off the one side") {
    val many = mkDf(Seq((10.0, 1000L, "a"), (20.0, 1000L, "b")))
    val one = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1.0, 1000L, "a", "east"),
        org.apache.spark.sql.Row(2.0, 1000L, "b", "west")),
      StructType.fromDDL("i DOUBLE, j BIGINT, k STRING, region STRING"))
    val cat = Map(
      "m" -> Metric(many, "j", "i", Seq("k")),
      "o" -> Metric(one, "j", "i", Seq("k", "region")))
    val out = new PromEval(spark, cat, EvalParams(1000, 1000, 1000))
      .evalQuery("m * on(k) group_left(region) o")
      .collect().map(r => (r.getString(r.fieldIndex("k")),
        r.getString(r.fieldIndex("region")),
        r.getDouble(r.fieldIndex("__val")))).toSet
    assert(out == Set(("a", "east", 10.0), ("b", "west", 40.0)))
  }

  test("subqueries: expr[range:step] folds an inner evaluation") {
    val rows = Seq((1.0, 1000L, "x"), (5.0, 2000L, "x"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    // inner grid 0..3s at 1s: values 1,5,5 inside the (0,3] window
    assert(eval("max_over_time(m[3s:1s])", 3, 3, 3, cat).head._3 == 5.0)
    assert(eval("min_over_time(m[3s:1s])", 3, 3, 3, cat).head._3 == 1.0)
    // subquery over a computed expression, not just a selector
    assert(eval("max_over_time((m * 2)[3s:1s])", 3, 3, 3, cat).head._3 == 10.0)
    // plain range selectors still parse through the same postfix path
    assert(eval("count_over_time(m[3s])", 3, 3, 3, cat).head._3 == 2.0)
  }

  test("@ modifier pins evaluation time across the grid") {
    val rows = Seq((1.0, 1000L, "x"), (5.0, 6000L, "x"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    // @ 1 (epoch seconds): the 1s sample's value shows at every step
    val got = eval("m @ 1", 0, 10, 5, cat).map { case (ts, _, v) => (ts, v) }
    assert(got == Seq((0L, 1.0), (5000L, 1.0), (10000L, 1.0)))
    // @ end(): latest sample everywhere
    val end = eval("m @ end()", 0, 10, 5, cat).map(_._3).distinct
    assert(end == Seq(5.0))
    // range fn with @: the window is folded once at the pinned instant
    val c = eval("count_over_time(m[10s] @ 10)", 0, 10, 5, cat).map(_._3).distinct
    assert(c == Seq(2.0))
  }

  test("sort functions are presentation no-ops") {
    assert(eval("sort(test)").toSet == eval("test").toSet)
  }

  test("math functions and unary minus") {
    assert(eval("-test")(0)._3 == -2.0)
    assert(eval("abs(-1 * test)")(0)._3 == 2.0)
    assert(eval("sqrt(test * test)")(0)._3 == 2.0)
    assert(eval("clamp(test, 1.5, 1.8)")(0)._3 == 1.8)
  }

  test("fold matches the reference evaluator across the battery") {
    // Every range/instant evaluation runs through the WindowFold sweep;
    // each query is pinned to the reference evaluator above, composed the way
    // PromEval composes the operator around the selector.
    val rows = (0 to 6).map(i => (i * 10.0, i * 10000L, if (i % 2 == 0) "a" else "b"))
    // u: the same samples as one label-less series
    val uRows = rows.map(r => (r._1, r._2, ""))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")),
      "u" -> Metric(mkDf(uRows), "j", "i", Nil))
    def ref(g: (Long, Long, Long), wS: Long, f: WindowFn, offsetS: Long = 0) =
      reference(rows, g._1, g._2, g._3, wS, f, offsetS)
    // absent_over_time: 1 at the steps where no series has a sample
    val present = ref((0, 70, 5), 5, fn("present_over_time")).map(_._1).toSet
    val absentRef = (0L to 70000L by 5000L).filterNot(present).map(t => (t, "", 1.0))
    // subquery m[30s:10s]: the inner selector on the 10 s grid from 0 s
    // (start - range, step-aligned), folded as a range vector
    val inner = ref((0, 60, 10), 300, latest).map { case (t, k, v) => (v, t, k) }
    val subqueryRef = reference(inner, 30, 60, 10, 30, fn("max_over_time"))
    // @ 60 pins the window at 60 s; its value repeats at every step
    val pinnedRef = (for {
      (_, k, v) <- ref((60, 60, 10), 30, fn("count_over_time"))
      t <- 0L to 60000L by 10000L
    } yield (t, k, v)).sortBy(x => (x._2, x._1))
    val cases = Seq[(String, (Long, Long, Long), Seq[(Long, String, Double)])](
      ("m", (0, 60, 10), ref((0, 60, 10), 300, latest)),
      ("rate(m[30s])", (30, 60, 10), ref((30, 60, 10), 30, fn("rate"))),
      ("increase(m[30s])", (30, 60, 15), ref((30, 60, 15), 30, fn("increase"))),
      ("irate(m[30s])", (30, 60, 10), ref((30, 60, 10), 30, fn("irate"))),
      ("changes(m[40s])", (40, 60, 10), ref((40, 60, 10), 40, fn("changes"))),
      ("avg_over_time(m[25s])", (0, 60, 5), ref((0, 60, 5), 25, fn("avg_over_time"))),
      ("count_over_time(m[30s])", (0, 60, 10), ref((0, 60, 10), 30, fn("count_over_time"))),
      ("last_over_time(m[20s])", (0, 60, 10), ref((0, 60, 10), 20, fn("last_over_time"))),
      ("quantile_over_time(0.5, m[30s])", (30, 60, 10),
        ref((30, 60, 10), 30, fn("quantile_over_time", 0.5))),
      ("absent_over_time(m[5s])", (0, 70, 5), absentRef),
      // k is the only label, so sum by (k) keeps each series as is
      ("sum by (k) (rate(m[30s]))", (30, 60, 10), ref((30, 60, 10), 30, fn("rate"))),
      ("timestamp(m)", (0, 60, 10), ref((0, 60, 10), 300, stamp)),
      ("max_over_time(m[30s:10s])", (30, 60, 10), subqueryRef),
      ("count_over_time(m[30s] @ 60)", (0, 60, 10), pinnedRef),
      ("rate(m[30s] offset 10s)", (40, 60, 10), ref((40, 60, 10), 30, fn("rate"), offsetS = 10)),
      ("u", (0, 60, 10), reference(uRows, 0, 60, 10, 300, latest)),
      ("rate(u[30s])", (30, 60, 10), reference(uRows, 30, 60, 10, 30, fn("rate"))))
    for ((q, g, expected) <- cases) {
      assert(expected.nonEmpty, s"empty battery case $q")
      val got = eval(q, g._1, g._2, g._3, cat)
      assert(got == expected, s"fold != reference for $q: $got vs $expected")
    }
  }

  test("fold == reference on seeded-random series across random grids") {
    // Property-style pin for the fold's chunk-boundary arithmetic: random
    // sample layouts × random (start, end, step, window) grids, about
    // half of them with the window shorter than the step (ratio 0) and
    // some with an end off the step grid. (The span-end clamp bug was
    // exactly this class.)
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 16) {
      val series = 1 + rnd.nextInt(3)
      val rows = (0 until 200).map { _ =>
        val k = ('a' + rnd.nextInt(series)).toChar.toString
        (rnd.nextInt(1000).toDouble, rnd.nextLong(120000L), k)
      }
      val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
      val ratio0 = rnd.nextBoolean()
      val stepS = if (ratio0) 2 + rnd.nextInt(40) else 1 + rnd.nextInt(9)
      val startS = rnd.nextInt(30)
      val endS = startS + stepS * (1 + rnd.nextInt(20)) + rnd.nextInt(stepS)
      val rangeS = if (ratio0) 1 + rnd.nextInt(stepS - 1) else 1 + rnd.nextInt(40)
      val fnName = Seq("count_over_time", "sum_over_time", "last_over_time",
        "min_over_time", "rate", "delta", "irate", "changes", "", "timestamp")(rnd.nextInt(10))
      // the bare selector and timestamp() take the window as lookback
      val (q, f) = fnName match {
        case "" => ("m", latest)
        case "timestamp" => ("timestamp(m)", stamp)
        case name => (s"$name(m[${rangeS}s])", fn(name))
      }
      val got = eval(q, startS, endS, stepS, cat, lookbackS = rangeS)
      val expected = reference(rows, startS, endS, stepS, rangeS, f)
      assert(got == expected,
        s"trial $trial: $q start=$startS end=$endS step=$stepS window=$rangeS — $got vs $expected")
    }
  }

  /** Ratio-0 fixture: two series on a 60 s step over [0 s, 250 s], an
    * end off the step grid (anchors 0, 60, 120, 180, 240 s). Series a
    * has samples exactly at t - 20 s (40, 100 s) and exactly at t (0, 60,
    * 120, 180, 240 s), and one after the last anchor (245 s). */
  private val ratio0Rows: Seq[(Double, Long, String)] =
    Seq(0, 15, 40, 45, 60, 100, 110, 120, 175, 180, 240, 245).zipWithIndex
      .map { case (s, i) => (i + 1.0, s * 1000L, "a") } ++
    Seq(10, 59, 61, 119, 130, 200, 239).zipWithIndex
      .map { case (s, i) => (i + 1.0, s * 1000L, "b") }
  private lazy val ratio0Cat = Map("m" -> Metric(mkDf(ratio0Rows), "j", "i", Seq("k")))

  test("window shorter than the step: rate and count_over_time at a 60 s step") {
    for (name <- Seq("rate", "count_over_time")) {
      val got = eval(s"$name(m[20s])", 0, 250, 60, ratio0Cat)
      assert(got == reference(ratio0Rows, 0, 250, 60, 20, fn(name)), s"$name: $got")
    }
    // rate needs two samples in (t - 20 s, t]: a at 60 (45, 60 s), 120
    // (110, 120 s) and 180 s (175, 180 s); b never has two
    assert(eval("rate(m[20s])", 0, 250, 60, ratio0Cat).map(x => (x._1, x._2)) ==
      Seq((60000L, "a"), (120000L, "a"), (180000L, "a")))
  }

  test("window shorter than the step: selector and timestamp() with a 20 s lookback") {
    val sel = eval("m", 0, 250, 60, ratio0Cat, lookbackS = 20)
    assert(sel == reference(ratio0Rows, 0, 250, 60, 20, latest))
    assert(sel == Seq((0L, "a", 1.0), (60000L, "a", 5.0), (120000L, "a", 8.0),
      (180000L, "a", 10.0), (240000L, "a", 11.0),
      (60000L, "b", 2.0), (120000L, "b", 4.0), (240000L, "b", 7.0)))
    val ts = eval("timestamp(m)", 0, 250, 60, ratio0Cat, lookbackS = 20)
    assert(ts == reference(ratio0Rows, 0, 250, 60, 20, stamp))
    assert(ts.map(x => (x._2, x._3)) == Seq(("a", 0.0), ("a", 60.0), ("a", 120.0),
      ("a", 180.0), ("a", 240.0), ("b", 59.0), ("b", 119.0), ("b", 239.0)))
  }

  test("window shorter than the step: t - w excluded, t included, end off the grid") {
    // hand-derived from the fixture: a's windows (40, 60] and (100, 120]
    // drop the samples at 40 s and 100 s and keep those at 60 s and
    // 120 s; the 245 s sample serves no anchor; b has nothing in (-20, 0]
    // or (160, 180]
    val got = eval("count_over_time(m[20s])", 0, 250, 60, ratio0Cat)
    assert(got == Seq((0L, "a", 1.0), (60000L, "a", 2.0), (120000L, "a", 2.0),
      (180000L, "a", 2.0), (240000L, "a", 1.0),
      (60000L, "b", 1.0), (120000L, "b", 1.0), (240000L, "b", 1.0)))
  }

  test("window shorter than the step: only samples some window holds are shuffled") {
    // each sample feeds at most one anchor at this ratio, so the fold's
    // one exchange writes exactly the samples in some (t - 20 s, t]
    val anchors = 0L to 250000L by 60000L
    val held = ratio0Rows.count(r => anchors.exists(t => r._2 > t - 20000L && r._2 <= t))
    assert(held == 11 && held < ratio0Rows.length)
    val m = StageMeter.measure(spark)(PromQL.rangeFn("count_over_time",
      ratio0Cat("m"), EvalParams(0L, 250000L, 60000L), 20000L).df.collect())
    assert(m.shuffleWriteRecords == held, s"shuffled ${m.shuffleWriteRecords} samples")
  }

  test("NULL samples: presence in count() (scalar.result), valueless to range fns") {
    // promql/scalar.result pins a NULL-valued row keeping its series
    // PRESENT as a zero-count group — null rides the selector as a
    // null-valued sample; range functions see only the non-null values
    // (the fold must not read null as 0.0).
    def mk(rows: Seq[Row]) = spark.createDataFrame(rows.asJava,
      StructType.fromDDL("i DOUBLE, j BIGINT, k STRING"))
    val cat = Map("m" -> Metric(mk(Seq(
      Row(1.0, 1000L, "a"), Row(null, 1000L, "b"),
      Row(11.0, 11000L, "a"), Row(21.0, 21000L, "a"))), "j", "i", Seq("k")))
    def run(q: String, c: Map[String, Metric] = cat) = eval(q, 1, 21, 10, c)
    val got = run("count(m) by (k)")
    assert(got.contains((1000L, "b", 0.0)), got)
    assert(got.contains((1000L, "a", 1.0)), got)
    // range fns: the null sample contributes presence only — results
    // equal the same series with the null row absent, at ratio 2 and 0
    val noNull = Map("m" -> Metric(mk(Seq(
      Row(1.0, 1000L, "a"), Row(11.0, 11000L, "a"),
      Row(21.0, 21000L, "a"))), "j", "i", Seq("k")))
    for (q <- Seq("rate(m[20s])", "count_over_time(m[20s])", "count_over_time(m[5s])"))
      assert(run(q) == run(q, noNull), q)
    // the quantile aggregate skips the null value like sum() does; a
    // group of only null values gives a null quantile
    assert(run("quantile(0.5, m)") == run("quantile(0.5, m)", noNull))
    val byK = new PromEval(spark, cat, EvalParams(1000, 21000, 10000))
      .evalQuery("quantile by (k) (0.5, m)").collect()
      .filter(r => r.getString(r.fieldIndex("k")) == "b")
    assert(byK.nonEmpty && byK.forall(_.isNullAt(byK.head.fieldIndex("__val"))),
      byK.mkString(", "))
  }

  test("scalar-scalar precedence") {
    val p = EvalParams(0, 0, 1000)
    val ev = new PromEval(spark, basicCatalog, p)
    assert(ev.eval(PromParser.parse("1 + 2 * 3 ^ 2")) == Left(19.0))
    assert(ev.eval(PromParser.parse("(1 + 2) * 3")) == Left(9.0))
  }
}
