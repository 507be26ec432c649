package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.promql._
import graft.promql.PromQL.{EvalParams, Metric}

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
      catalog: Map[String, Metric] = basicCatalog): Seq[(Long, String, Double)] = {
    val p = EvalParams(startS * 1000, endS * 1000, stepS * 1000)
    val out = new PromEval(spark, catalog, p).evalQuery(q)
    out.collect().toSeq.map { r =>
      val ts = r.getLong(r.fieldIndex("__ts"))
      val k = if (r.schema.fieldNames.contains("k")) r.getString(r.fieldIndex("k")) else ""
      (ts, k, r.getDouble(r.fieldIndex("__val")))
    }.sortBy(x => (x._2, x._1))
  }

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

  test("fold path (GridFanoutMax=1) matches grid-explode across the battery") {
    // Forces every range/instant evaluation through foldWindowsAtGrid
    // (the mapPartitions deque fold used when range/step >= threshold)
    // and pins its output to the explode path's, query by query.
    val rows = (0 to 6).map(i => (i * 10.0, i * 10000L, if (i % 2 == 0) "a" else "b"))
    val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
    val cases = Seq[(String, (Long, Long, Long))](
      ("m", (0, 60, 10)),
      ("rate(m[30s])", (30, 60, 10)),
      ("increase(m[30s])", (30, 60, 15)),
      ("irate(m[30s])", (30, 60, 10)),
      ("changes(m[40s])", (40, 60, 10)),
      ("avg_over_time(m[25s])", (0, 60, 5)),
      ("count_over_time(m[30s])", (0, 60, 10)),
      ("last_over_time(m[20s])", (0, 60, 10)),
      ("quantile_over_time(0.5, m[30s])", (30, 60, 10)),
      ("absent_over_time(m[5s])", (0, 70, 5)),
      ("sum by (k) (rate(m[30s]))", (30, 60, 10)),
      ("timestamp(m)", (0, 60, 10)),
      ("max_over_time(m[30s:10s])", (30, 60, 10)),
      ("count_over_time(m[30s] @ 60)", (0, 60, 10)),
      ("rate(m[30s] offset 10s)", (40, 60, 10)))
    def run(q: String, w: (Long, Long, Long), threshold: Long) = {
      PromQL.GridFanoutMax = threshold
      try eval(q, w._1, w._2, w._3, cat)
      finally PromQL.GridFanoutMax = 1L
    }
    for ((q, w) <- cases) {
      val explode = run(q, w, Long.MaxValue)
      val fold = run(q, w, 1L)
      assert(fold == explode, s"fold != explode for $q: $fold vs $explode")
      assert(explode.nonEmpty, s"empty battery case $q")
    }
  }

  test("fold == explode on seeded-random series across random grids") {
    // Property-style pin for chunk-boundary arithmetic: random sample
    // layouts × random (start, end, step, range) grids, both paths must
    // agree exactly. (The span-end clamp bug was exactly this class.)
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 6) {
      val series = 1 + rnd.nextInt(3)
      val rows = (0 until 200).map { _ =>
        val k = ('a' + rnd.nextInt(series)).toChar.toString
        (rnd.nextInt(1000).toDouble, rnd.nextLong(120000L), k)
      }
      val cat = Map("m" -> Metric(mkDf(rows), "j", "i", Seq("k")))
      val stepS = 1 + rnd.nextInt(9)
      val startS = rnd.nextInt(30)
      val endS = startS + stepS * (1 + rnd.nextInt(20))
      val rangeS = 1 + rnd.nextInt(40)
      val fn = Seq("count_over_time", "sum_over_time", "last_over_time",
        "min_over_time", "rate", "delta")(rnd.nextInt(6))
      val q = s"$fn(m[${rangeS}s])"
      def run(threshold: Long) = {
        PromQL.GridFanoutMax = threshold
        try eval(q, startS, endS, stepS, cat)
        finally PromQL.GridFanoutMax = 1L
      }
      val explode = run(Long.MaxValue)
      val fold = run(1L)
      assert(fold == explode,
        s"trial $trial: $q start=$startS end=$endS step=$stepS — $fold vs $explode")
    }
  }

  test("NULL samples: presence in count() (scalar.result), valueless to range fns") {
    // promql/scalar.result pins a NULL-valued row keeping its series
    // PRESENT as a zero-count group — null rides the selector as a
    // null-valued sample on both evaluation paths; range functions see
    // only the non-null values (the fold must not read null as 0.0).
    def mk(rows: Seq[Row]) = spark.createDataFrame(rows.asJava,
      StructType.fromDDL("i DOUBLE, j BIGINT, k STRING"))
    val cat = Map("m" -> Metric(mk(Seq(
      Row(1.0, 1000L, "a"), Row(null, 1000L, "b"),
      Row(11.0, 11000L, "a"), Row(21.0, 21000L, "a"))), "j", "i", Seq("k")))
    def run(q: String, threshold: Long, c: Map[String, Metric] = cat) = {
      PromQL.GridFanoutMax = threshold
      try eval(q, 1, 21, 10, c) finally PromQL.GridFanoutMax = 1L
    }
    for (th <- Seq(Long.MaxValue, 1L)) {
      val got = run("count(m) by (k)", th)
      assert(got.contains((1000L, "b", 0.0)), s"th=$th: $got")
      assert(got.contains((1000L, "a", 1.0)), s"th=$th: $got")
    }
    // fold-path range fns: the null sample contributes presence only —
    // results equal the same series with the null row absent
    val noNull = Map("m" -> Metric(mk(Seq(
      Row(1.0, 1000L, "a"), Row(11.0, 11000L, "a"),
      Row(21.0, 21000L, "a"))), "j", "i", Seq("k")))
    assert(run("rate(m[20s])", 1L) == run("rate(m[20s])", 1L, noNull))
    assert(run("count_over_time(m[20s])", 1L) ==
      run("count_over_time(m[20s])", 1L, noNull))
  }

  test("scalar-scalar precedence") {
    val p = EvalParams(0, 0, 1000)
    val ev = new PromEval(spark, basicCatalog, p)
    assert(ev.eval(PromParser.parse("1 + 2 * 3 ^ 2")) == Left(19.0))
    assert(ev.eval(PromParser.parse("(1 + 2) * 3")) == Left(9.0))
  }
}
