package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.aggregates._

class SketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  test("hll: estimate within 2% on 10k distinct values") {
    val state = (1 to 10000).foldLeft(Hll.emptyState)((s, i) => Hll.add(s, s"val-$i"))
    val est = Hll.count(state)
    assert(math.abs(est - 10000) < 200, s"estimate $est")
  }

  test("hll: merge == union (associativity, 50 random splits)") {
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val xs = List.fill(rnd.nextInt(500))(rnd.nextInt(5000))
      val ys = List.fill(rnd.nextInt(500))(rnd.nextInt(5000))
      val a = xs.foldLeft(Hll.emptyState)((s, i) => Hll.add(s, i.toString))
      val b = ys.foldLeft(Hll.emptyState)((s, i) => Hll.add(s, i.toString))
      val merged = Hll.mergeStates(a.clone(), b)
      val direct = (xs ++ ys).foldLeft(Hll.emptyState)((s, i) => Hll.add(s, i.toString))
      assert(merged.sameElements(direct))
    }
  }

  test("hll: duplicate values don't change the state") {
    val once = (1 to 100).foldLeft(Hll.emptyState)((s, i) => Hll.add(s, i.toString))
    val thrice = (1 to 3).foldLeft(Hll.emptyState) { (s, _) =>
      (1 to 100).foldLeft(s)((s2, i) => Hll.add(s2, i.toString))
    }
    assert(once.sameElements(thrice))
  }

  test("hll: distributed agg matches local estimate") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i % 5, s"u$i")).toDF("g", "u")
    val rows = df.repartition(4).groupBy($"g")
      .agg(Hll.hllCount(Hll.hllAgg($"u")).as("est"), countDistinct($"u").as("exact"))
      .collect()
    rows.foreach { r =>
      val est = r.getLong(1); val exact = r.getLong(2)
      assert(math.abs(est - exact).toDouble / exact < 0.05, s"g=${r.getInt(0)} est=$est exact=$exact")
    }
  }

  test("uddsketch: quantiles within relative error bound") {
    val xs = (1 to 10000).map(_.toDouble / 10)
    val st = xs.foldLeft(UddSketch.empty(128, 0.01))((s, x) => s.insert(x))
    for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val got = st.quantile(q)
      val exact = xs((q * (xs.size - 1)).toInt)
      // collapses may widen the effective α; allow 3× headroom
      assert(math.abs(got - exact) / exact < 3 * st.alpha * 2 + 0.05,
        s"q=$q got=$got exact=$exact alpha=${st.alpha}")
    }
  }

  test("uddsketch: merge ~ combined build (30 random splits)") {
    val rnd = new scala.util.Random(7)
    (1 to 30).foreach { _ =>
      val xs = List.fill(rnd.nextInt(800) + 1)(rnd.nextInt(10000) + 1)
      val ys = List.fill(rnd.nextInt(800) + 1)(rnd.nextInt(10000) + 1)
      val a = xs.foldLeft(UddSketch.empty(64, 0.05))((s, x) => s.insert(x.toDouble))
      val b = ys.foldLeft(UddSketch.empty(64, 0.05))((s, x) => s.insert(x.toDouble))
      val m = a.mergeWith(b)
      assert(m.total == xs.size + ys.size)
      val all = (xs ++ ys).map(_.toDouble).sorted
      val exact = all((0.5 * (all.size - 1)).toInt)
      val got = m.quantile(0.5)
      assert(math.abs(got - exact) / exact < 0.3, s"got=$got exact=$exact")
    }
  }

  test("uddsketch: serialization roundtrip") {
    val st = (1 to 100).foldLeft(UddSketch.empty(32, 0.02))((s, x) => s.insert(x * 1.5))
    val rt = UddSketch.deserialize(UddSketch.serialize(st))
    assert(rt == st)
  }

  test("uddsketch: negative and zero values") {
    val st = Seq(-10.0, -5.0, 0.0, 5.0, 10.0)
      .foldLeft(UddSketch.empty(32, 0.01))((s, x) => s.insert(x))
    assert(st.quantile(0.5) == 0.0)
    assert(st.quantile(0.05) < -9.0)
    assert(st.quantile(0.95) > 9.0)
  }

  test("vec_sum / vec_avg / vec_product distributed") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(1.0f, 2.0f)), (1, Seq(3.0f, 4.0f)), (1, Seq(5.0f, 6.0f)),
      (2, Seq(2.0f, 2.0f))).toDF("g", "v")
    val out = df.repartition(3).groupBy($"g").agg(
      VectorAggs.vecSumAgg($"v").as("s"),
      VectorAggs.vecAvgAgg($"v").as("a"),
      VectorAggs.vecProductAgg($"v").as("p"))
      .orderBy($"g").collect()
    assert(out(0).getSeq[Float](1) == Seq(9.0f, 12.0f))
    assert(out(0).getSeq[Float](2) == Seq(3.0f, 4.0f))
    assert(out(0).getSeq[Float](3) == Seq(15.0f, 48.0f))
    assert(out(1).getSeq[Float](1) == Seq(2.0f, 2.0f))
  }

  test("count_hash ≈ count distinct; geo_path ordering") {
    import spark.implicits._
    val df = Seq((1, 10L, 1.0, 2.0), (1, 5L, 3.0, 4.0), (1, 7L, 5.0, 6.0))
      .toDF("g", "ts", "lat", "lng")
    val row = df.groupBy($"g").agg(
      VectorAggs.countHash($"ts").as("ch"),
      VectorAggs.jsonEncodePath($"ts", $"lat", $"lng").as("path")).head()
    assert(row.getLong(1) == 3L)
    assert(row.getString(2) == "[[4.0,3.0],[6.0,5.0],[2.0,1.0]]") // ts order 5,7,10
  }

  // approx_distinct replicates DataFusion's HLL bit-for-bit (the golden
  // corpus pins its exact ±1 estimates); these pins are the corpus's
  // aggregate/approx_distinct.result numbers reproduced from raw inputs
  test("approx_distinct: DataFusion-exact estimates on i32 keys") {
    def countOf(hs: Seq[Long]): Long = {
      val r = new Array[Byte](ApproxDistinct.NumRegisters)
      hs.foreach(h => ApproxDistinct.addHash(r, h))
      ApproxDistinct.count(r)
    }
    assert(countOf((0 until 2000).map(AHash.hashInt)) == 2000L)
    val groups = (0 until 10).map(b =>
      countOf((0 until 2000).filter(_ % 10 == b).map(AHash.hashInt)))
    assert(groups == Seq(200L, 201L, 201L, 200L, 199L, 200L, 199L, 200L, 200L, 200L),
      s"got $groups")
    // merge == union
    val (a, b) = ((0 until 1000).map(AHash.hashInt), (500 until 2000).map(AHash.hashInt))
    val (ra, rb) = (new Array[Byte](ApproxDistinct.NumRegisters),
      new Array[Byte](ApproxDistinct.NumRegisters))
    a.foreach(h => ApproxDistinct.addHash(ra, h))
    b.foreach(h => ApproxDistinct.addHash(rb, h))
    assert(ApproxDistinct.agg.merge(ra, rb).sameElements {
      val ru = new Array[Byte](ApproxDistinct.NumRegisters)
      (a ++ b).foreach(h => ApproxDistinct.addHash(ru, h))
      ru
    })
  }

  test("approx_distinct: SQL surface over strings and empty input") {
    val g = new graft.sql.GraftSession(spark)
    assert(g.sql("SELECT APPROX_DISTINCT('hello') AS c").head().getLong(0) == 1L)
    val t = g.sql(
      "SELECT APPROX_DISTINCT(x) AS c FROM (SELECT explode(array('Pedro','Pedro','Mark','Hannes-Muehleisen')) AS x)")
    assert(t.head().getLong(0) == 3L)
    assert(g.sql(
      "SELECT APPROX_DISTINCT(id) AS c FROM (SELECT id FROM range(10) WHERE id < 0)")
      .head().getLong(0) == 0L)
  }
}
