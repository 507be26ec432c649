package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    assert(xs.count(_ > Stats.tail(xs)._2) == Stats.TailBeyond)
    val ys = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    assert(Stats.tail(ys) == ((75.0, 30.0)))
  }

  test("with fewer samples the tail is the median sample, never below the median") {
    assert(Stats.tail(Seq(5.0)) == ((100.0, 5.0)))
    assert(Stats.tail(Seq(5.0, 1.0, 3.0)) == ((100.0 * 2 / 3, 3.0)))
    assert(Stats.tail((1 to 9).map(_.toDouble)) == ((100.0 * 5 / 9, 5.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((60.0, 6.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((55.0, 11.0)))
    assert(Stats.tail((1 to 21).map(_.toDouble)) == ((100.0 * 11 / 21, 11.0)))
    for (n <- 1 to 60) {
      val xs = (1 to n).map(_.toDouble)
      assert(Stats.tail(xs)._2 >= Stats.median(xs))
    }
  }

  test("a failed op counts beyond every latency limit") {
    val xs = (1 to 30).map(_.toDouble) ++ Seq.fill(10)(Double.PositiveInfinity)
    assert(Stats.tail(xs)._2 == 30.0)
    val ys = (1 to 30).map(_.toDouble) ++ Seq.fill(11)(Double.PositiveInfinity)
    assert(Stats.tail(ys)._2.isInfinite)
  }

  test("union of intervals clips to the op and merges overlaps") {
    assert(Layers.unionMs(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0)), 0, 100) == 25.0)
    assert(Layers.unionMs(Seq((-5.0, 5.0), (95.0, 105.0)), 0, 100) == 10.0)
    assert(Layers.unionMs(Nil, 0, 100) == 0.0)
  }
}
