package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other inputs") {
    def inputs(seed: Long) = (
      Gen.fleet(seed, 10),
      Gen.cpuRows(seed, 10, 50),
      (0 until 8).map(Gen.dash(seed, _, 10, TsDashboard.Slots)),
      (0 until 8).map(Gen.insertSlots(seed, _, 720)),
      Gen.bootDocs(seed, 20),
      (0 until 3).map(Gen.batch(seed, _, 100, 1000)))
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("dashboard windows lie inside the table") {
    for (seed <- 0L until 1000L; i <- 0 until 8) {
      val d = Gen.dash(seed, i, 10, TsDashboard.Slots)
      assert(d.pointStart + Gen.SlotsPerHour <= TsDashboard.Slots)
      assert(d.max8Start + 8 * Gen.SlotsPerHour <= TsDashboard.Slots)
      assert(d.max8Hosts.distinct.size == 8)
      assert(d.rangeStart % 30 == 0 && d.rangeStart + Gen.SlotsPerHour <= TsDashboard.Slots)
      // samples (start - 29 .. start + 360) feed the 61 rate steps
      assert(d.tqlStart >= 29 && d.tqlStart + Gen.SlotsPerHour < TsDashboard.Slots)
    }
  }

  test("fresh INSERTs extend the series; rewrites hit stored slots") {
    val base = 720
    val written = scala.collection.mutable.Set.empty[Int] ++ (0 until base)
    for (k <- 0 until 40) {
      val slots = Gen.insertSlots(3, k, base)
      assert(slots.distinct.size == Gen.SlotsPerInsert)
      if (Gen.isRewrite(k)) assert(slots.forall(written))
      else assert(slots.forall(!written(_)))
      written ++= slots
    }
  }

  test("planted duplicates copy indexed originals and near-dups are unique") {
    val boot = 1000
    val docs = (0 until 20).flatMap(Gen.batch(11, _, 100, boot))
    assert(docs.map(_.id) == (boot + 1L to boot + 2000L))
    val kinds = docs.groupBy(_.kind.getClass.getSimpleName).map { case (k, v) => k -> v.size }
    assert(kinds("Recrawl") > 100 && kinds("NearDup") > 100)
    docs.foreach {
      case Gen.Doc(_, text, Gen.Recrawl(src)) =>
        assert(src <= boot)
        assert(text.toLowerCase.trim.split("\\s+").mkString(" ") == Gen.originalText(11, src))
      case Gen.Doc(_, text, Gen.NearDup(src)) =>
        assert(src <= boot)
        assert(text.split(' ').zip(Gen.originalText(11, src).split(' ')).count { case (a, b) => a != b } == 1)
      case _ =>
    }
    val near = docs.collect { case d @ Gen.Doc(_, _, Gen.NearDup(_)) => d.text }
    assert(near.distinct.size == near.size)
  }
}
