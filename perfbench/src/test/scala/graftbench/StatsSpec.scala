package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median takes the middle sample, or the mean of the middle two") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("unionLength counts overlapping intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("selfTime subtracts the children's covered time, clipped to the parent") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L))) == 70L)
    // children reaching outside the parent count only inside it
    assert(Stats.selfTime((0L, 100L), Seq((-50L, 10L), (90L, 150L))) == 80L)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L))) == 0L)
  }

  test("floorSplit parts sum to the wall and the floor is what is left") {
    val s = Stats.floorSplit(10.0, 1.0, 2.0, 3.0)
    assert(s == Stats.Split(1.0, 2.0, 3.0, 4.0))
    assert(s.plan + s.eager + s.exec + s.floor == 10.0)
  }

  test("floorSplit caps parts that overrun the wall, in order, and never goes negative") {
    assert(Stats.floorSplit(5.0, 1.0, 2.0, 4.0) == Stats.Split(1.0, 2.0, 2.0, 0.0))
    assert(Stats.floorSplit(1.0, 3.0, 1.0, 1.0) == Stats.Split(1.0, 0.0, 0.0, 0.0))
    assert(Stats.floorSplit(2.0, -1.0, 0.5, 0.5) == Stats.Split(0.0, 0.5, 0.5, 1.0))
  }
}
