package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail rule: the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some((90, 90.0)))
    assert(xs.count(_ > 90.0) == 10)
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty) == Some((50, 10.0)))
    assert(twenty.count(_ > 10.0) == 10)
    // 11 samples: p9 is the lowest sample, with exactly 10 above it
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((9, 1.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // any tail it returns keeps at least 10 samples strictly beyond its rank
    for (n <- 11 to 300) {
      val (p, v) = Stats.tail((1 to n).map(_.toDouble)).get
      assert(n - v.toInt >= 10, s"n=$n p=$p")
      assert(p == 99 || n - Stats.percentile((1 to n).map(_.toDouble), p + 1).toInt < 10)
    }
  }

  test("self time subtracts the union of children, clipped to the parent") {
    // parent [0, 100]; children [10, 30] and [20, 50] overlap -> 40 covered
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    // a child running past the parent's end counts only inside it
    assert(Stats.selfTime(0, 100, Seq((90L, 150L))) == 90)
    // disjoint children add up; no children leaves the whole duration
    assert(Stats.selfTime(0, 100, Seq((0L, 10L), (50L, 60L))) == 80)
    assert(Stats.selfTime(5, 25, Nil) == 20)
  }
}
