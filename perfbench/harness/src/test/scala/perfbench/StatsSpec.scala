package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks like statistics.quantiles") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(Stats.median(xs) === 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(math.abs(Stats.percentile(xs, 25) - 1.75) < 1e-12)
    assert(Stats.median(Seq(7.0)) === 7.0)
  }

  test("percentile rejects an empty sample and an out-of-range p") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("unionLength merges overlapping and touching intervals and ignores empty ones") {
    assert(Stats.unionLength(Nil) === 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) === 20L)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (10L, 12L))) === 17L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) === 100L)
    assert(Stats.unionLength(Seq((5L, 5L), (9L, 3L))) === 0L)
  }
}
