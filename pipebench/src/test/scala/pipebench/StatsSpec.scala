package pipebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between closest ranks") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.0) == 1.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 1.0) == 4.0)
    assert(math.abs(Stats.percentile((1 to 20).map(_.toDouble), 0.95) - 19.05) < 1e-9)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("a weighted percentile equals the percentile of the expanded sample") {
    val rng = new Rng(3)
    for (_ <- 1 to 200) {
      val xs = Seq.fill(1 + rng.nextInt(6))((rng.nextInt(50).toDouble, 1L + rng.nextInt(5)))
      val expanded = xs.flatMap { case (v, n) => Seq.fill(n.toInt)(v) }
      for (p <- Seq(0.0, 0.25, 0.5, 0.9, 0.95, 1.0))
        assert(math.abs(Stats.weightedPercentile(xs, p) - Stats.percentile(expanded, p)) < 1e-9)
    }
  }

  test("a weighted mean weighs each value by its count") {
    assert(Stats.weightedMean(Seq((2.0, 3L), (6.0, 1L))) == 3.0)
    assert(Stats.weightedMean(Seq((5.0, 1L))) == 5.0)
    assertThrows[IllegalArgumentException](Stats.weightedMean(Seq((1.0, 0L))))
  }

  test("union length counts overlaps once and skips empty intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))) == 15)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12)
  }

  test("self time subtracts the covered part of the span, children clipped") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
    assert(Stats.selfTime(0, 100, Seq((-50L, 10L), (90L, 150L))) == 80)
    assert(Stats.selfTime(0, 100, Seq((200L, 300L))) == 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }
}
