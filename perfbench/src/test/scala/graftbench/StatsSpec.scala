package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(3.0), 99) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("reported percentile keeps at least ten samples beyond it") {
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(39).contains(50.0))
    assert(Stats.supportedPercentile(40).contains(75.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(200).contains(95.0))
    assert(Stats.supportedPercentile(1000).contains(99.0))
    for (n <- 1 to 1200; p <- Stats.supportedPercentile(n)) assert(Stats.samplesBeyond(n, p) >= 10, s"n=$n p=$p")
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("self time subtracts children, nested grandchildren counted once") {
    // parent [0, 100): child A [10, 40) with its own child [15, 20), child B [50, 60)
    assert(Stats.selfTime(0L, 100L, Seq((10L, 40L), (50L, 60L))) == 60L)
    assert(Stats.selfTime(10L, 40L, Seq((15L, 20L))) == 25L)
    // overlapping children (async work) are not subtracted twice
    assert(Stats.selfTime(0L, 100L, Seq((10L, 50L), (30L, 70L))) == 40L)
    // a child running past its parent is clipped to the parent
    assert(Stats.selfTime(0L, 100L, Seq((90L, 130L))) == 90L)
  }

  test("ratio formulas") {
    assert(Stats.scalingEfficiency(rowsPerSMany = 3.2e6, rowsPerSOne = 1.0e6, cores = 4) == 0.8)
    assert(Stats.marginalNsPerRow(rungMs = 300.0, belowMs = 200.0, rows = 1000000L) == 100.0)
    assert(Stats.ratio(3.0, 4.0) == 0.75)
    assertThrows[IllegalArgumentException](Stats.ratio(1.0, 0.0))
  }
}
