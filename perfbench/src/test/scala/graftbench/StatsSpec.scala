package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile is nearest-rank: the smallest sample with p% at or below it") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(xs, 10) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(5.0), 50) == 5.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.percentile(Nil, 50).isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 0))
  }

  test("median averages the middle pair of an even count") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("a percentile is supported only with ten samples beyond it") {
    assert(!Stats.supports(99, 90))
    assert(Stats.supports(100, 90))
    assert(!Stats.supports(999, 99))
    assert(Stats.supports(1000, 99))
    assert(Stats.highestSupported(1000) == 99.0)
    assert(Stats.highestSupported(150) == 90.0)
    assert(Stats.highestSupported(36) == 50.0)
    assert(Stats.highestSupported(5) == 50.0)
  }

  test("geomean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }

  test("job-interval union counts overlap once and clips to the query") {
    // two overlapping jobs, one nested, one disjoint
    val jobs = Seq((10L, 20L), (15L, 30L), (16L, 18L), (40L, 45L))
    assert(Stats.unionLength(jobs, 0L, 100L) == 20 + 5)
    // clipped to [12, 42): [12,30) + [40,42)
    assert(Stats.unionLength(jobs, 12L, 42L) == 18 + 2)
    // touching intervals merge without double counting
    assert(Stats.unionLength(Seq((0L, 5L), (5L, 9L)), 0L, 100L) == 9)
    assert(Stats.unionLength(Nil, 0L, 10L) == 0)
    // intervals outside the query contribute nothing
    assert(Stats.unionLength(Seq((50L, 60L)), 0L, 10L) == 0)
  }
}

class LatencySpec extends AnyFunSuite {

  private val commits = Map(0L -> 1000L, 1L -> 2000L, 2L -> 3000L)

  test("a served row joins its batch's commit time and subtracts its newest event") {
    val rows = Seq(ServedRow(0, "a", 400), ServedRow(1, "a", 1500),
      ServedRow(1, "b", 1200), ServedRow(9, "c", 100))
    val lat = Latency.eventToServe(rows, commits, 0, 5000)
    // batch 9 has no recorded commit and is left out
    assert(lat.sorted == Seq(500.0, 600.0, 800.0))
  }

  test("rows outside the window are left out") {
    val rows = Seq(ServedRow(0, "a", 400), ServedRow(2, "a", 2500), ServedRow(1, "b", 1200))
    // commit after the window end, or newest event before its start
    assert(Latency.eventToServe(rows, commits, 1000, 2500) == Seq(800.0))
  }

  test("an event is visible at the first commit whose row reaches its time") {
    val rows = Seq(ServedRow(0, "a", 400), ServedRow(1, "a", 1500),
      ServedRow(2, "a", 1400), ServedRow(2, "b", 2600))
    val ev = Seq(("a", 300L), ("a", 400L), ("a", 401L), ("a", 1450L),
      ("b", 100L), ("b", 2700L), ("c", 1L))
    val got = Visibility.latencies(rows, commits, ev)
    // a@300,400 -> batch 0; a@401,1450 -> batch 1 (batch 2 re-serves an
    // older row and never counts first); b@100 -> batch 2; b@2700 and c
    // are never covered
    assert(got == Seq(700.0, 600.0, 1599.0, 550.0, 2900.0))
  }
}
