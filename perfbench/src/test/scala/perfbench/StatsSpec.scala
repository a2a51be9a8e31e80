package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Span

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Array(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 50) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.percentile(Array(7.0), 90) == 7.0)
    assert(Stats.percentile(Array.emptyDoubleArray, 50).isNaN)
  }

  test("latency percentiles are over rows, and the sample count is triggers") {
    // three triggers: rows of one trigger share an emission instant
    val samples = Seq(1L -> 100.0, 1L -> 110.0, 2L -> 200.0, 2L -> 210.0, 2L -> 220.0, 3L -> 300.0)
    val l = Stats.latency(samples)
    assert(l.rows == 6 && l.triggers == 3)
    assert(l.p50 == 205.0)
    assert(math.abs(l.p90 - 260.0) < 1e-9)
    // fewer than ten triggers support no percentile above the minimum
    assert(l.supportedPercentile == 0.0)
    assert(Stats.Latency(0, 0, 0, 100).supportedPercentile == 90.0)
    assert(Stats.Latency(0, 0, 0, 200).supportedPercentile == 95.0)
  }

  test("backlog detector: a flat, noisy post-commit backlog is steady") {
    val rate = 1900.0
    val rng = new scala.util.Random(7)
    val flat = (0 until 20).map(i => (i * 0.5, 2500.0 + rng.nextGaussian() * 400))
    assert(!Stats.backlogGrowing(flat, windowS = 10, slackRows = rate))
  }

  test("backlog detector: a backlog that climbs by more than the slack is growth") {
    val rate = 1900.0
    // arrivals outpace commits by 400 rows/s: +4000 rows over a 10 s window
    val growing = (0 until 20).map(i => (i * 0.5, 2500.0 + 400.0 * i * 0.5))
    assert(Stats.backlogGrowing(growing, windowS = 10, slackRows = rate))
    // +100 rows/s over 10 s = 1000 rows: below one second of input
    val slow = (0 until 20).map(i => (i * 0.5, 2500.0 + 100.0 * i * 0.5))
    assert(!Stats.backlogGrowing(slow, windowS = 10, slackRows = rate))
  }

  test("backlog detector: a window with under three commits did not keep up") {
    assert(Stats.backlogGrowing(Seq((0.0, 10.0), (5.0, 10.0)), 10, 1900))
    assert(Stats.backlogGrowing(Seq((1.0, 10.0), (1.0, 20.0), (1.0, 30.0)), 10, 1900))
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val spans = Seq(
      Span(1, -1, "run", "bench", 0, 100, "t"),
      // overlapping children on two threads: union covers [10, 50]
      Span(2, 1, "trigger", "spark", 10, 40, "t"),
      Span(3, 1, "addData", "sources", 30, 50, "t"),
      // child running past its parent's end is clipped to [90, 100]
      Span(4, 1, "sink", "spark", 90, 120, "t"),
      // grandchild: counts against its parent (2), not against the root
      Span(5, 2, "addBatch", "ljot", 15, 35, "t"))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 30 - 20)
    assert(self(3) == 20)
    assert(self(4) == 30)
    assert(self(5) == 20)
    val byLayer = Stats.selfByLayer(spans)
    assert(byLayer("bench") == 50 && byLayer("spark") == 40 && byLayer("sources") == 20 &&
      byLayer("ljot") == 20)
  }

  test("coveredLength merges touching and nested intervals") {
    assert(Stats.coveredLength(Seq((0.0, 10.0), (10.0, 20.0), (2.0, 5.0)), 0, 100) == 20.0)
    assert(Stats.coveredLength(Nil, 0, 10) == 0.0)
    assert(Stats.coveredLength(Seq((-5.0, 5.0)), 0, 10) == 5.0)
  }
}
