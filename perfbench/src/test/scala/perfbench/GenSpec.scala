package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val params = Gen.StreamParams(
    leftsPerS = 1000, matchShare = 0.1, keys = 1000, disjointUnmatchedKeys = true,
    rightMaxOffsetMs = 300, primeLefts = 50, pacedS = 2.0, drainLefts = 500, segmentGapMs = 2000)

  test("the same seed gives the same schedule; another seed another one") {
    val a = Gen.schedule(params, 3)
    val b = Gen.schedule(params, 3)
    val c = Gen.schedule(params, 4)
    assert(a.leftKey.sameElements(b.leftKey) && a.rightDue.sameElements(b.rightDue))
    assert(!a.leftKey.sameElements(c.leftKey))
  }

  test("paced lefts are due at the configured rate; rights within their offset") {
    val s = Gen.schedule(params, 5)
    assert(s.nPaced == 2000)
    val paced = s.segment(1)
    assert(paced.map(s.dueOf).sliding(2).forall { case Array(x, y) => x <= y })
    assert(s.leftDue(s.nPrime) == 0 && s.leftDue(s.nPrime + 999) == 999)
    s.rightLeft.indices.foreach { j =>
      val off = s.rightDue(j) - s.leftDue(s.rightLeft(j))
      assert(off >= 0 && off <= params.rightMaxOffsetMs)
      assert(s.rightKey(j) == s.leftKey(s.rightLeft(j)))
    }
    assert(s.segment(0).filter(_ >= 0).forall(e => s.dueOf(e) < 0))
  }

  test("never-matched lefts use keys disjoint from the matched ones") {
    val s = Gen.schedule(params, 6)
    val matchedKeys = s.leftKey.indices.filter(s.rightOfLeft(_) >= 0).map(s.leftKey).toSet
    val unmatchedKeys = s.leftKey.indices.filter(s.rightOfLeft(_) < 0).map(s.leftKey).toSet
    assert(matchedKeys.nonEmpty && unmatchedKeys.nonEmpty)
    assert(matchedKeys.intersect(unmatchedKeys).isEmpty)
  }

  test("no left is within a second of a right of another segment") {
    val s = Gen.schedule(params, 8)
    val segOfRight = s.rightLeft.map(s.leftSegment)
    for (i <- 0 until s.nLefts; j <- 0 until s.nRights if segOfRight(j) != s.leftSegment(i))
      assert(math.abs(s.leftDue(i) - s.rightDue(j)) > 1000)
  }

  test("the drain segment holds every drain left with its right, and nothing else") {
    val s = Gen.schedule(params, 7)
    val drain = s.segment(2).toSet
    val lefts = (s.nPrime + s.nPaced) until s.nLefts
    assert(drain.count(_ >= 0) == params.drainLefts && lefts.forall(drain))
    val rights = lefts.filter(s.rightOfLeft(_) >= 0).map(i => -s.rightOfLeft(i) - 1)
    assert(drain.count(_ < 0) == rights.size && rights.forall(drain))
  }

  test("the events table is Zipf-skewed, seeded, and keeps the type mix") {
    val p = Gen.TableParams(rows = 20000, users = 300, zipfS = 1.0, spanDays = 30,
      types = Seq("signup", "click", "error", "view", "purchase"))
    val a = Gen.events(p, 1)
    assert(a.sameElements(Gen.events(p, 1)))
    val perUser = a.groupBy(_.userId).map(_._2.length).toSeq.sorted.reverse
    // rank 1 of Zipf(1.0) over 300 users holds ~16% of rows; uniform would be 0.3%
    assert(perUser.head > 0.1 * p.rows)
    val purchases = a.count(_.eventType == "purchase").toDouble / p.rows
    assert(math.abs(purchases - 0.2) < 0.02)
    val span = 30L * 86400L * 1000000L
    assert(a.forall(r => r.tsMicros >= Gen.TableBaseMicros && r.tsMicros < Gen.TableBaseMicros + span))
  }
}
