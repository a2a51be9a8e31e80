package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Model.{Expect, Side}

class ModelSpec extends AnyFunSuite {

  private def sides(rows: Seq[(Long, Long, String)]): Map[Long, Side] =
    rows.groupBy(_._1).map { case (k, rs) => k -> Model.side(rs.map(r => (r._2, r._3))) }
  private def expect(rows: Seq[String]): Expect = rows.foldLeft(Model.Empty)(_ + _)

  test("checksum is the sum of per-row CRC-32s, so row order does not matter") {
    assert(Model.crc("") == 0L)
    assert(Model.crc("123456789") == 0xCBF43926L) // the CRC-32 check value
    assert(expect(Seq("a", "b")) == expect(Seq("b", "a")))
    assert(expect(Seq("a", "b")) != expect(Seq("a", "c")))
  }

  test("LJOT family: closed band edges, timeouts and both kinds of orphan") {
    val lefts = sides(Seq((1L, 10L, "l1"), (2L, 100L, "l2")))
    val rights = sides(Seq((1L, 5L, "r1"), (1L, 15L, "r2"), (1L, 16L, "r3"), (3L, 7L, "r4")))
    val m = Model.ljotFamily(lefts, rights, d = 5)
    // l1 joins r1 and r2 (both on the band edge); l2 (key 2) times out;
    // r3 (outside l1's band) and r4 (no lefts on key 3) are orphans
    assert(m("interval_join_inner") == expect(Seq("l1+r1", "l1+r2")))
    assert(m("timeout_only") == expect(Seq("l2+")))
    assert(m("ljot_events") == expect(Seq("l1+r1", "l1+r2", "l2+")))
    assert(m("interval_join_full") == expect(Seq("l1|r1", "l1|r2", "l2|", "|r3", "|r4")))
  }

  test("LJOT family agrees with brute force on random inputs") {
    val rng = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      def side(n: Int, tag: String) =
        (0 until n).map(i => (rng.nextInt(5).toLong, rng.nextInt(200).toLong, s"$tag$i"))
      val ls = side(rng.nextInt(40), "l")
      val rs = side(rng.nextInt(40), "r")
      val d = rng.nextInt(20).toLong
      def hit(l: (Long, Long, String), r: (Long, Long, String)) = l._1 == r._1 && math.abs(l._2 - r._2) <= d
      val pairs = for (l <- ls; r <- rs if hit(l, r)) yield s"${l._3}+${r._3}"
      val timeouts = ls.filterNot(l => rs.exists(hit(l, _))).map(l => s"${l._3}+")
      val orphans = rs.filterNot(r => ls.exists(hit(_, r))).map(r => s"|${r._3}")
      val m = Model.ljotFamily(sides(ls), sides(rs), d)
      assert(m("interval_join_inner") == expect(pairs))
      assert(m("timeout_only") == expect(timeouts))
      assert(m("ljot_events") == expect(pairs ++ timeouts))
      assert(m("interval_join_full") ==
        expect(pairs.map(_.replace('+', '|')) ++ timeouts.map(_.replace('+', '|')) ++ orphans))
      assert(m("ljot_events").rows == m("interval_join_inner").rows + m("timeout_only").rows)
    }
  }

  test("as-of join: horizon edges and equal-timestamp tie-breaks") {
    val lefts = sides(Seq((1L, 100L, "a"), (1L, 50L, "b"), (2L, 10L, "c")))
    // two rights at ts 90: backward takes the greatest value, forward the smallest
    val rights = sides(Seq((1L, 90L, "7"), (1L, 90L, "10"), (1L, 100L, "5"), (1L, 111L, "9")))
    // a: latest right at or before 100 is "5" at 100 itself; b: none at or before 50
    assert(Model.asOf(lefts, rights, h = 10, backward = true) == expect(Seq("a|5", "b|", "c|")))
    // b at 50: earliest right at or after it is ts 90, beyond 50 + 30
    assert(Model.asOf(lefts, rights, h = 30, backward = false) == expect(Seq("a|5", "b|", "c|")))
    assert(Model.asOf(lefts, rights, h = 40, backward = false) == expect(Seq("a|5", "b|10", "c|")))
    val back = sides(Seq((1L, 95L, "x")))
    assert(Model.asOf(back, rights, h = 5, backward = true) == expect(Seq("x|7")))
  }

  test("KMV model: exact below k, the k-th smallest md5 at and above it") {
    assert(Model.md5Hex("1") == "c4ca4238a0b923820dcc509a6f75849b")
    val users = (1L to 10L).toSet
    val hs = users.toSeq.map(u => Model.md5Hex(u.toString)).sorted
    assert(Model.kmv(Map("t" -> users), k = 20) == expect(Seq("t|10|")))
    assert(Model.kmv(Map("t" -> users), k = 4) == expect(Seq(s"t|4|${hs(3)}")))
  }
}
