package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.zip.CRC32

/** Independent models of the batch queries' outputs, computed from the
 * generated rows without Spark. Each model gives a query's row count and
 * a checksum: the sum over output rows of the CRC-32 of the row's checked
 * columns joined by '|', a null as the empty string. `BatchWorkload`
 * observes the same two numbers on every execution. */
object Model {

  final case class Expect(rows: Long, checksum: Long) {
    def +(row: String): Expect = Expect(rows + 1, checksum + crc(row))
  }
  val Empty: Expect = Expect(0, 0)

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** One side's rows of one key, sorted by (ts, value). */
  final case class Side(ts: Array[Long], values: Array[String])

  def side(rows: Seq[(Long, String)]): Side = {
    val s = rows.sortBy(r => (r._1, r._2))
    Side(s.map(_._1).toArray, s.map(_._2).toArray)
  }

  /** First index whose element is >= v. */
  def lowerBound(xs: Array[Long], v: Long): Int = {
    var a = 0
    var b = xs.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (xs(m) < v) a = m + 1 else b = m
    }
    a
  }

  /** The batch LJOT family over per-key sides, band [l - d, l + d]
   * closed at both ends. Checked columns: `joined` (l + "+" + r, or
   * l + "+" for a timeout) for the left, inner and timeout-only forms;
   * (lvalue, rvalue) for the full outer join. Per key the rights are
   * sorted once and each left finds its in-band run by binary search, so
   * the model costs the output size, not M x N. */
  def ljotFamily(lefts: Map[Long, Side], rights: Map[Long, Side], d: Long): Map[String, Expect] = {
    var inner, leftOuter, timeoutOnly, full = Empty
    val none = Side(Array.emptyLongArray, Array.empty[String])
    (lefts.keySet ++ rights.keySet).foreach { k =>
      val ls = lefts.getOrElse(k, none)
      val rs = rights.getOrElse(k, none)
      ls.ts.indices.foreach { i =>
        val (t, l) = (ls.ts(i), ls.values(i))
        val lo = lowerBound(rs.ts, t - d)
        val hi = lowerBound(rs.ts, t + d + 1)
        if (lo == hi) {
          leftOuter += s"$l+"
          timeoutOnly += s"$l+"
          full += s"$l|"
        }
        (lo until hi).foreach { j =>
          val r = rs.values(j)
          inner += s"$l+$r"
          leftOuter += s"$l+$r"
          full += s"$l|$r"
        }
      }
      rs.ts.indices.foreach { j =>
        val t = rs.ts(j)
        if (lowerBound(ls.ts, t - d) == lowerBound(ls.ts, t + d + 1)) full += s"|${rs.values(j)}"
      }
    }
    Map("ljot_events" -> leftOuter, "interval_join_inner" -> inner,
      "interval_join_full" -> full, "timeout_only" -> timeoutOnly)
  }

  /** Backward as-of join: each left gets the latest right with
   * l - h <= r.ts <= l, the greatest value among equal-ts rights, else
   * null. Forward: the earliest right with l <= r.ts <= l + h, the
   * smallest value among equal-ts rights. Checked columns (lvalue,
   * rvalue); one row per left. */
  def asOf(lefts: Map[Long, Side], rights: Map[Long, Side], h: Long, backward: Boolean): Expect = {
    var e = Empty
    lefts.foreach { case (k, ls) =>
      val rs = rights.get(k)
      ls.ts.indices.foreach { i =>
        val t = ls.ts(i)
        val hit = rs.flatMap { r =>
          val j = if (backward) lowerBound(r.ts, t + 1) - 1 else lowerBound(r.ts, t)
          val ok = j >= 0 && j < r.ts.length &&
            (if (backward) r.ts(j) >= t - h else r.ts(j) <= t + h)
          if (ok) Some(r.values(j)) else None
        }
        e += s"${ls.values(i)}|${hit.getOrElse("")}"
      }
    }
    e
  }

  /** Bottom-k distinct sketch per group over md5(user id as a string):
   * m = min(distinct users, k), hk = the k-th smallest hash (null below
   * k). Checked columns (group, m, hk). */
  def kmv(usersByGroup: Map[String, Set[Long]], k: Int): Expect =
    usersByGroup.foldLeft(Empty) { case (e, (g, users)) =>
      val hs = users.toSeq.map(u => md5Hex(u.toString)).sorted
      val m = math.min(hs.size, k)
      e + s"$g|$m|${if (hs.size >= k) hs(k - 1) else ""}"
    }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
