package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same inputs; the
 * program under test only ever sees the generated rows. */
object Gen {

  /** Fixed event-time origin of the stream schedules (2023-11-14). Event
   * time is `EventBase + due`, so event times are part of the seeded
   * input and do not depend on the wall clock of the run. */
  val EventBase = 1700000000000L

  final case class StreamParams(
      leftsPerS: Int,
      matchShare: Double,
      keys: Int,
      disjointUnmatchedKeys: Boolean,
      rightMaxOffsetMs: Int,
      primeLefts: Int,
      pacedS: Double,
      drainLefts: Int,
      segmentGapMs: Long)

  /** An open-loop stream schedule. Lefts are indexed 0 until nLefts in due
   * order; a matched left i has exactly one generated right, index
   * `rightOfLeft(i)`. `due` is ms relative to the start of the paced phase:
   * prime lefts are due a gap before 0 (offered at once during set-up),
   * paced ones over [0, pacedS), drain ones a gap after (offered at once).
   * The segments are offered with wall-clock pauses between them that the
   * schedule cannot fix, so the gap keeps every left out of the band of
   * every right of another segment: then no expected pair depends on how
   * long those pauses are. */
  final case class Schedule(
      leftKey: Array[Long], leftDue: Array[Long], rightOfLeft: Array[Int],
      rightKey: Array[Long], rightDue: Array[Long], rightLeft: Array[Int],
      nPrime: Int, nPaced: Int) {
    def nLefts: Int = leftKey.length
    def nRights: Int = rightKey.length
    def leftSegment(i: Int): Int = if (i < nPrime) 0 else if (i < nPrime + nPaced) 1 else 2
    /** Event indices of one segment (0 prime, 1 paced, 2 drain) in due
     * order: non-negative = left index, negative = -(right index) - 1. */
    def segment(seg: Int): Array[Int] = {
      val ls = leftKey.indices.filter(i => leftSegment(i) == seg).map(i => (leftDue(i), 0, i))
      val rs = rightKey.indices.filter(j => leftSegment(rightLeft(j)) == seg)
        .map(j => (rightDue(j), 1, -j - 1))
      (ls ++ rs).sortBy(t => (t._1, t._2, t._3)).map(_._3).toArray
    }
    def dueOf(ev: Int): Long = if (ev >= 0) leftDue(ev) else rightDue(-ev - 1)
  }

  def schedule(p: StreamParams, seed: Long): Schedule = {
    val rng = new SplittableRandom(seed)
    val nPaced = math.round(p.leftsPerS * p.pacedS).toInt
    val n = p.primeLefts + nPaced + p.drainLefts
    val pacedEnd = nPaced * 1000L / p.leftsPerS
    // Matched lefts live on keys [0, matchedKeys); with disjoint keys the
    // never-matched ones live on the rest, so a key-level cancel can never
    // reach a left that is meant to time out.
    val matchedKeys =
      if (p.disjointUnmatchedKeys) math.max(1, math.round(p.keys * p.matchShare).toInt)
      else p.keys
    val leftKey = new Array[Long](n)
    val leftDue = new Array[Long](n)
    val rightOfLeft = Array.fill(n)(-1)
    val rk = Array.newBuilder[Long]
    val rd = Array.newBuilder[Long]
    val rl = Array.newBuilder[Int]
    var nr = 0
    var i = 0
    while (i < n) {
      val k = i - p.primeLefts
      leftDue(i) =
        if (i < p.primeLefts) (k.toLong * 1000L) / p.leftsPerS - p.segmentGapMs
        else if (k < nPaced) (k.toLong * 1000L) / p.leftsPerS
        else pacedEnd + p.segmentGapMs + ((k - nPaced).toLong * 1000L) / p.leftsPerS
      val matched = rng.nextDouble() < p.matchShare
      leftKey(i) =
        if (matched || !p.disjointUnmatchedKeys) rng.nextInt(matchedKeys).toLong
        else (matchedKeys + rng.nextInt(p.keys - matchedKeys)).toLong
      if (matched) {
        rightOfLeft(i) = nr
        rk += leftKey(i)
        rd += leftDue(i) + rng.nextInt(p.rightMaxOffsetMs + 1)
        rl += i
        nr += 1
      }
      i += 1
    }
    Schedule(leftKey, leftDue, rightOfLeft, rk.result(), rd.result(), rl.result(),
      p.primeLefts, nPaced)
  }

  final case class TableParams(rows: Int, users: Int, zipfS: Double, spanDays: Int,
                               types: Seq[String])

  /** One generated `events` row; `ts` in epoch microseconds. */
  final case class EventRow(eventId: Long, userId: Long, eventType: String, tsMicros: Long,
                            value: Double, props: String)

  /** 2024-01-01T00:00:00Z, the start of the sf0.1 `events` span. */
  val TableBaseMicros = 1704067200000000L

  /** An `events` table with Zipf-distributed users: user id r - 1 has
   * rank r and weight 1 / r^s. The hot users, and so the shuffle
   * partitions their M x N band comparisons land in, are the same for
   * every seed, so the slowest partition (and with it the batch time)
   * does not depend on the seed; the seed draws which rows they get.
   * Types are drawn uniformly from `types` and timestamps uniformly over
   * the span, as in sf0.1. */
  def events(p: TableParams, seed: Long): Array[EventRow] = {
    val rng = new SplittableRandom(seed)
    val cdf = new Array[Double](p.users)
    var acc = 0.0
    var r = 0
    while (r < p.users) { acc += 1.0 / math.pow(r + 1, p.zipfS); cdf(r) = acc; r += 1 }
    val spanMicros = p.spanDays.toLong * 86400L * 1000000L
    Array.tabulate(p.rows) { id =>
      val u = rng.nextDouble() * acc
      val rank = java.util.Arrays.binarySearch(cdf, u) match {
        case x if x >= 0 => x
        case x => -x - 1
      }
      EventRow(id.toLong, math.min(rank, p.users - 1).toLong,
        p.types(rng.nextInt(p.types.size)),
        TableBaseMicros + (rng.nextDouble() * spanMicros).toLong,
        rng.nextInt(100000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
  }
}
