package perfbench

/** The benchmark's own arithmetic, kept free of Spark so the tests in
 * src/test can pin it: percentiles, the backlog-growth detector and span
 * self time. */
object Stats {

  /** Linear-interpolated percentile (the same rule as numpy's default and
   * Python's `statistics.quantiles(method="inclusive")`), `p` in [0, 100].
   * NaN for an empty sample. */
  def percentile(xs: Array[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (rank - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs.toArray, 50)

  /** Latency percentiles over emitted rows, with the number of triggers
   * the rows came from. Every row of a trigger is emitted at the same
   * instant, so the independent samples are triggers: a percentile p is
   * only supported when at least ten triggers lie beyond it, which
   * `supportedPercentile` reports. */
  final case class Latency(p50: Double, p90: Double, rows: Int, triggers: Int) {
    def supportedPercentile: Double =
      if (triggers <= 0) 0.0 else math.max(0.0, 100.0 * (1.0 - 10.0 / triggers))
  }

  /** `samples` are (trigger id, latency ms) per emitted row. */
  def latency(samples: Seq[(Long, Double)]): Latency = {
    val xs = samples.map(_._2).toArray
    Latency(percentile(xs, 50), percentile(xs, 90), xs.length,
      samples.map(_._1).distinct.size)
  }

  /** Backlog-growth detector for an open-loop window. `samples` are
   * (seconds since window start, rows offered but not yet committed),
   * taken after each committed trigger. A sustainable rate leaves the
   * post-commit backlog flat (about one trigger's worth of arrivals); a
   * rate above capacity makes it climb for as long as the window lasts.
   * The window counts as growing when the least-squares trend adds more
   * than `slackRows` over the window — callers pass one second of
   * offered input, so a verdict of "steady" means the queue delay grew
   * by less than a second end to end. Fewer than three samples (a run
   * that barely triggered) is growth by definition: the query did not
   * keep up. */
  def backlogGrowing(samples: Seq[(Double, Double)], windowS: Double,
                     slackRows: Double): Boolean = {
    if (samples.size < 3) return true
    val n = samples.size.toDouble
    val mx = samples.map(_._1).sum / n
    val my = samples.map(_._2).sum / n
    val sxx = samples.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0.0) return true
    val sxy = samples.map { case (x, y) => (x - mx) * (y - my) }.sum
    sxy / sxx * windowS > slackRows
  }

  /** One traced interval. `parent` is -1 for a root. Times are epoch ms
   * (fractional where the source has sub-ms resolution). */
  final case class Span(id: Long, parent: Long, name: String, layer: String,
                        start: Double, end: Double, trace: String) {
    def duration: Double = math.max(0.0, end - start)
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def coveredLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
   * direct children cover (children may overlap one another — a trigger
   * and an `addData` call run on different threads — so the union is
   * subtracted, not the sum). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - coveredLength(kids, s.start, s.end))
    }.toMap
  }

  /** Self time summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
  }
}
