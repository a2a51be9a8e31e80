package perfbench

import java.io.File
import java.sql.Timestamp
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ljot.{FaithfulLeftJoin, LeftJoinOnTimeout, LeftJoinOnTimeoutConfig}

/** One input row of the benchmark's single MemoryStream. Both sides share
 * one source so that an offer is atomic: a trigger sees a left and its
 * simultaneously due right together, and a drain backlog lands in one
 * offset range. */
final case class StreamEv(key: Long, value: String, ts: Timestamp, left: Boolean)

/** `stream_join` (idiomatic watermarked stream-stream join) and
 * `stream_timeout` (FaithfulLeftJoin with processing-time timers), fed
 * open loop by one paced generator thread.
 *
 * Phases of a run: set-up (repeated `SetupReps` times: build the
 * operator, start the query, commit a prime batch; the last query is
 * kept), `WarmupS` of paced warm-up, the measured window of `--seconds`,
 * a wait until the backlog is committed, the drain (one backlog of
 * `drain_lefts` and their rights offered at once), then the correctness
 * close-out. */
object StreamWorkload {

  val SetupReps = 3
  val WarmupS = 6
  /** The generator offers at most once per tick. */
  val TickMs = 50
  /** Lefts offered at once in each set-up's prime batch. */
  val PrimeLefts = 500
  /** A matched left's right is due 0 to this many ms after it. */
  val RightMaxOffsetMs = 300
  /** Event-time gap between the prime, paced and drain segments. It must
   * exceed the band D plus RightMaxOffsetMs: FaithfulLeftJoin drops a
   * key's state, rights included, once the key has been idle for R of
   * processing time, and the wall-clock pause before the next segment is
   * offered can exceed R, so a pair across segments would join or not
   * depending on that pause. */
  val SegmentGapMs = 10000

  /** One foreachBatch call: micro-batch id, when its rows were emitted,
   * the benchmark's own time in the sink after that (the overhead
   * check), and the rows as (key, joined, left ts ms). */
  final case class Emitted(batchId: Long, emitMs: Double, sinkMs: Double,
                           rows: Array[(Long, String, Long)])

  private val SentinelKey = -1L

  /** MemoryStream offsets are LongOffsets: the index of the addData call. */
  private def offsetOf(o: org.apache.spark.sql.execution.streaming.Offset): Long = o.json().toLong

  def run(spark: SparkSession, tel: Telemetry, root: Long, w: JsonNode, seed: Long,
          seconds: Double, slots: Int, work: File, sessionS: Double): Result = {
    val faithful = w.path("variant").asText() == "faithful"
    val dMs = w.path("join_window_ms").asLong()
    val rMs = w.path("retention_ms").asLong()
    val cfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(dMs), Duration.ofMillis(rMs))
    // The emission delay a never-matched left is due to wait: the timer
    // for the faithful variant, band plus watermark delay for the
    // idiomatic one (its null row emits once the watermark passes l.ts + D).
    val delayMs = if (faithful) cfg.effectiveTimeout.toMillis else dMs + rMs
    val warmupMs = WarmupS * 1000L
    val windowMs = (seconds * 1000).toLong
    val rate = w.path("lefts_per_s").asInt()
    val params = Gen.StreamParams(
      leftsPerS = rate,
      matchShare = w.path("match_share").asDouble(),
      keys = w.path("keys").asInt(),
      disjointUnmatchedKeys = w.path("disjoint_unmatched_keys").asBoolean(),
      rightMaxOffsetMs = RightMaxOffsetMs,
      primeLefts = PrimeLefts,
      pacedS = (warmupMs + windowMs) / 1000.0,
      drainLefts = w.path("drain_lefts").asInt(),
      segmentGapMs = SegmentGapMs)

    val notes = Seq.newBuilder[String]
    val genT0 = Tracer.nowMs()
    val (sched, prime, paced, drain) = tel.tracer.span("sources.generate", "sources", root) {
      val s = Gen.schedule(params, seed)
      (s, s.segment(0), s.segment(1), s.segment(2))
    }
    val stageS = (Tracer.nowMs() - genT0) / 1000.0

    def row(e: Int): StreamEv =
      if (e >= 0) StreamEv(sched.leftKey(e), s"l$e", new Timestamp(Gen.EventBase + sched.leftDue(e)), true)
      else {
        val j = -e - 1
        StreamEv(sched.rightKey(j), s"r$j", new Timestamp(Gen.EventBase + sched.rightDue(j)), false)
      }

    val sinkLog = new ConcurrentLinkedQueue[Emitted]()
    val sinkRows = new java.util.concurrent.atomic.AtomicLong(0)
    def startQuery(k: Int, parent: Long): (MemoryStream[StreamEv], StreamingQuery, Double) = {
      val mem = MemoryStream[StreamEv](slots)(
        Encoders.product[StreamEv], spark.sqlContext)
      val df = mem.toDF()
      val lhs = df.filter(col("left")).select("key", "value", "ts")
      val rhs = df.filter(!col("left")).select("key", "value", "ts")
      val b0 = Tracer.nowMs()
      val out = tel.call("ljot.build", "ljot", parent) {
        if (faithful) FaithfulLeftJoin(lhs, rhs, LeftJoinOnTimeout.testJoiner, cfg)
        else LeftJoinOnTimeout(lhs, rhs, LeftJoinOnTimeout.testJoiner, cfg)
      }
      val buildMs = Tracer.nowMs() - b0
      val keep = k == SetupReps - 1
      val sink: (DataFrame, Long) => Unit = (batch, id) => {
          // collect runs the micro-batch plan; its rows are emitted when it returns
        val collected = batch.collect()
        val emit = Tracer.nowMs()
        if (keep) {
          val rows = collected.map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
          sinkLog.add(Emitted(id, emit, Tracer.nowMs() - emit, rows))
          sinkRows.addAndGet(rows.count(_._1 != SentinelKey))
        }
      }
      val q = tel.call("spark.start", "spark", parent) {
        out.writeStream.outputMode("append")
          .option("checkpointLocation", new File(work, s"checkpoint-$k").getAbsolutePath)
          .foreachBatch(sink).start()
      }
      (mem, q, buildMs)
    }

    def waitFor(what: String, deadlineMs: Double)(cond: => Boolean): Boolean = {
      while (!cond && Tracer.nowMs() < deadlineMs) Thread.sleep(2)
      val ok = cond
      if (!ok) notes += s"timed out waiting for $what"
      ok
    }
    // A watermark-driven query goes idle once its last no-data trigger
    // has run (the one that evicts the drain backlog's state runs for
    // seconds); one with processing-time timers runs no-data triggers back
    // to back and never does, so it gets no wait.
    def waitIdle(q: StreamingQuery): Unit = if (!faithful) {
      waitFor("the query to go idle", Tracer.nowMs() + 30000)(
        !q.status.isTriggerActive && Tracer.nowMs() - tel.progress.lastProgressMs(q.id) >= 300)
    }

    // ---- set-up, repeated; the last query is the measured one ----
    val setupMs = Seq.newBuilder[Double]
    val buildMsAll = Seq.newBuilder[Double]
    var kept: (MemoryStream[StreamEv], StreamingQuery) = null
    for (k <- 0 until SetupReps) {
      val t0 = Tracer.nowMs()
      val sp = tel.tracer.nextId()
      val (mem, q, buildMs) = startQuery(k, sp)
      val off = offsetOf(tel.call("sources.add_data", "sources", sp)(mem.addData(prime.map(row).toSeq)))
      waitFor("the prime batch", t0 + 60000)(tel.progress.committed(q.id) >= off)
      val t1 = Tracer.nowMs()
      tel.tracer.record(s"setup-$k", "bench", root, t0, t1, sp)
      setupMs += t1 - t0
      buildMsAll += buildMs
      if (k < SetupReps - 1) q.stop() else kept = (mem, q)
    }
    val (mem, q) = kept
    // cumulative rows offered up to each source offset of the kept query
    val rowsAtOffset = new java.util.concurrent.ConcurrentSkipListMap[Long, Long]()
    rowsAtOffset.put(tel.progress.committed(q.id), prime.length.toLong)
    def committedRows(offset: Long): Long =
      Option(rowsAtOffset.floorEntry(offset)).map(_.getValue.longValue).getOrElse(0L)
    val setupS = sessionS + stageS + Stats.median(setupMs.result()) / 1000.0

    // ---- open loop: one paced generator thread ----
    val addCalls = new java.util.ArrayList[(Double, Double, Long)]() // start, end, cumulative offered
    var lastOffset = -1L
    val lateMs = new java.util.ArrayList[Double]()
    val windowLo = warmupMs
    val windowHi = warmupMs + windowMs
    val wallBase = Tracer.nowMs() + 20
    val pacedSpan = tel.tracer.nextId()
    val gen = new Thread(() => {
      var i = 0
      var offered = prime.length.toLong
      while (i < paced.length) {
        val now = Tracer.nowMs() - wallBase
        val due = sched.dueOf(paced(i))
        if (due > now) Thread.sleep(math.max(1L, math.min(TickMs, (due - now).toLong)))
        else {
          var j = i
          while (j < paced.length && sched.dueOf(paced(j)) <= now) j += 1
          val rows = (i until j).map(x => row(paced(x)))
          val c0 = Tracer.nowMs()
          val off = offsetOf(tel.tracer.span("sources.add_data", "sources", pacedSpan)(mem.addData(rows)))
          val c1 = Tracer.nowMs()
          offered += j - i
          rowsAtOffset.put(off, offered)
          lastOffset = off
          addCalls.synchronized(addCalls.add((c0, c1, offered)))
          (i until j).foreach { x =>
            val d = sched.dueOf(paced(x))
            if (d >= windowLo && d < windowHi) lateMs.synchronized(lateMs.add(c0 - wallBase - d))
          }
          i = j
          // offer at most once per tick: fewer, larger addData calls
          val next = wallBase + (((c1 - wallBase) / TickMs).toLong + 1) * TickMs
          val pause = next - Tracer.nowMs()
          if (pause > 0) Thread.sleep(pause.toLong)
        }
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    // the generator is benchmark code: its idle time between offers is the
    // bench layer's, its addData calls are children in the sources layer
    tel.tracer.record("bench.open_loop", "bench", root, wallBase, Tracer.nowMs(), pacedSpan)
    val caughtUp = waitFor("the open-loop backlog to commit", Tracer.nowMs() + 60000)(
      tel.progress.committed(q.id) >= lastOffset)
    val heapLoop = Heap.liveMb()

    // ---- drain: one fixed backlog offered at once ----
    waitIdle(q)
    val drainRows = drain.map(row).toSeq
    val d0 = Tracer.nowMs()
    val drainTarget = offsetOf(tel.call("sources.add_data", "sources", root)(mem.addData(drainRows)))
    val drained = waitFor("the drain backlog to commit", d0 + 90000)(
      tel.progress.committed(q.id) >= drainTarget)
    val drainS = (tel.progress.lastProgressMs(q.id) - d0) / 1000.0
    // The state store keeps its last versions in memory, so a sample taken
    // while state changes differs by a whole version from one taken a
    // trigger later. The idiomatic query is sampled after the drain once
    // idle; the faithful one never goes idle (the drain's timers fire over
    // the next triggers), so it is sampled after the open loop only. No
    // sample is taken at the end, where the benchmark's own expected
    // multiset and sink log would dominate the live heap.
    waitIdle(q)
    val heapDrain = if (faithful) 0.0 else Heap.liveMb()

    // ---- close-out: everything due must reach the sink ----
    if (!faithful) {
      // Sentinel: far-future events on a reserved key push the watermark
      // past every generated row, so every pending null row must emit.
      val far = new Timestamp(Gen.EventBase + sched.leftDue.max + 100 * (dMs + rMs))
      mem.addData(Seq(StreamEv(SentinelKey, "lS", far, true), StreamEv(SentinelKey, "rS", far, false)))
    }
    val allEvents = prime ++ paced ++ drain
    val expected: Map[String, Int] = tel.tracer.span("bench.expected", "bench", root) {
      if (faithful) faithfulModel(sched, allEvents, dMs) else batchLjot(spark, allEvents.map(row), cfg)
    }
    val expectedRows = expected.values.sum.toLong
    waitFor("all expected rows", Tracer.nowMs() + 60000)(sinkRows.get() >= expectedRows)
    if (faithful) Thread.sleep(delayMs) // a late duplicate timeout would show here
    q.stop()

    // ---- correctness ----
    val emitted = sinkLog.asScala.toSeq.sortBy(_.batchId)
    val got = emitted.flatMap(_.rows).filter(_._1 != SentinelKey)
      .groupBy(r => s"${r._1}|${r._2}|${r._3}").map { case (k, v) => k -> v.size }
    val keys = got.keySet ++ expected.keySet
    var missing = 0L
    var unexpected = 0L
    val diffs = keys.toSeq.map(k => k -> (got.getOrElse(k, 0) - expected.getOrElse(k, 0))).filter(_._2 != 0)
    diffs.foreach { case (_, d) => if (d > 0) unexpected += d else missing -= d }
    if (missing + unexpected > 0) notes += s"output mismatch: $missing missing, $unexpected unexpected of $expectedRows; " +
      diffs.sortBy(_._1).take(5).map { case (k, d) => s"$k x$d" }.mkString(", ")
    if (!caughtUp) notes += "backlog never drained: the open-loop rate is above capacity"

    // ---- latency over the measured window ----
    val joinLat = Seq.newBuilder[(Long, Double)]
    val toLat = Seq.newBuilder[(Long, Double)]
    var timeoutOnMatched = 0L
    var joinRows = 0L
    var timeoutRows = 0L
    emitted.foreach { e =>
      e.rows.foreach { case (key, joined, _) =>
        if (key != SentinelKey) {
          val plus = joined.indexOf('+')
          val li = joined.substring(1, plus).toInt
          val lDue = sched.leftDue(li)
          val emitOff = e.emitMs - wallBase
          if (plus == joined.length - 1) {
            timeoutRows += 1
            if (sched.rightOfLeft(li) >= 0) timeoutOnMatched += 1
            if (lDue >= windowLo && lDue < windowHi) toLat += ((e.batchId, emitOff - (lDue + delayMs)))
          } else {
            joinRows += 1
            val ri = joined.substring(plus + 2).toInt
            val later = math.max(lDue, sched.rightDue(ri))
            if (later >= windowLo && later < windowHi) joinLat += ((e.batchId, emitOff - later))
          }
        }
      }
    }
    val join = Stats.latency(joinLat.result())
    val timeout = Stats.latency(toLat.result())

    // ---- triggers, backlog and state over the window ----
    val winLoWall = wallBase + windowLo
    val winHiWall = wallBase + windowHi
    val prog = tel.progress.entries(q.id)
    val inWindow = prog.filter(e => e.receivedMs >= winLoWall && e.receivedMs < winHiWall)
    val calls = addCalls.synchronized(addCalls.asScala.toVector)
    def offeredAt(t: Double): Long =
      calls.filter(_._2 <= t).lastOption.map(_._3).getOrElse(prime.length.toLong)
    def committedAt(t: Double): Long =
      prog.filter(_.receivedMs <= t).lastOption.map(e => committedRows(e.offset)).getOrElse(0L)
    val backlogSamples = inWindow.map(e => ((e.receivedMs - winLoWall) / 1000.0,
      (offeredAt(e.receivedMs) - committedRows(e.offset)).toDouble))
    val growing = Stats.backlogGrowing(backlogSamples, windowMs / 1000.0,
      slackRows = rate * (1 + params.matchShare))
    val backlogEnd = offeredAt(winHiWall) - committedAt(winHiWall)
    if (growing) notes += "backlog grew during the window: the run is invalid (over the latency limit)"
    val emittedBatches = emitted.filter(_.rows.exists(_._1 != SentinelKey)).map(_.batchId).toSet
    def dur(e: ProgressLog#Entry, k: String): Double =
      Option(e.p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    def ops(e: ProgressLog#Entry) = e.p.stateOperators.toSeq
    val trig = inWindow.map(dur(_, "triggerExecution")).toArray
    val nTrig = inWindow.size.max(1)
    def meanDur(k: String): Double = inWindow.map(dur(_, k)).sum / nTrig
    val lastOps = inWindow.lastOption.map(ops).getOrElse(Nil)
    val inputRows = offeredAt(winHiWall) - offeredAt(winLoWall)
    val scannedRows = inWindow.map(_.p.numInputRows).sum
    val updated = inWindow.flatMap(ops).map(_.numRowsUpdated).sum
    val sinkMs = emitted.filter(e => e.emitMs >= winLoWall && e.emitMs < winHiWall).map(_.sinkMs)

    // spans for triggers and their phases (placed in Spark's phase order)
    val addBatchSpan = scala.collection.mutable.HashMap.empty[Long, Long]
    if (tel.tracer.enabled) prog.foreach { e =>
      val start = java.time.Instant.parse(e.p.timestamp).toEpochMilli.toDouble
      val tid = tel.tracer.record(s"trigger-${e.p.batchId}", "spark", root, start,
        start + dur(e, "triggerExecution"))
      var t = start
      Seq("latestOffset" -> "sources", "walCommit" -> "spark", "getBatch" -> "sources",
          "queryPlanning" -> "plans", "addBatch" -> "ljot", "commitOffsets" -> "spark").foreach {
        case (ph, layer) =>
          val d = dur(e, ph)
          val pid = tel.tracer.record(s"spark.$ph", layer, tid, t, t + d)
          if (ph == "addBatch") {
            addBatchSpan(e.p.batchId) = pid
            emitted.find(_.batchId == e.p.batchId).foreach { em =>
              tel.tracer.record("spark.sink", "spark", pid, em.emitMs, em.emitMs + em.sinkMs)
            }
          }
          t += d
      }
    }
    val spark_ = SparkLayer.metrics(tel, root,
      j => if (j.batchId >= 0) addBatchSpan.getOrElse(j.batchId, root) else if (j.span >= 0) j.span else root,
      unitOf = j => j.batchId)

    val lateArr = lateMs.synchronized(lateMs.asScala.toArray)
    val peakHeap = math.max(heapLoop, heapDrain)
    val primary = if (faithful) timeout else join
    if (primary.rows == 0) notes += "no latency samples in the window"

    val metrics = Map(
      "setup_s" -> setupS,
      "join_latency_p50_ms" -> join.p50, "join_latency_p90_ms" -> join.p90,
      "timeout_latency_p50_ms" -> timeout.p50, "timeout_latency_p90_ms" -> timeout.p90,
      "drain_events_per_s" -> drain.length / drainS,
      "peak_heap_mb" -> peakHeap,
      "error_rate" -> (missing + unexpected).toDouble / math.max(1L, expectedRows),
      "sources.stage_s" -> stageS,
      "sources.backlog_rows" -> backlogEnd.toDouble,
      "sources.input_rows" -> inputRows.toDouble,
      "ljot.build_ms" -> Stats.median(buildMsAll.result()),
      "ljot.join_rows" -> joinRows.toDouble,
      "ljot.timeout_rows" -> timeoutRows.toDouble,
      "ljot.state_rows" -> lastOps.map(_.numRowsTotal).sum.toDouble,
      "ljot.state_bytes" -> lastOps.map(_.memoryUsedBytes).sum.toDouble,
      "ljot.state_updates_per_input" -> (if (scannedRows > 0) updated.toDouble / scannedRows else 0.0),
      "ljot.dropped_by_watermark" -> prog.flatMap(ops).map(_.numRowsDroppedByWatermark).sum.toDouble,
      "ljot.no_data_triggers" -> inWindow.count(_.p.numInputRows == 0).toDouble,
      "ljot.useful_trigger_frac" -> inWindow.count(e => emittedBatches(e.p.batchId)).toDouble / nTrig,
      "ljot.timeout_on_matched" -> timeoutOnMatched.toDouble,
      "spark.unit_ms_p50" -> Stats.percentile(trig, 50),
      "spark.unit_ms_p90" -> Stats.percentile(trig, 90),
      "spark.units" -> inWindow.size.toDouble,
      "spark.rows_per_unit" -> inputRows.toDouble / nTrig,
      "plans.plan_ms" -> Stats.percentile(inWindow.map(dur(_, "queryPlanning")).toArray, 50),
      "sources.gen_late_p99_ms" -> Stats.percentile(lateArr, 99),
      "sources.offset_ms" -> (meanDur("latestOffset") + meanDur("getBatch")),
      "sources.add_data_ms" -> Stats.median(calls.map(c => c._2 - c._1)),
      "ljot.state_update_ms" -> inWindow.flatMap(ops).map(_.allUpdatesTimeMs).sum.toDouble / nTrig,
      "ljot.state_removal_ms" -> inWindow.flatMap(ops).map(_.allRemovalsTimeMs).sum.toDouble / nTrig,
      "ljot.state_commit_ms" -> inWindow.flatMap(ops).map(_.commitTimeMs).sum.toDouble / nTrig,
      "spark.add_batch_ms" -> meanDur("addBatch"),
      "spark.planning_ms" -> meanDur("queryPlanning"),
      "spark.wal_ms" -> (meanDur("walCommit") + meanDur("commitOffsets")),
      "spark.sink_ms" -> Stats.median(sinkMs),
      "latency.join_rows" -> join.rows.toDouble, "latency.join_triggers" -> join.triggers.toDouble,
      "latency.timeout_rows" -> timeout.rows.toDouble,
      "latency.timeout_triggers" -> timeout.triggers.toDouble,
      "latency.supported_percentile" -> primary.supportedPercentile,
      "setup.session_s" -> sessionS,
      "setup.query_median_s" -> Stats.median(setupMs.result()) / 1000.0) ++ spark_
    if (primary.triggers < 100) notes += f"p90 rests on ${primary.triggers} triggers in the window (p${primary.supportedPercentile}%.0f has ten beyond it)"
    val valid = caughtUp && drained && !growing && primary.rows > 0
    Result(
      correct = missing + unexpected == 0 && valid,
      attempted = math.max(1L, expectedRows),
      failed = missing + unexpected,
      metrics = metrics,
      notes = notes.result(),
      extra = Map("setup_ms" -> setupMs.result(),
        "heap_mb" -> Map("open_loop" -> heapLoop, "drain" -> heapDrain),
        "backlog_samples" -> backlogSamples.map(s => Seq(s._1, s._2))))
  }

  /** Expected output of the idiomatic variant: the batch LJOT over the
   * same events, as a multiset of "key|joined|ts" strings. */
  private def batchLjot(spark: SparkSession, rows: Seq[StreamEv],
                        cfg: LeftJoinOnTimeoutConfig): Map[String, Int] = {
    import spark.implicits._
    val df = rows.toDF()
    val out = LeftJoinOnTimeout(df.filter(col("left")).select("key", "value", "ts"),
      df.filter(!col("left")).select("key", "value", "ts"), LeftJoinOnTimeout.testJoiner, cfg)
    out.collect().map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getTimestamp(2).getTime}")
      .groupBy(identity).map { case (k, v) => k -> v.length }
  }

  /** Expected output of the faithful variant, computed without the
   * program: every in-band (left, right) pair on a key joins once; every
   * left with no in-band right emits one timeout row. With matched and
   * never-matched lefts on disjoint keys, a key-level cancel cannot
   * touch a left meant to time out, so this is exact whatever the
   * trigger timing. */
  private def faithfulModel(s: Gen.Schedule, events: Array[Int], dMs: Long): Map[String, Int] = {
    val ls = events.filter(_ >= 0)
    val rs = events.filter(_ < 0).map(e => -e - 1)
    val rightsByKey = rs.groupBy(j => s.rightKey(j)).map { case (k, js) => k -> js.sortBy(s.rightDue(_)) }
    val out = scala.collection.mutable.HashMap.empty[String, Int]
    def add(k: String): Unit = out(k) = out.getOrElse(k, 0) + 1
    ls.foreach { i =>
      val key = s.leftKey(i)
      val ts = Gen.EventBase + s.leftDue(i)
      val inBand = rightsByKey.getOrElse(key, Array.emptyIntArray)
        .filter(j => math.abs(s.rightDue(j) - s.leftDue(i)) <= dMs)
      if (inBand.isEmpty) add(s"$key|l$i+|$ts")
      else inBand.foreach(j => add(s"$key|l$i+r$j|$ts"))
    }
    out.toMap
  }
}
