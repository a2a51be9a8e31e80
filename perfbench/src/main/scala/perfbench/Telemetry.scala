package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import perfbench.Stats.Span

/** Spans recorded from benchmark code around the calls into each layer.
 * Disabled (the untraced run) it records nothing and `span` is a plain
 * call, so end-to-end numbers are measured without it. Spans stay in
 * memory and are written out once, at the end of the run. */
final class Tracer(val enabled: Boolean, val trace: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, layer: String, parent: Long, startMs: Double, endMs: Double,
             id: Long = -1L): Long = {
    val sid = if (id >= 0) id else nextId()
    if (enabled) spans.add(Span(sid, parent, name, layer, startMs, endMs, trace))
    sid
  }

  /** Time `f` and record it as one span (when enabled). */
  def span[T](name: String, layer: String, parent: Long, id: Long = -1L)(f: => T): T = {
    val t0 = Tracer.nowMs()
    try f finally record(name, layer, parent, t0, Tracer.nowMs(), id)
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Wall-clock epoch ms with sub-ms resolution from the monotonic clock. */
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Streaming progress, needed in every run: the committed source offset
 * drives the backlog, the drain timing and the trigger counts. Offsets,
 * not `numInputRows`, measure coverage: the benchmark's one source is
 * scanned by both join sides, and Spark counts each scan. */
final class ProgressLog extends StreamingQueryListener {
  final case class Entry(receivedMs: Double, offset: Long,
                         p: org.apache.spark.sql.streaming.StreamingQueryProgress)
  private final class PerQuery {
    val entries = new ConcurrentLinkedQueue[Entry]()
    val offset = new AtomicLong(-1)
    @volatile var lastMs = 0.0
  }
  private val queries = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, PerQuery]()
  private def q(id: java.util.UUID): PerQuery = queries.computeIfAbsent(id, _ => new PerQuery)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = Tracer.nowMs()
    val pq = q(e.progress.id)
    val end = e.progress.sources.flatMap(s => Option(s.endOffset).flatMap(_.trim.toLongOption))
      .foldLeft(-1L)(math.max)
    pq.lastMs = now // before the offset: a reader that sees the new offset sees this time
    pq.offset.accumulateAndGet(end, (a, b) => math.max(a, b))
    pq.entries.add(Entry(now, pq.offset.get(), e.progress))
  }

  /** Highest source offset covered by a committed trigger of query `id`
   * (-1 before the first). */
  def committed(id: java.util.UUID): Long = q(id).offset.get()
  /** When the last progress of query `id` arrived (0 before the first). */
  def lastProgressMs(id: java.util.UUID): Double = q(id).lastMs
  def entries(id: java.util.UUID): Seq[Entry] = q(id).entries.asScala.toSeq
}

/** Jobs, stages and task metrics from Spark's listener bus (traced run
 * only). The local property `perfbench.span` names the benchmark span
 * that submitted a job; streaming jobs carry the micro-batch id instead. */
final class SparkTelemetry extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, span: Long, batchId: Long,
                       stages: Seq[Int])
  final case class StageAgg(var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
                            var gcMs: Long = 0, var shuffleWrite: Long = 0,
                            var shuffleRead: Long = 0, var shuffleRecords: Long = 0,
                            var spill: Long = 0, taskMs: scala.collection.mutable.ArrayBuffer[Long] =
                              scala.collection.mutable.ArrayBuffer.empty[Long],
                            var submitMs: Long = 0, var endMs: Long = 0, var name: String = "")
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => StageAgg())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L,
      prop("perfbench.span").map(_.toLong).getOrElse(-1L),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.endMs = e.stageInfo.completionTime.getOrElse(0L)
      s.name = e.stageInfo.name
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskMs += e.taskInfo.duration
    }
  }

  def jobList: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
  def stageList: Seq[(Int, StageAgg)] = stages.asScala.toSeq.sortBy(_._1)

  /** max / median task time in the stage holding the longest task, among
   * stages of more than one task (a single-task stage has no skew). */
  def taskSkew: Double = {
    val withTasks = stageList.map(_._2).filter(_.taskMs.size > 1)
    if (withTasks.isEmpty) 0.0
    else {
      val s = withTasks.maxBy(_.taskMs.max)
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      if (med <= 0) s.taskMs.max.toDouble else s.taskMs.max / med
    }
  }
}

/** Catalyst phase timings of every completed query execution (traced run
 * only): analysis + optimization + planning is where the repo's
 * `graft.plans` rules run. `observations` names the plan's `observe`
 * nodes, by which a caller finds the execution it started. */
final class PlanTelemetry extends QueryExecutionListener {
  final case class Exec(func: String, receivedMs: Double, durationMs: Double,
                        phases: Map[String, (Long, Long)], observations: Seq[String])
  private val execs = new ConcurrentLinkedQueue[Exec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execs.add(Exec(funcName, Tracer.nowMs(), durationNs / 1e6,
      qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
      qe.analyzed.collect { case c: CollectMetrics => c.name }))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def all: Seq[Exec] = execs.asScala.toSeq
}

/** Wires the listeners into a session; only the progress log is
 * registered in an untraced run. */
final class Telemetry(spark: SparkSession, traced: Boolean, traceId: String) {
  val tracer = new Tracer(traced, traceId)
  val progress = new ProgressLog
  val sparkT: Option[SparkTelemetry] = if (traced) Some(new SparkTelemetry) else None
  val plans: Option[PlanTelemetry] = if (traced) Some(new PlanTelemetry) else None

  spark.streams.addListener(progress)
  sparkT.foreach(spark.sparkContext.addSparkListener)
  plans.foreach(spark.listenerManager.register)

  /** Run `f` as span `name`, tagging the Spark jobs it starts on this
   * thread (and on stream threads it creates) with the span id. */
  def call[T](name: String, layer: String, parent: Long, spanId: Long = -1L)(f: => T): T = {
    val id = if (spanId >= 0) spanId else tracer.nextId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    if (traced) sc.setLocalProperty("perfbench.span", id.toString)
    try tracer.span(name, layer, parent, id)(f)
    finally if (traced) sc.setLocalProperty("perfbench.span", prev)
  }

  def stop(): Unit = {
    spark.streams.removeListener(progress)
    sparkT.foreach(spark.sparkContext.removeSparkListener)
    plans.foreach(spark.listenerManager.unregister)
  }
}

/** The `spark.*` per-layer metrics from the traced run's listener, plus
 * job and stage spans parented under the benchmark call that started
 * them. All zero in an untraced run (those metrics are only reported
 * from the traced one). */
object SparkLayer {
  def metrics(tel: Telemetry, root: Long, parentOf: SparkTelemetry#Job => Long,
              unitOf: SparkTelemetry#Job => Long): Map[String, Double] = {
    val names = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
      "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.shuffle_records", "spark.spill_bytes", "spark.task_skew",
      "spark.jobs_per_unit_p50", "spark.jobs_per_unit_max")
    tel.sparkT match {
      case None => names.map(_ -> 0.0).toMap
      case Some(st) =>
        val jobs = st.jobList
        val stages = st.stageList
        val stageById = stages.toMap
        jobs.foreach { j =>
          val jid = tel.tracer.record(s"spark.job-${j.id}", "spark", parentOf(j), j.startMs.toDouble,
            math.max(j.startMs, j.endMs).toDouble)
          j.stages.flatMap(s => stageById.get(s).map(s -> _)).filter(_._2.submitMs > 0).foreach {
            case (sid, s) => tel.tracer.record(s"spark.stage-$sid", "spark", jid, s.submitMs.toDouble,
              math.max(s.submitMs, s.endMs).toDouble)
          }
        }
        val aggs = stages.map(_._2)
        val perUnit = jobs.filter(unitOf(_) >= 0).groupBy(unitOf).values.map(_.size.toDouble).toArray
        Map(
          "spark.jobs" -> jobs.size.toDouble,
          "spark.stages" -> aggs.count(_.tasks > 0).toDouble,
          "spark.tasks" -> aggs.map(_.tasks).sum.toDouble,
          "spark.task_run_ms" -> aggs.map(_.runMs).sum.toDouble,
          "spark.task_cpu_ms" -> aggs.map(_.cpuNs).sum / 1e6,
          "spark.gc_ms" -> aggs.map(_.gcMs).sum.toDouble,
          "spark.shuffle_write_bytes" -> aggs.map(_.shuffleWrite).sum.toDouble,
          "spark.shuffle_read_bytes" -> aggs.map(_.shuffleRead).sum.toDouble,
          "spark.shuffle_records" -> aggs.map(_.shuffleRecords).sum.toDouble,
          "spark.spill_bytes" -> aggs.map(_.spill).sum.toDouble,
          "spark.task_skew" -> st.taskSkew,
          "spark.jobs_per_unit_p50" -> (if (perUnit.isEmpty) 0.0 else Stats.percentile(perUnit, 50)),
          "spark.jobs_per_unit_max" -> (if (perUnit.isEmpty) 0.0 else perUnit.max))
    }
  }
}

/** The live heap after a full collection, sampled at quiet points of a
 * run. Summed over every heap pool's post-collection usage, not the old
 * generation's alone: a full collection leaves part of the live set in
 * the survivor space, and how much varies from run to run. */
object Heap {
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      Option(p.getCollectionUsage).isDefined)

  /** Force a full collection and return the heap MB in use after it. */
  def liveMb(): Double = {
    System.gc()
    pools.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}
