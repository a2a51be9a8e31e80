package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, crc32, lit, sum}

import graft.SparkEntry

/** One row of the generated `events` parquet table (the sf0.1 schema). */
final case class EventsRow(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                           value: Double, props: String)

/** `batch_ljot_skew`: the batch LJOT family and three `graft.operators`
 * queries over the same table, called through `SparkEntry.queries` on a
 * generated input directory whose `events` table has Zipf-distributed
 * users, written to the noop sink.
 *
 * Set-up (generate + write the table + build every query) repeats
 * `SetupReps` times; `WarmupPasses` untimed passes warm the JIT and
 * codegen; then timed passes repeat for `--seconds` (at least two). A
 * pass runs the seven queries concurrently.
 * Every execution's row count and checksum are checked against the
 * models in [[Model]]. */
object BatchWorkload {

  val SetupReps = 3
  val WarmupPasses = 2
  /** sf0.1's `events` span and type mix. */
  val SpanDays = 30
  val EventTypes = Seq("signup", "click", "error", "view", "purchase")
  /** SparkEntry's LJOT band D, as-of horizon and KMV sketch size, which
   * the models mirror. */
  val BandMicros: Long = 5L * 60 * 1000000
  val AsOfHorizonMicros: Long = 10L * 60 * 1000000
  val KmvK = 64

  /** (query, layer whose code it runs, columns its checksum covers). */
  val Queries: Seq[(String, String, Seq[String])] = Seq(
    ("ljot_events", "ljot", Seq("joined")),
    ("interval_join_inner", "ljot", Seq("joined")),
    ("interval_join_full", "ljot", Seq("lvalue", "rvalue")),
    ("timeout_only", "ljot", Seq("joined")),
    ("asof_purchase_error", "operators", Seq("lvalue", "rvalue")),
    ("asof_error_recovery", "operators", Seq("lvalue", "rvalue")),
    ("kmv_distinct_agg", "operators", Seq("event_type", "m", "hk")))

  def run(spark: SparkSession, tel: Telemetry, root: Long, w: JsonNode, seed: Long,
          seconds: Double, slots: Int, work: File, sessionS: Double): Result = {
    val p = Gen.TableParams(
      rows = w.path("rows").asInt(), users = w.path("users").asInt(),
      zipfS = w.path("zipf_s").asDouble(), spanDays = SpanDays, types = EventTypes)
    val notes = Seq.newBuilder[String]
    val entry = SparkEntry.queries
    val layerOf = Queries.map(q => q._1 -> q._2).toMap

    // ---- set-up, repeated: generate, write, build ----
    val setupMs = Seq.newBuilder[Double]
    val stageMs = Seq.newBuilder[Double]
    var dir: String = null
    var rows: Array[Gen.EventRow] = null
    for (k <- 0 until SetupReps) {
      val sp = tel.tracer.nextId()
      val t0 = Tracer.nowMs()
      val d = new File(work, s"input-$k").getAbsolutePath
      tel.call("sources.stage", "sources", sp) {
        import spark.implicits._
        rows = Gen.events(p, seed)
        spark.sparkContext.parallelize(rows.toSeq.map(r => EventsRow(r.eventId, micros(r.tsMicros),
          r.userId, r.eventType, r.value, r.props)), 4 * slots)
          .toDF().coalesce(1).write.parquet(s"$d/events.parquet")
      }
      val t1 = Tracer.nowMs()
      Queries.foreach { case (q, layer, _) => tel.call(s"$layer.build:$q", layer, sp)(entry(q)(spark, d)) }
      val t2 = Tracer.nowMs()
      tel.tracer.record(s"setup-$k", "bench", root, t0, t2, sp)
      stageMs += t1 - t0
      setupMs += t2 - t0
      dir = d
    }

    // ---- the independent models ----
    val expected = tel.tracer.span("bench.model", "bench", root) {
      def sides(t: String) = rows.filter(_.eventType == t).groupBy(_.userId)
        .map { case (u, rs) => u -> Model.side(rs.map(r => (r.tsMicros, r.eventId.toString)).toSeq) }
      val (purchases, errors) = (sides("purchase"), sides("error"))
      Model.ljotFamily(purchases, errors, BandMicros) ++ Map(
        "asof_purchase_error" -> Model.asOf(purchases, errors, AsOfHorizonMicros, backward = true),
        "asof_error_recovery" -> Model.asOf(errors, purchases, AsOfHorizonMicros, backward = false),
        "kmv_distinct_agg" -> Model.kmv(
          rows.groupBy(_.eventType).map { case (t, rs) => t -> rs.map(_.userId).toSet }, KmvK))
    }

    final case class Exec(query: String, pass: Int, buildMs: Double, execMs: Double,
                          got: Model.Expect, execSpan: Long, buildSpan: Long) {
      def ok: Boolean = expected.get(query).contains(got)
    }
    def execute(q: String, cols: Seq[String], pass: Int, parent: Long): Exec = {
      val layer = layerOf(q)
      val b0 = Tracer.nowMs()
      val buildSpan = tel.tracer.nextId()
      val df = tel.call(s"$layer.build:$q", layer, parent, buildSpan)(entry(q)(spark, dir))
      val b1 = Tracer.nowMs()
      val execSpan = tel.tracer.nextId()
      // the name ties the traced QueryExecution back to this execution
      val obs = Observation(s"perfbench_$execSpan")
      val row = concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      val got = try {
        tel.call(s"spark.write:$q", "spark", parent, execSpan) {
          df.observe(obs, count(lit(1)).as("rows"), sum(crc32(row.cast("binary"))).as("checksum"))
            .write.format("noop").mode("overwrite").save()
        }
        val m = obs.get
        Model.Expect(m("rows").asInstanceOf[Long], Option(m("checksum")).fold(0L)(_.asInstanceOf[Long]))
      } catch { case e: Exception => notes.synchronized(notes += s"$q failed: $e"); Model.Expect(-1, 0) }
      val b2 = Tracer.nowMs()
      println(f"perfbench: pass $pass%d $q%s build ${b1 - b0}%.0f ms, write ${b2 - b1}%.0f ms")
      Exec(q, pass, b1 - b0, b2 - b1, got, execSpan, buildSpan)
    }

    // ---- warm-up passes (untimed), then timed passes ----
    // A pass submits every query at once, one driver thread each, and ends
    // when the last result is complete. A query alone leaves three cores
    // idle while its hot task runs, and the speed of a lone busy core on a
    // shared host swings by tens of percent over seconds; submitted
    // together, the four LJOT queries' hot tasks run side by side and keep
    // every core busy.
    val pool = Executors.newFixedThreadPool(Queries.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def runPass(pass: Int, parent: Long): Seq[Exec] = Await.result(Future.sequence(
      Queries.map { case (q, _, cols) => Future(execute(q, cols, pass, parent)) }), Duration.Inf)
    val (warm, all, passMs, warmMs) = try {
      val w0 = Tracer.nowMs()
      val warm = (1 to WarmupPasses).flatMap(k => runPass(-k, root))
      val warmMs = Tracer.nowMs() - w0
      val execs = Seq.newBuilder[Exec]
      val passMs = Seq.newBuilder[Double]
      val deadline = Tracer.nowMs() + seconds * 1000
      var pass = 1
      while (pass <= 2 || Tracer.nowMs() < deadline) {
        val ps = tel.tracer.nextId()
        val t0 = Tracer.nowMs()
        execs ++= runPass(pass, ps)
        val t1 = Tracer.nowMs()
        tel.tracer.record(s"pass-$pass", "bench", root, t0, t1, ps)
        passMs += t1 - t0
        pass += 1
      }
      (warm, execs.result(), passMs.result(), warmMs)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    val setupS = sessionS + Stats.median(setupMs.result()) / 1000.0 + warmMs / 1000.0

    // The context cleaner releases the passes' shuffles and broadcasts only
    // after a collection has found them unreachable: sampled at once, the
    // heap read 5-35 MB above its settled value, by a different amount in
    // every run; after two collections 1 s apart it is within 1 MB.
    Heap.liveMb(); Thread.sleep(1000); Heap.liveMb(); Thread.sleep(1000)
    val heap = Heap.liveMb()

    val bad = (warm ++ all).filterNot(_.ok)
    bad.take(5).foreach(e => notes += s"${e.query} pass ${e.pass}: got ${e.got}, model ${expected.get(e.query)}")
    val lastRows = all.groupBy(_.query).map { case (q, es) => q -> es.last.got.rows }
    val identity = lastRows("ljot_events") == lastRows("interval_join_inner") + lastRows("timeout_only")
    if (!identity) notes += "outputs violate |left outer| = |inner| + |timeout_only|"

    val batchS = Stats.median(passMs) / 1000.0
    def ofLayer(l: String) = all.filter(e => layerOf(e.query) == l)
    // The latency percentiles cover the LJOT family alone, the workload's
    // primary path; the operator queries count in batch_s and operators.*.
    val ljotMs = ofLayer("ljot").map(e => e.buildMs + e.execMs).toArray

    // per-layer: plans from the QueryExecution listener (its phases become
    // child spans of the write whose observation the plan carries), eager
    // jobs from the jobs tagged with a build span
    val phases = Seq("analysis", "optimization", "planning")
    val timedExecSpans = all.map(_.execSpan).toSet
    val planMsOf = tel.plans.map(_.all).getOrElse(Nil).flatMap { x =>
      x.observations.collectFirst { case o if o.startsWith("perfbench_") => o.stripPrefix("perfbench_").toLong }
        .map { span =>
          val ph = phases.flatMap(n => x.phases.get(n).map(n -> _))
          ph.foreach { case (n, (a, b)) => tel.tracer.record(s"plans.$n", "plans", span, a.toDouble, b.toDouble) }
          span -> ph.map { case (_, (a, b)) => (b - a).toDouble }.sum
        }
    }.toMap
    val timedPlanMs = all.flatMap(e => planMsOf.get(e.execSpan))
    val buildSpans = (warm ++ all).map(_.buildSpan).toSet
    val jobs = tel.sparkT.map(_.jobList).getOrElse(Nil)
    val stages = tel.sparkT.map(_.stageList.toMap).getOrElse(Map.empty)
    val spark_ = SparkLayer.metrics(tel, root, j => if (j.span >= 0) j.span else root,
      unitOf = j => if (timedExecSpans(j.span)) j.span else -1L)
    val perQuery = Queries.map { case (q, _, _) =>
      val es = all.filter(_.query == q)
      val spans = es.map(_.execSpan).toSet
      val qJobs = jobs.filter(j => spans(j.span))
      val maxTask = qJobs.flatMap(_.stages).flatMap(stages.get).flatMap(_.taskMs).maxOption
      val planMs = es.flatMap(e => planMsOf.get(e.execSpan))
      q -> Map("wall_ms" -> Stats.median(es.map(e => e.buildMs + e.execMs)),
        "build_ms" -> Stats.median(es.map(_.buildMs)), "exec_ms" -> Stats.median(es.map(_.execMs)),
        "plan_ms" -> (if (planMs.isEmpty) 0.0 else Stats.median(planMs)),
        "rows" -> es.last.got.rows.toDouble, "model_rows" -> expected(q).rows.toDouble,
        "jobs" -> qJobs.size.toDouble / es.size,
        "longest_task_ms" -> maxTask.fold(0.0)(_.toDouble))
    }.toMap
    val jobsPerQuery = perQuery.values.map(_("jobs")).toArray
    val metrics = Map(
      "setup_s" -> setupS,
      "batch_s" -> batchS,
      "ljot_query_ms_p50" -> Stats.percentile(ljotMs, 50),
      "ljot_query_ms_p90" -> Stats.percentile(ljotMs, 90),
      "batch_events_per_s" -> p.rows / batchS,
      "peak_heap_mb" -> heap,
      "error_rate" -> bad.size.toDouble / (warm.size + all.size),
      "sources.stage_s" -> Stats.median(stageMs.result()) / 1000.0,
      "sources.input_rows" -> p.rows.toDouble,
      "ljot.build_ms" -> Stats.median(ofLayer("ljot").map(_.buildMs)),
      "ljot.join_rows" -> lastRows("interval_join_inner").toDouble,
      "ljot.timeout_rows" -> lastRows("timeout_only").toDouble,
      "operators.build_ms" -> Stats.median(ofLayer("operators").map(_.buildMs)),
      "operators.exec_ms" -> Stats.median(ofLayer("operators").map(_.execMs)),
      "operators.eager_jobs" -> jobs.count(j => buildSpans(j.span)).toDouble,
      "operators.jobs_per_query_p50" -> Stats.percentile(jobsPerQuery, 50),
      "operators.jobs_per_query_max" -> jobsPerQuery.max,
      "spark.unit_ms_p50" -> Stats.percentile(all.map(_.execMs).toArray, 50),
      "spark.unit_ms_p90" -> Stats.percentile(all.map(_.execMs).toArray, 90),
      "spark.units" -> all.size.toDouble,
      "spark.rows_per_unit" -> p.rows.toDouble,
      "plans.plan_ms" -> (if (timedPlanMs.isEmpty) 0.0 else Stats.median(timedPlanMs)),
      "batch.passes" -> passMs.size.toDouble) ++ spark_
    Result(
      correct = bad.isEmpty && identity,
      attempted = (warm.size + all.size).toLong,
      failed = bad.size.toLong,
      metrics = metrics,
      notes = notes.result(),
      extra = Map("per_query" -> perQuery, "pass_ms" -> passMs,
        "setup_ms" -> setupMs.result(),
        "model" -> expected.map { case (q, e) => q -> Map("rows" -> e.rows, "checksum" -> e.checksum) }))
  }

  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
