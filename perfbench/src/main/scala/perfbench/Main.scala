package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one workload run reports: one flat map of every metric it
 * measured, by name. run.py picks the BENCHMARK.json metrics out of it
 * (through the workload's `reports` table in spec.json). */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Map[String, Double],
    notes: Seq[String],
    extra: Map[String, Any] = Map.empty,
    spans: Seq[Stats.Span] = Nil)

object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val spec = mapper.readTree(new File(opts("spec")))
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    val wcfg = Option(spec.path("workloads").get(workload)).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val kind = wcfg.path("kind").asText()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val slots = math.min(MaxTaskSlots, Runtime.getRuntime.availableProcessors())
    val t0 = Tracer.nowMs()
    val spark = session(spec, kind, slots, work)
    val sessionS = (Tracer.nowMs() - jvmStartMs) / 1000.0
    val tel = new Telemetry(spark, traced, s"$workload-$seed")
    val root = tel.tracer.nextId()
    tel.tracer.record("spark.session", "spark", root, t0, Tracer.nowMs())
    val res = try {
      kind match {
        case "stream" => StreamWorkload.run(spark, tel, root, wcfg, seed, seconds, slots, work, sessionS)
        case "batch" => BatchWorkload.run(spark, tel, root, wcfg, seed, seconds, slots, work, sessionS)
      }
    } finally {
      tel.stop()
      spark.stop()
    }
    val rootEnd = Tracer.nowMs()
    val spans = if (traced) tel.tracer.all :+ Stats.Span(root, -1L, "run", "bench", t0, rootEnd, tel.tracer.trace)
                else Nil
    val self = Stats.selfByLayer(spans)
    val selfMetrics = SelfLayers.map(l => s"self_ms.$l" -> self.getOrElse(l, 0.0)).toMap
    write(out, workload, seed, seconds, traced, slots,
      res.copy(spans = spans, metrics = res.metrics ++ selfMetrics))
  }

  /** The master is local[min(MaxTaskSlots, nproc)]. */
  val MaxTaskSlots = 4

  /** Layers whose self time is a per-layer metric on every workload. */
  val SelfLayers = Seq("sources", "ljot", "operators", "plans", "spark", "bench")

  def session(spec: JsonNode, kind: String, slots: Int, work: File): SparkSession = {
    val b = SparkSession.builder().master(s"local[$slots]").appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    def apply(node: JsonNode): Unit =
      node.fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText()))
    apply(spec.path("session").path("common"))
    apply(spec.path("session").path(kind))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def write(out: File, workload: String, seed: Long, seconds: Double, traced: Boolean,
                    slots: Int, r: Result): Unit = {
    val node = mapper.createObjectNode()
    node.put("workload", workload).put("seed", seed).put("seconds", seconds)
      .put("trace", traced).put("task_slots", slots)
      .put("correct", r.correct).put("attempted", r.attempted).put("failed", r.failed)
    val ms = node.putObject("metrics")
    r.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => ms.put(k, v) }
    val notes = node.putArray("notes")
    r.notes.foreach(n => notes.add(n))
    val ex = node.putObject("extra")
    r.extra.foreach { case (k, v) => ex.set[JsonNode](k, mapper.valueToTree[JsonNode](toJava(v))) }
    if (traced) {
      val arr = node.putArray("spans")
      r.spans.sortBy(_.start).foreach { s =>
        arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("layer", s.layer).put("start_ms", s.start).put("end_ms", s.end)
          .put("trace", s.trace)
      }
    }
    Files.write(out.toPath, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }
}
