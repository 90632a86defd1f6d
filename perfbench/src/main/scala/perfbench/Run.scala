package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, queries: Seq[String], cores: Int, out: String)

final case class Check(name: String, ok: Boolean, detail: String)

final case class Result(workload: String, seed: Long, attempted: Int, failed: Int,
    e2e: mutable.Map[String, Any], named: mutable.Map[String, Any],
    layers: mutable.Map[String, Any], checks: Seq[Check],
    extra: mutable.Map[String, Any], window: (Double, Double))

/** One run of one workload in this JVM. Writes the result and, when
  * traced, the span record as JSON for `run.py`.
  *
  *   perfbench.Run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --out <result.json> [--data <dir> --queries a,b,…]
  */
object Run {
  /** Process start on the [[Clock]] axis. */
  lazy val processStartMs: Double = {
    val startedAgoMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Clock.nowMs - startedAgoMs
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.get("trace").contains("1"), need("work"), m.getOrElse("data", ""),
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      Runtime.getRuntime.availableProcessors(), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    processStartMs
    val a = parse(argv)
    val spans = new Spans
    val rootId = spans.nextId()
    val t0 = Clock.nowMs
    val trace = if (a.trace) Some(SparkTrace.install()) else None
    val r = a.workload match {
      case "outbreak_stream" => OutbreakStream.run(a, spans, rootId, trace)
      case _ => QueryMix.run(a, spans, rootId, trace)
    }
    spans.add(Span(rootId, a.workload, "bench", t0, Clock.nowMs, 0L))

    val result = Json.obj(
      "workload" -> r.workload, "seed" -> r.seed, "cores" -> a.cores,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> r.e2e, "named" -> r.named, "layers" -> r.layers,
      "checks" -> r.checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "extra" -> r.extra)
    trace.foreach { tr =>
      // spans: the benchmark's own, plus Spark jobs and streaming batches
      // of the measured window, each parented by the span it falls in
      val own = spans.all
      val leaves = own.filter(s => s.parent == rootId)
      def parentOf(t: Double) = leaves.find(s => s.start <= t && t <= s.end).map(_.id).getOrElse(rootId)
      val (w0, w1) = r.window
      val jobSpans = tr.jobsIn(w0, w1).map(j => Span(spans.nextId(), s"job:${j.id}", "spark",
        j.start, j.end, parentOf(j.start), Map("module" -> j.module)))
      val batchSpans = tr.batchesIn(w0, w1).map(b => Span(spans.nextId(), s"batch:${b.batchId}",
        "streaming", b.start, b.start + b.durationMs.getOrElse("triggerExecution", 0L),
        parentOf(b.start), b.durationMs))
      val actionSpans = tr.actionsIn(w0, w1).map(x => Span(spans.nextId(), s"action:${x.func}",
        "sql", x.start, x.end, parentOf(x.start), Map("write" -> x.writePath.getOrElse(""),
          "reads" -> x.readPaths, "planning_ms" -> x.planningMs)))
      val all = own ++ jobSpans ++ batchSpans ++ actionSpans
      val kids = all.groupBy(_.parent)
      val record = Json.obj(
        "workload" -> a.workload, "seed" -> a.seed,
        "spans" -> all.map(s => Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent,
          "self_ms" -> SelfTime.of(s, kids.getOrElse(s.id, Nil)), "attrs" -> s.attrs)),
        "counters" -> r.layers)
      write(new File(a.work, "trace.json"), Json.render(record))
      result("trace_file") = new File(a.work, "trace.json").getPath
    }
    write(new File(a.out), Json.render(result))
    System.err.println(f"[perfbench] result written ${(Clock.nowMs - processStartMs) / 1000}%.1fs after JVM start")
    // everything the run wrote is under its work directory, which run.py
    // removes: end at once instead of running Spark's shutdown hooks
    Runtime.getRuntime.halt(0)
  }

  private def write(f: File, s: String): Unit = {
    f.getAbsoluteFile.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }
}
