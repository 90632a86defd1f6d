package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the whole run: epoch milliseconds with sub-millisecond
  * resolution, so the benchmark's own spans and Spark's event times
  * (epoch milliseconds) share an axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A span at a layer boundary. `parent` is the id of the span that
  * caused it (0 for the root). */
final case class Span(id: Long, name: String, layer: String, start: Double,
    end: Double, parent: Long, attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** Spans recorded around the benchmark's own calls into the program.
  * They are kept in memory and written once, when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Span = { done.add(s); s }
  def timed[T](name: String, layer: String, parent: Long)(body: => T): (T, Span) = {
    val id = nextId()
    val t0 = Clock.nowMs
    val r = body
    (r, add(Span(id, name, layer, t0, Clock.nowMs, parent)))
  }
  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

final case class JobRec(id: Int, start: Double, var end: Double, module: String)

final case class TaskAgg(var tasks: Long = 0, var runMs: Double = 0,
    var cpuNs: Double = 0, var gcMs: Double = 0, var shuffleWrite: Long = 0,
    var shuffleRead: Long = 0, var spill: Long = 0)

final case class ActionRec(func: String, start: Double, end: Double,
    writePath: Option[String], readPaths: Seq[String], planningMs: Double)

final case class BatchRec(batchId: Long, start: Double, durationMs: Map[String, Long],
    inputRows: Long, stateCommitMs: Long, statePartitions: Long,
    stateRows: Long)

/** Spark's public listener events, collected for the traced run:
  * jobs/stages/tasks (SparkListener), actions with their planning phases
  * and write paths (QueryExecutionListener), and streaming micro-batch
  * progress (StreamingQueryListener).
  *
  * The listeners ([[JobHook]], [[ActionHook]], [[BatchHook]]) are
  * registered through Spark's listener settings before any session exists
  * ([[SparkTrace.install]]), so that they also see the session a streaming
  * query clones for its micro-batches. They hand every event to the one
  * recorder of the run. */
final class SparkTrace {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val actions = new ConcurrentLinkedQueue[ActionRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val byJob = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  /** The first frame of the program (`graft.<module>.…`) in a call site. */
  private def moduleOf(site: String): String =
    site.split("\n").iterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") =>
        val seg = f.split('.')(1)
        if (seg.nonEmpty && seg.head.isLower) seg else "graft"
    }.getOrElse("other")

  def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val rec = JobRec(e.jobId, e.time.toDouble, e.time.toDouble, moduleOf(site))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobById.put(e.jobId, rec)
    byJob.put(e.jobId, TaskAgg())
    jobs.add(rec)
    touch()
  }

  def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)
    touch()
  }

  def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val agg = Option(stageJob.get(e.stageId)).flatMap(j => Option(byJob.get(j)))
    if (m != null) agg.foreach { a =>
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    touch()
  }

  def record(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val end = Clock.nowMs
    val write = qe.commandExecuted.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.orElse(qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    })
    val reads = qe.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    val planning = qe.tracker.phases
      .collect { case (p, s) if p != "parsing" => s.durationMs.toDouble }.sum
    actions.add(ActionRec(func, end - durationNs / 1e6, end, write, reads, planning))
    touch()
  }

  def onProgress(p: StreamingQueryProgress): Unit = {
    val ops = p.stateOperators.toSeq
    batches.add(BatchRec(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, ops.map(_.commitTimeMs).sum,
      ops.map(_.numShufflePartitions).sum, ops.map(_.numRowsTotal).sum))
    touch()
  }

  /** Listener buses deliver asynchronously: wait until they go quiet. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent.get() < 300000000L &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  def jobsIn(t0: Double, t1: Double): Seq[JobRec] =
    jobs.asScala.toSeq.filter(j => j.start >= t0 && j.start <= t1).sortBy(_.start)

  def tasksOf(js: Seq[JobRec]): TaskAgg = {
    val t = TaskAgg()
    js.foreach(j => Option(byJob.get(j.id)).foreach { a =>
      t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleWrite += a.shuffleWrite; t.shuffleRead += a.shuffleRead
      t.spill += a.spill
    })
    t
  }

  /** Jobs run by `Lineage.cut`: its eager `localCheckpoint` is an action
    * of its own, whose interval holds the jobs it runs. */
  def cutJobs(jobs: Seq[JobRec], t0: Double, t1: Double): Seq[JobRec] = {
    val cuts = actionsIn(t0, t1).filter(a => a.func == "localCheckpoint" || a.func == "checkpoint")
    jobs.filter(j => cuts.exists(c => j.start >= c.start && j.start <= c.end))
  }

  def actionsIn(t0: Double, t1: Double): Seq[ActionRec] =
    actions.asScala.toSeq.filter(a => a.end >= t0 && a.end <= t1).sortBy(_.start)

  def batchesIn(t0: Double, t1: Double): Seq[BatchRec] =
    batches.asScala.toSeq.filter(b => b.start >= t0 - 1 && b.start <= t1).sortBy(_.batchId)
}

object SparkTrace {
  @volatile private var current: SparkTrace = _

  /** Makes every session created from now on report to a new trace. */
  def install(): SparkTrace = {
    current = new SparkTrace
    System.setProperty("spark.extraListeners", classOf[JobHook].getName)
    System.setProperty("spark.sql.queryExecutionListeners", classOf[ActionHook].getName)
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[BatchHook].getName)
    current
  }

  private[perfbench] def get: SparkTrace = current
}

/** Listener entry points Spark instantiates from its settings. */
final class JobHook extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = SparkTrace.get.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkTrace.get.onJobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkTrace.get.onTaskEnd(e)
}

final class ActionHook extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    SparkTrace.get.record(f, qe, ns)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

final class BatchHook extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    SparkTrace.get.onProgress(e.progress)
}

object SelfTime {
  /** A span's duration minus the part of it its children cover. */
  def of(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    s.dur - covered
  }
}

/** Minimal JSON rendering for the run's record and result. */
object Json {
  def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => esc(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => esc(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => esc(other.toString)
  }

  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)
}
