package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A closed loop of one caller over a fixed list of `SparkEntry.queries`.
  * Each query is timed from the call into its query function (where the
  * eager lineage cuts run) to the end of its `noop` write. */
object QueryMix {

  val MinPasses = 3

  /** The session settings `graft.Bench` uses, at `cores` task threads. */
  def session(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()

  final case class Timing(name: String, pass: Int, constructS: Double,
      actionS: Double, span: Span) {
    def totalS: Double = constructS + actionS
  }

  def run(a: Args, spans: Spans, root: Long, trace: Option[SparkTrace]): Result = {
    val cores = a.cores
    val spark = session(cores)
    spark.sparkContext.setLogLevel("WARN")
    val fns = graft.SparkEntry.queries
    val names = a.queries
    names.filterNot(fns.contains).foreach(n => sys.error(s"unknown query $n"))
    val order = new scala.util.Random(a.seed).shuffle(names)
    // the program's own DuckDB oracle for each query that has one
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/oracle_sql.json"),
      Json.render(oracles))

    // set-up: table first touch, then one warm-up pass over the mix whose
    // answers are kept as parquet for the output checks
    val (_, setupSpan) = spans.timed("setup", "bench", root) {
      Option(new java.io.File(a.data).list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".parquet")).sorted
        .foreach(t => spark.read.parquet(s"${a.data}/$t").count())
      order.foreach { n =>
        fns(n)(spark, a.data).write.mode("overwrite").parquet(s"${a.work}/out/$n")
        spark.catalog.clearCache()
      }
      System.gc()
    }
    val setupS = (setupSpan.end - Run.processStartMs) / 1000.0

    val timings = mutable.ArrayBuffer.empty[Timing]
    val t0 = Clock.nowMs
    var pass = 0
    while (pass < MinPasses || Clock.nowMs - t0 < a.seconds * 1000.0) {
      order.foreach { n =>
        val id = spans.nextId()
        val s0 = Clock.nowMs
        val df = fns(n)(spark, a.data)
        val s1 = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        val s2 = Clock.nowMs
        val sp = spans.add(Span(id, n, "queries", s0, s2, root, Map("pass" -> pass)))
        spans.add(Span(spans.nextId(), s"construct:$n", "queries", s0, s1, id))
        spans.add(Span(spans.nextId(), s"action:$n", "queries", s1, s2, id))
        timings += Timing(n, pass, (s1 - s0) / 1000.0, (s2 - s1) / 1000.0, sp)
        // per-query caches must not leak into the next query
        spark.catalog.clearCache()
      }
      // outside the timed windows, as graft.Bench does between queries:
      // dead broadcast and shuffle state is reclaimed before the next pass
      System.gc()
      pass += 1
    }
    val t1 = Clock.nowMs
    System.err.println(f"[perfbench] setup ${setupS}%.1fs, measured ${(t1 - t0) / 1000}%.1fs, passes $pass")

    val perQuery = order.map(n => n -> Stats.median(timings.filter(_.name == n).map(_.totalS).toSeq))
    val passTotals = (0 until pass).map(p => timings.filter(_.pass == p).map(_.totalS).sum)
    val e2e = Json.obj(
      "setup_s" -> setupS,
      "bulk_s" -> Stats.median(passTotals),
      "step_p50_s" -> Stats.median(perQuery.map(_._2)),
      "step_geomean_s" -> Stats.geomean(perQuery.map(_._2)))
    val named = Json.obj(
      "query_total_s" -> Stats.median(passTotals),
      "query_geomean_s" -> Stats.geomean(perQuery.map(_._2)))

    val layers = Json.obj()
    trace.foreach { tr =>
      tr.drain()
      val jobs = tr.jobsIn(t0, t1)
      Layers.spark(layers, tr, jobs, timings.map(_.totalS).sum, cores, pass)
      layers("queries.construct_s") = timings.map(_.constructS).sum / pass
      layers("queries.action_s") = timings.map(_.actionS).sum / pass
      layers("plans.planning_s") = tr.actionsIn(t0, t1).map(_.planningMs).sum / 1000.0 / pass
      layers("operators.cut_jobs") = tr.cutJobs(jobs, t0, t1).size.toDouble / pass
      layers("operators.jobs") = jobs.count(_.module == "operators").toDouble / pass
      Layers.perModule(layers, jobs, pass)
      order.foreach { n =>
        val mine = timings.filter(_.name == n)
        layers(s"query.${n}_s") = Stats.median(mine.map(_.totalS).toSeq)
        layers(s"query.${n}_jobs") =
          mine.map(t => tr.jobsIn(t.span.start, t.span.end).size).sum.toDouble / mine.size
        val js = mine.flatMap(t => tr.jobsIn(t.span.start, t.span.end)).toSeq
        val tasks = tr.tasksOf(js)
        val wall = mine.map(_.totalS).sum
        layers(s"query.${n}_driver_share") =
          1.0 - tasks.runMs / 1000.0 / math.max(1e-9, wall * cores)
      }
    }

    Result(
      workload = a.workload, seed = a.seed, attempted = timings.size, failed = 0,
      e2e = e2e, named = named, layers = layers,
      checks = Seq.empty,
      extra = Json.obj("passes" -> pass, "order" -> order,
        "outputs" -> s"${a.work}/out",
        "per_query_s" -> Json.obj(perQuery: _*),
        "pass_totals_s" -> passTotals),
      window = (t0, t1))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Per-layer figures every traced workload reports. */
object Layers {
  /** Totals over `jobs`, divided by `per` rounds of the workload. */
  def spark(out: mutable.Map[String, Any], tr: SparkTrace, jobs: Seq[JobRec],
      wallS: Double, cores: Int, per: Int): Unit = {
    val t = tr.tasksOf(jobs)
    out("spark.jobs") = jobs.size.toDouble / per
    out("spark.tasks") = t.tasks.toDouble / per
    out("spark.driver_share") = 1.0 - t.runMs / 1000.0 / math.max(1e-9, wallS * cores)
    out("spark.task_run_s") = t.runMs / 1000.0 / per
    out("spark.task_cpu_s") = t.cpuNs / 1e9 / per
    out("spark.gc_s") = t.gcMs / 1000.0 / per
    out("spark.shuffle_write_bytes") = t.shuffleWrite.toDouble / per
    out("spark.shuffle_read_bytes") = t.shuffleRead.toDouble / per
    out("spark.spill_bytes") = t.spill.toDouble / per
  }

  /** Jobs attributed to the repository module of their call site. */
  def perModule(out: mutable.Map[String, Any], jobs: Seq[JobRec], per: Int): Unit = {
    val counts = jobs.groupBy(_.module).map { case (m, js) => m -> js.size.toDouble / per }
    out("jobs_by_module") = counts
  }
}
