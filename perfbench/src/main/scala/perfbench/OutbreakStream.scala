package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The outbreak app as deployed: `graft.app.Main` runs continuously over a
  * JSON directory with the session it builds itself. The benchmark drops a
  * multi-day history file, then one next-day file at a time, each only
  * after the previous day is committed (landing rows and scoring state
  * written). */
object OutbreakStream {

  val Terms: Seq[String] = graft.app.Main.DefaultTerms
  val Threshold = 2.0
  /** The reference's key space: 20 terms × 20 regions. */
  val Regions = 20
  val HistoryDays = 3
  /** Closes that every run makes, and the ones the per-layer totals cover. */
  val MinCloses = 1
  /** Keeps every generated day inside one 31-day month. */
  val MaxCloses = 31 - HistoryDays - 1

  final case class Rec(day: Int, sec: Int, region: Int, term: Int, value: Long)

  /** Seeded event generator. Daily totals per (region, term) are whole
    * numbers, so their sums are exact in any order. */
  final class Gen(seed: Long, val regions: Int) {
    private val rnd = new java.util.Random(seed)
    val start: LocalDate = LocalDate.of(2024,
      Seq(1, 3, 5, 7, 8, 10)(rnd.nextInt(6)), 1)
    val regionNames: IndexedSeq[String] = (0 until regions).map(i => f"C$i%03d")
    private val level = Array.fill(regions, Terms.size)(20 + rnd.nextInt(80))
    val days: Int = HistoryDays + MaxCloses + 1

    /** Planted spikes of one outbreak: (day, region) → spiked term indices,
      * the same 8 terms each day, in a new region each day. The first falls
      * on a history day the backfill closes (and fits on); then one falls on
      * every day from the last history day on, which the first close scores
      * against the fitted model. Regions follow a seeded permutation, so a
      * region spikes again only `regions` days later. The model scores in
      * the subspace of the history's first principal components, so the
      * daily spikes share the history spike's terms (README). */
    val spikes: Map[(Int, Int), Set[Int]] = {
      val terms = rnd.ints(0, Terms.size).distinct().limit(8).toArray.toSet
      val order = new scala.util.Random(rnd.nextLong()).shuffle((0 until regions).toIndexedSeq)
      val spikeDays = (1 + rnd.nextInt(HistoryDays - 2)) +: (HistoryDays - 1 until days)
      spikeDays.zipWithIndex.map { case (d, i) => (d, order(i % regions)) -> terms }.toMap
    }

    /** total(day)(region)(term) */
    val total: Array[Array[Array[Long]]] = Array.tabulate(days, regions) { (d, r) =>
      val spiked = spikes.getOrElse((d, r), Set.empty)
      Array.tabulate(Terms.size) { t =>
        val base = math.max(1L, math.round(level(r)(t) * (1.0 + 0.15 * rnd.nextGaussian())))
        if (spiked(t)) base * 8 else base
      }
    }

    private val perDay: Array[(Seq[Rec], Seq[Rec])] = Array.tabulate(days) { d =>
      // each total is split over two records before 23:00, and for about
      // one key in twenty a third part arrives just before midnight — in the
      // NEXT day's file, inside the 1-hour watermark
      val onTime = mutable.ArrayBuffer.empty[Rec]
      val straggle = mutable.ArrayBuffer.empty[Rec]
      for (r <- 0 until regions; t <- Terms.indices) {
        val v = total(d)(r)(t)
        val late = if (v >= 3 && rnd.nextInt(20) == 0) 1 + rnd.nextInt((v / 3).toInt) else 0
        val a = (v - late) / 2
        onTime += Rec(d, rnd.nextInt(23 * 3600), r, t, a)
        onTime += Rec(d, rnd.nextInt(23 * 3600), r, t, v - late - a)
        if (late > 0) straggle += Rec(d, 23 * 3600 + rnd.nextInt(3600), r, t, late)
      }
      (onTime.toSeq, straggle.toSeq)
    }

    /** Records re-sent after their day has closed: the stream drops them. */
    private def resent(d: Int): Seq[Rec] =
      perDay(d)._1.filter(_ => rnd.nextInt(100) == 0).map(_.copy(value = 1000))

    private val isoSeconds = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

    private def line(r: Rec): String = {
      val ts = start.plusDays(r.day.toLong).atStartOfDay().plusSeconds(r.sec.toLong)
      s"""{"datetime":"${ts.format(isoSeconds)}","kw":"${Terms(r.term)}","region":"${regionNames(r.region)}","value":${r.value}.0}"""
    }

    private def write(path: Path, recs: Seq[Rec]): Unit = {
      val shuffled = new scala.util.Random(rnd.nextLong()).shuffle(recs)
      val w: BufferedWriter = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
      try shuffled.foreach { r => w.write(line(r)); w.newLine() } finally w.close()
    }

    /** The history file: days 0 until HistoryDays, with the stragglers of
      * every day but the last. */
    def writeHistory(path: Path): Unit =
      write(path, (0 until HistoryDays).flatMap(d => perDay(d)._1) ++
        (0 until HistoryDays - 1).flatMap(d => perDay(d)._2))

    /** The file of day `d`: its records, the previous day's stragglers and a
      * few re-sent records of the day before that. */
    def writeDay(path: Path, d: Int): Unit =
      write(path, perDay(d)._1 ++ perDay(d - 1)._2 ++ resent(d - 2))

    def date(d: Int): LocalDate = start.plusDays(d.toLong)
  }

  def run(a: Args, spans: Spans, root: Long, trace: Option[SparkTrace]): Result = {
    val work = new File(a.work).getAbsoluteFile
    val staging = new File(work, "staging"); staging.mkdirs()
    val in = new File(work, "in"); in.mkdirs()
    val landing = new File(work, "landing")
    val scores = new File(work, "scores")
    val ckpt = new File(work, "ckpt")
    val model = new File(ckpt, "graft-state/model")
    val snapshots = new File(work, "models")

    // input generation is not part of set-up
    val g0 = Clock.nowMs
    val gen = new Gen(a.seed, Regions)
    gen.writeHistory(new File(staging, "history.json").toPath)
    gen.writeDay(new File(staging, f"day-$HistoryDays%02d.json").toPath, HistoryDays)
    val genMs = Clock.nowMs - g0

    val mainError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val app = new Thread(() => {
      try graft.app.Main.main(Array(
        "--json-dir", in.getPath, "--landing", landing.getPath,
        "--scores", scores.getPath, "--checkpoint", ckpt.getPath))
      catch { case e: Throwable => mainError.set(e) }
    }, "outbreak-app")
    app.setDaemon(true)

    def spark: Option[SparkSession] = SparkSession.getDefaultSession
    val (_, setupSpan) = spans.timed("setup", "bench", root) {
      app.start()
      waitFor("the app's streaming query to start", 120) {
        spark.exists(_.streams.active.nonEmpty)
      }
    }
    val session = spark.get
    val setupS = (setupSpan.end - Run.processStartMs - genMs) / 1000.0

    def successMtime(): Long = {
      val f = new File(model, "_SUCCESS")
      if (f.exists()) f.lastModified() else -1L
    }
    def landed(d: Int) = new File(landing, s"date=${gen.date(d)}").isDirectory
    def drop(name: String): Unit = Files.move(new File(staging, name).toPath,
      new File(in, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    def committed(days: Seq[Int], before: Long): Boolean = {
      val m = successMtime()
      m > 0 && m != before && days.forall(landed)
    }

    val t0 = Clock.nowMs
    var before = successMtime()
    val (_, backfill) = spans.timed("backfill", "app", root) {
      drop("history.json")
      waitFor("the history to be committed", 170) {
        committed(0 until HistoryDays - 1, before)
      }
    }
    val closes = mutable.ArrayBuffer.empty[Span]
    var next = HistoryDays
    while (next < gen.days && (closes.size < MinCloses ||
        Clock.nowMs - t0 < a.seconds * 1000.0)) {
      before = successMtime()
      val d = next
      val (_, sp) = spans.timed(s"close:${gen.date(d - 1)}", "app", root) {
        drop(f"day-$d%02d.json")
        waitFor(s"day ${gen.date(d - 1)} to be committed", 120) {
          committed(Seq(d - 1), before)
        }
      }
      closes += sp
      // outside the timed window: keep the model as persisted at this close
      copyDir(model, new File(snapshots, s"close-${d - 1}"))
      next += 1
      if (next < gen.days) gen.writeDay(new File(staging, f"day-$next%02d.json").toPath, next)
    }
    val t1 = Clock.nowMs
    System.err.println(f"[perfbench] setup ${setupS}%.1fs, backfill ${backfill.dur / 1000}%.1fs, " +
      s"closes ${closes.map(c => f"${c.dur / 1000}%.1f").mkString(",")}")
    if (mainError.get != null) throw mainError.get
    val layerEnd = closes(MinCloses - 1).end

    val closeS = closes.map(_.dur / 1000.0).toSeq
    val e2e = Json.obj(
      "setup_s" -> setupS,
      "bulk_s" -> backfill.dur / 1000.0,
      "step_p50_s" -> Stats.median(closeS),
      "step_geomean_s" -> Stats.geomean(closeS))
    val named = Json.obj(
      "backfill_s" -> backfill.dur / 1000.0,
      "day_close_p50_s" -> Stats.median(closeS))

    val layers = Json.obj()
    trace.foreach { tr =>
      tr.drain()
      streamLayers(layers, tr, t0, layerEnd, a.cores, landing, scores,
        model.getParentFile)
    }
    // the query would go on polling the directory: stop it, and let the
    // app's thread return from awaitTermination
    session.streams.active.foreach(_.stop())
    app.join(60000)

    val lastClosed = next - 2
    val checks = check(session, gen, landing, scores, snapshots,
      HistoryDays - 1 until next - 1, lastClosed)
    val files = listFiles(landing).filter(_.getName.endsWith(".parquet"))
    layers("landing.files") = files.size.toDouble
    layers("landing.bytes_per_row") =
      files.map(_.length).sum.toDouble / ((lastClosed + 1).toLong * Regions * Terms.size)

    Result(
      workload = a.workload, seed = a.seed, attempted = 1 + closes.size, failed = 0,
      e2e = e2e, named = named, layers = layers, checks = checks,
      extra = Json.obj("regions" -> Regions, "history_days" -> HistoryDays,
        "closes" -> closes.size, "close_s" -> closeS,
        "start_date" -> gen.start.toString, "generation_s" -> genMs / 1000.0),
      window = (t0, t1))
  }

  // ------------------------------------------------------------- layers

  private def streamLayers(out: mutable.Map[String, Any], tr: SparkTrace,
      t0: Double, t1: Double, cores: Int, landing: File, scores: File,
      stateDir: File): Unit = {
    val jobs = tr.jobsIn(t0, t1)
    Layers.spark(out, tr, jobs, (t1 - t0) / 1000.0, cores, 1)
    val acts = tr.actionsIn(t0, t1)
    def under(p: String, dir: File) = p.contains(dir.getPath)
    val landingW = acts.filter(_.writePath.exists(under(_, landing)))
    val scoresW = acts.filter(_.writePath.exists(under(_, scores)))
    // state IO: writes to and reads from the scoring state, and the cut
    // that materializes the updated detrend state before it is written
    val stateIo = acts.filter(x => x.writePath.exists(under(_, stateDir)) ||
      x.func == "localCheckpoint" ||
      (x.writePath.isEmpty && x.readPaths.nonEmpty && x.readPaths.forall(under(_, stateDir))))
    val cuts = tr.cutJobs(jobs, t0, t1)
    def secs(xs: Seq[ActionRec]) = xs.map(x => x.end - x.start).sum / 1000.0
    out("queries.construct_s") = 0.0
    out("queries.action_s") = 0.0
    out("plans.planning_s") = acts.map(_.planningMs).sum / 1000.0
    out("operators.cut_jobs") = cuts.size.toDouble
    out("operators.jobs") = jobs.count(_.module == "operators").toDouble
    Layers.perModule(out, jobs, 1)
    val batches = tr.batchesIn(t0, t1)
    def trig(b: BatchRec) = b.durationMs.getOrElse("triggerExecution", 0L).toDouble
    out("streaming.batches") = batches.size.toDouble
    out("streaming.batch_s") = batches.map(trig).sum / 1000.0
    out("streaming.state_commit_s") = batches.map(_.stateCommitMs).sum / 1000.0
    out("streaming.state_partitions") =
      if (batches.isEmpty) 0.0 else batches.map(_.statePartitions).max.toDouble
    out("streaming.state_rows") =
      if (batches.isEmpty) 0.0 else batches.map(_.stateRows).max.toDouble
    out("landing.write_s") = secs(landingW)
    out("scores.write_s") = secs(scoresW)
    out("outbreak.state_io_s") = secs(stateIo)
    // a batch's foreachBatch time beyond its landing write is the scoring
    // path: a full fit when it reads the landing zone back
    var fitMs, incMs = 0.0
    var fits = 0
    batches.foreach { b =>
      val bEnd = b.start + trig(b)
      val scoring = b.durationMs.getOrElse("addBatch", 0L) -
        landingW.filter(x => x.end >= b.start && x.end <= bEnd).map(x => x.end - x.start).sum
      val inBatch = acts.filter(x => x.end >= b.start && x.end <= bEnd)
      if (inBatch.exists(_.readPaths.exists(under(_, landing)))) {
        fits += 1; fitMs += scoring
      } else if (scoresW.exists(x => x.end >= b.start && x.end <= bEnd)) incMs += scoring
    }
    out("outbreak.fit_s") = fitMs / 1000.0
    out("outbreak.full_fits") = fits.toDouble
    out("outbreak.increment_s") = incMs / 1000.0
  }

  // ------------------------------------------------------------- checks

  /** Checks the app's outputs against values computed here from the
    * generated lines and, per close, a plain re-scoring with the model
    * persisted at that close. */
  def check(spark: SparkSession, gen: Gen, landing: File, scores: File,
      snapshots: File, closedByIncrement: Range, lastClosed: Int): Seq[Check] = {
    val checks = mutable.ArrayBuffer.empty[Check]
    val regionIdx = gen.regionNames.zipWithIndex.toMap
    val termIdx = Terms.map(_.replace(" ", "_")).zipWithIndex.toMap
    val dayIdx = (0 until gen.days).map(d => gen.date(d).toString -> d).toMap

    val rows = spark.read.parquet(landing.getPath)
      .selectExpr("cast(date as string)", "region", "kw", "value").collect()
    val bad = rows.filter { r =>
      val d = dayIdx(r.getString(0))
      r.getDouble(3) != gen.total(d)(regionIdx(r.getString(1)))(termIdx(r.getString(2))).toDouble
    }
    checks += Check("landing.values", bad.isEmpty,
      s"${bad.length} of ${rows.length} landed values differ from the generated sums" +
        bad.take(3).map(r => s" ${r.toSeq.mkString("/")}").mkString)
    val expectRows = (lastClosed + 1).toLong * gen.regions * Terms.size
    val keys = rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).distinct
    checks += Check("landing.rows", rows.length == expectRows && keys.length == rows.length,
      s"${rows.length} rows (${keys.length} distinct keys), expected $expectRows")
    val openDay = gen.date(lastClosed + 1).toString
    val open = rows.count(_.getString(0) == openDay)
    checks += Check("landing.open_day_empty", open == 0, s"$open rows for open day $openDay")

    val written = spark.read.parquet(scores.getPath)
      .selectExpr("cast(date as string)", "region", "score").collect()
      .map(r => (dayIdx(r.getString(0)), r.getString(1), r.getDouble(2)))
    val weak = written.filter(w => !(math.abs(w._3) > Threshold))
    checks += Check("scores.above_threshold", weak.isEmpty,
      s"${weak.length} of ${written.length} written scores at or below $Threshold")
    // a spike in the history can draw a k-means centre of its own and then
    // score as normal, so only the spikes scored against a fitted model are
    // required among the anomalies
    val anomalies = written.map(w => (w._1, w._2)).toSet
    val scored = gen.spikes.keys.filter { case (d, _) => closedByIncrement.contains(d) }
    val missed = scored.filterNot { case (d, r) => anomalies((d, gen.regionNames(r))) }
    checks += Check("scores.spikes_found", scored.nonEmpty && missed.isEmpty,
      s"${missed.size} of ${scored.size} spikes of the daily phase missing from the anomalies: " +
        missed.map { case (d, r) => s"${gen.date(d)}/${gen.regionNames(r)}" }.mkString(","))

    closedByIncrement.foreach { d =>
      val m = spark.read.parquet(new File(snapshots, s"close-$d").getPath).head()
      val z = rescore(gen, m, d)
      val expect = z.zipWithIndex.collect { case (s, r) if math.abs(s) > Threshold => gen.regionNames(r) }.toSet
      val got = written.filter(_._1 == d).map(w => w._2 -> w._3).toMap
      val borderline = z.zipWithIndex.collect {
        case (s, r) if math.abs(math.abs(s) - Threshold) < 1e-9 => gen.regionNames(r)
      }.toSet
      val setOk = (expect -- borderline) == (got.keySet -- borderline)
      val valueOk = got.forall { case (r, s) =>
        val e = z(regionIdx(r)); math.abs(s - e) <= 1e-6 * math.max(1.0, math.abs(e))
      }
      checks += Check(s"scores.rescored.${gen.date(d)}", setOk && valueOk,
        s"${got.size} written, ${expect.size} recomputed anomalies" +
          (if (setOk) "" else s"; only written: ${(got.keySet -- expect).take(5)}, " +
            s"only recomputed: ${(expect -- got.keySet).take(5)}") +
          (if (valueOk) "" else "; score values differ"))
    }
    checks.toSeq
  }

  /** z-score per region for day `d`: cumulative-average detrend, month
    * one-hot, scaler, PCA basis, nearest centre, mu/sigma — in plain Scala
    * from the model row `OutbreakModel` persisted. */
  def rescore(gen: Gen, m: Row, d: Int): IndexedSeq[Double] = {
    val vocab = m.getAs[collection.Seq[String]]("vocab").toIndexedSeq
    val mean = m.getAs[collection.Seq[Double]]("scalerMean").toIndexedSeq
    val std = m.getAs[collection.Seq[Double]]("scalerStd").toIndexedSeq
    val pc = m.getAs[collection.Seq[collection.Seq[Double]]]("pc").map(_.toIndexedSeq).toIndexedSeq
    val centers = m.getAs[collection.Seq[collection.Seq[Double]]]("centers").map(_.toIndexedSeq)
    val mu = m.getAs[Double]("mu")
    val sigma = m.getAs[Double]("sigma")
    val termOf = Terms.map(_.replace(" ", "_")).zipWithIndex.toMap
    val month = gen.date(d).getMonthValue
    (0 until gen.regions).map { r =>
      val trend = vocab.map { kw =>
        val t = termOf(kw)
        val cum = (0 to d).map(gen.total(_)(r)(t)).sum
        val cma = cum.toDouble / (d + 1)
        if (cma == 0.0) 1.0 else gen.total(d)(r)(t) / cma
      }
      val x = trend ++ (1 to 12).map(mo => if (mo == month) 1.0 else 0.0)
      val scaled = x.indices.map(i => (x(i) - mean(i)) / (if (std(i) == 0.0) 1.0 else std(i)))
      val proj = pc.map(b => scaled.indices.map(i => scaled(i) * b(i)).sum)
      val dist = centers.map(c => proj.indices.map { j => val e = proj(j) - c(j); e * e }.sum).min
      (dist - mu) / sigma
    }
  }

  // ------------------------------------------------------------- helpers

  def waitFor(what: String, seconds: Int)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!cond) {
      if (System.nanoTime() > deadline)
        throw new RuntimeException(s"timed out after ${seconds}s waiting for $what")
      Thread.sleep(5)
    }
  }

  private def listFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq

  private def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles).getOrElse(Array.empty).filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, new File(to, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
