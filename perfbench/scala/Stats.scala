package graftbench

/** Figures over a run's timed units: per-unit medians for the
  * end-to-end metrics, per-unit means over spans for the layers.
  */
final class Stats(listener: BenchListener, tracer: Tracer, units: Seq[Main.UnitObs]) {
  private val n = units.size.toDouble

  def window(u: Main.UnitObs): Seq[Task] =
    listener.synchronized(listener.tasks.slice(u.from.tasks, u.to.tasks).toSeq)

  def median(f: Main.UnitObs => Double): Double = Stats.median(units.map(f))
  def mean(f: Main.UnitObs => Double): Double = units.map(f).sum / n

  def perLayer(families: Seq[String], queries: Seq[String]): Seq[(String, Double, String)] = {
    val spans = tracer.spans.toSeq
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)
    val (ownJobs, ownCpu) = Stats.bySpan(listener)
    def incl(s: Span, own: Long => Double): Double =
      own(s.id) + children(s.id).map(incl(_, own)).sum
    def jobs(s: Span) = incl(s, id => ownJobs.getOrElse(id, 0).toDouble)
    def cpu(s: Span) = incl(s, id => ownCpu.getOrElse(id, 0L) / 1e9)
    def self(s: Span) = s.seconds - children(s.id).map(_.seconds).sum
    def named(name: String) = spans.filter(_.name == name)
    def per(xs: Seq[Double]) = xs.sum / n
    def family(s: Span) = s.attrs.getOrElse("family", "")
    def epochs(s: Span) = s.attrs.getOrElse("epochs", "0").toDouble

    val builds = named("surv.fromDataFrame")
    val fits = named("model.fit")
    val scores = named("eval.score")
    val selects = named("automl.selectModel")
    val refits = selects.flatMap(s => children(s.id).filter(_.name == "model.fit").lastOption)
    val configs = selects.flatMap(s => children(s.id).filter(_.name == "eval.score"))
    val query = named("ops.query").groupBy(_.attrs("query"))

    val surv = Seq(
      ("surv.build_s", per(builds.map(_.seconds)), "s"),
      ("surv.build_jobs", per(builds.map(jobs)), "count"),
      ("surv.build_cpu_s", per(builds.map(cpu)), "s"))
    val model = Seq(
      ("model.fit_s", per(fits.map(_.seconds)), "s"),
      ("model.fit_cpu_s", per(fits.map(cpu)), "s"),
      ("model.fit_jobs", per(fits.map(jobs)), "count"),
      ("model.fit_count", fits.size / n, "count"),
      ("model.release_s", per(named("model.release").map(_.seconds)), "s")) ++
      families.flatMap { f =>
        val fs = fits.filter(family(_) == f)
        Seq((s"model.fit_s.$f", per(fs.map(_.seconds)), "s"),
          (s"model.jobs_per_epoch.$f",
            Stats.ratio(fs.map(jobs).sum, fs.map(epochs).sum), "jobs/epoch"))
      }
    val eval = Seq(
      ("eval.score_s", per(scores.map(_.seconds)), "s"),
      ("eval.score_cpu_s", per(scores.map(cpu)), "s"),
      ("eval.score_jobs", per(scores.map(jobs)), "count"),
      ("eval.jobs_per_score", Stats.ratio(scores.map(jobs).sum, scores.size), "jobs/score"),
      ("eval.km_s", per(named("eval.km").map(_.seconds)), "s")) ++
      families.map(f => (s"eval.score_s.$f",
        per(scores.filter(family(_) == f).map(_.seconds)), "s"))
    val automl = Seq(
      ("automl.configs", configs.size / n, "count"),
      ("automl.refit_s", per(refits.map(_.seconds)), "s"))
    val ops = queries.flatMap { q =>
      val qs = query.getOrElse(q, Nil)
      Seq((s"ops.${q}_s", per(qs.map(_.seconds)), "s"),
        (s"ops.${q}_jobs", per(qs.map(jobs)), "count"),
        (s"ops.${q}_cpu_s", per(qs.map(cpu)), "s"))
    }
    // self times: each layer's spans minus their children; with the
    // units' root spans ("bench") they sum to the traced wall time
    val selfTimes = Seq("bench", "surv", "model", "eval", "automl", "ops").map { l =>
      (s"$l.self_s", per(spans.filter(_.layer == l).map(self)), "s")
    }
    val spark = Seq(
      ("spark.busy_s", mean(u => Stats.busyMs(window(u)) / 1e3), "s"),
      ("spark.idle_s", mean(u => u.wallNs / 1e9 - Stats.busyMs(window(u)) / 1e3), "s"),
      ("spark.max_task_s", units.map(u =>
        window(u).map(t => t.finishMs - t.launchMs).foldLeft(0L)(math.max)).max / 1e3, "s"),
      ("spark.stages", mean(u => (u.to.stages - u.from.stages).toDouble), "count"),
      ("spark.gc_s", mean(u => window(u).map(_.gcMs).sum / 1e3), "s"),
      ("spark.fetch_wait_s", mean(u => window(u).map(_.fetchWaitMs).sum / 1e3), "s"),
      ("spark.shuffle_mb", mean(u => window(u).map(_.shuffleWriteBytes).sum / 1e6), "MB"),
      ("spark.spill_mb", mean(u => window(u).map(_.spillBytes).sum / 1e6), "MB"),
      ("spark.cache_mb_end", median(_.cacheMb), "MB"))
    val trace = Seq(
      ("trace.wall_s", median(_.wallNs / 1e9), "s"),
      ("trace.spans", spans.size / n, "count"))
    surv ++ model ++ eval ++ automl ++ ops ++ selfTimes ++ spark ++ trace
  }
}

object Stats {
  /** Linear interpolation between closest ranks (NaN when empty). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Length of the union of the tasks' run intervals, in ms. */
  def busyMs(ts: Seq[Task]): Double = {
    var busy = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    ts.map(t => (t.launchMs, t.finishMs)).sorted.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) busy += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) busy += hi - lo
    busy.toDouble
  }

  /** Jobs and executor cpu ns per span id, from the listener's records. */
  def bySpan(l: BenchListener): (Map[Long, Int], Map[Long, Long]) = l.synchronized {
    val jobs = l.jobSpans.groupBy(identity).map { case (k, v) => k -> v.size }
    val cpu = l.tasks.groupBy(l.spanOfTask).map { case (k, v) => k -> v.map(_.cpuNs).sum }
    (jobs, cpu)
  }
}
