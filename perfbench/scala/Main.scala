package graftbench

import graft.automl.ModelFactory
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Runs one workload and prints its metrics as the last stdout line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --cores C --root REPO --build DIR
  *
  * Set-up (making and loading the inputs) runs [[Main.SetupReps]] times
  * and reports the median; a warm-up pass follows; then whole units of
  * work run back to back, one caller, as many as fit in `seconds` (at
  * least one). End-to-end figures are per-unit medians; per-layer
  * figures (`--trace 1`) are per-unit means over the traced spans.
  */
object Main {
  val SetupReps = 3

  final case class UnitObs(wallNs: Long, from: Mark,
                           to: Mark, cacheMb: Double)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val root = new File(opts("root"))
    val build = new File(opts("build"))

    val t0 = System.nanoTime()
    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = conf.foldLeft(SparkSession.builder().appName("graft-perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.config("spark.sql.warehouse.dir", new File(build, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)

    val tracer = new Tracer(traced, sc)
    val run = new Run(spark, tracer, seed,
      Expected.load(new File(root, "perfbench/expected.tsv")),
      new File(build, "state"))
    val dataDir = new File(build, "data")
    dataDir.mkdirs()
    val w: Workload = workload match {
      case "select" => new SelectWorkload(run, dataDir)
      case "train_score" => new TrainScoreWorkload(run, dataDir)
      case "operators" =>
        new OperatorsWorkload(run, new File(root, "perfbench/data/sf0.01").getPath)
      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }

    def timed(f: => Unit): Double = {
      val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
    }
    val setupS = (1 to SetupReps).map(_ => timed(w.prepare()))
    val warmupS = timed { w.warmUp(); Cleanup.all(spark) }

    val units = ArrayBuffer.empty[UnitObs]
    val loopStart = System.nanoTime()
    do {
      Bus.drain(sc)
      val from = listener.mark()
      run.inUnit = true
      val u0 = System.nanoTime()
      try tracer.root(w.name)(w.unit())
      catch { case NonFatal(e) => run.failOp(s"${w.name} unit: $e") }
      val wall = System.nanoTime() - u0
      run.inUnit = false
      Bus.drain(sc)
      val to = listener.mark()
      val cacheMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      Cleanup.all(spark)
      units += UnitObs(wall, from, to, cacheMb)
    } while ((System.nanoTime() - loopStart + units.last.wallNs) / 1e9 <= seconds)

    val stats = new Stats(listener, tracer, units.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("wall_s", stats.median(_.wallNs / 1e9), "s"),
        ("op_p50_s", Stats.percentile(run.opNs.map(_ / 1e9).toSeq, 0.5), "s"),
        ("op_p90_s", Stats.percentile(run.opNs.map(_ / 1e9).toSeq, 0.9), "s"),
        ("cpu_s", stats.median(u => stats.window(u).map(_.cpuNs).sum / 1e9), "s"),
        ("jobs", stats.median(u => (u.to.jobs - u.from.jobs).toDouble), "count"),
        ("tasks", stats.median(u => stats.window(u).size.toDouble), "count"))
      else stats.perLayer((ModelFactory.defaults.map(_.name) ++ w.families).distinct,
        OperatorsWorkload.Queries) ++ Seq(
        ("bench.session_s", sessionS, "s"),
        ("bench.warmup_s", warmupS, "s"))

    if (traced) writeSpans(new File(build, s"traces/$workload-seed$seed.jsonl"),
      tracer, listener, workload, seed)
    val opsCount = run.opNs.size
    println("conf " + Json.obj(conf.map { case (k, v) => k -> Json.str(v) }))
    println(f"phases session_s $sessionS%.2f setup_s ${setupS.map(v => f"$v%.2f").mkString(",")} " +
      f"warmup_s $warmupS%.2f timed_s ${(System.nanoTime() - loopStart) / 1e9}%.2f")
    println(s"units ${units.size} ops $opsCount shuffle_mb " +
      s"${stats.median(u => stats.window(u).map(_.shuffleWriteBytes).sum / 1e6)} " +
      s"spill_mb ${stats.median(u => stats.window(u).map(_.spillBytes).sum / 1e6)} " +
      s"cache_mb_end ${stats.median(_.cacheMb)} " +
      s"error_rate ${run.failed.toDouble / math.max(run.attempted, 1)}")
    run.problems.foreach(p => println(s"check failed: $p"))
    val attempted = math.max(run.attempted, 1)
    println(Json.obj(Seq(
      "correct" -> (run.failed == 0 && run.attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> math.min(run.failed, attempted).toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, unit) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
    spark.stop()
  }

  private def writeSpans(f: File, tracer: Tracer, listener: BenchListener,
                         workload: String, seed: Long): Unit = {
    f.getParentFile.mkdirs()
    val (jobs, cpu) = Stats.bySpan(listener)
    val runId = s"$workload-seed$seed-${System.currentTimeMillis()}"
    val t0 = tracer.spans.headOption.fold(0L)(_.start)
    val lines = tracer.spans.map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer),
        "start_s" -> Json.num((s.start - t0) / 1e9),
        "end_s" -> Json.num((s.end - t0) / 1e9),
        "own_jobs" -> jobs.getOrElse(s.id, 0).toString,
        "own_cpu_s" -> Json.num(cpu.getOrElse(s.id, 0L) / 1e9)) ++
        s.attrs.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })
    }
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Recorded outputs: tab-separated `workload key value...` lines. */
object Expected {
  def load(f: File): Map[(String, String), Seq[String]] =
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), UTF_8).split('\n').toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t').toSeq)
      .collect { case w +: k +: vs => (w, k) -> vs }.toMap
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
