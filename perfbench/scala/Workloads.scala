package graftbench

import graft.automl.{Hyperband, ModelFactory}
import graft.eval.KaplanMeier
import graft.model.{CoxMlp, CoxPH, DeepHit, LogisticHazard, LogisticHazardMlp}
import graft.surv.SurvDataset
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** State shared by a run: the tracer, the operation latencies and the
  * output checks. Operations and checks count only inside a timed unit.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                expected: Map[(String, String), Seq[String]], stateDir: File) {
  var inUnit = false
  val opNs = ArrayBuffer.empty[Long]
  var attempted = 0
  var failed = 0
  val problems = ArrayBuffer.empty[String]

  def recordOp(ns: Long): Unit = if (inUnit) { opNs += ns; attempted += 1 }

  def op[T](f: => T): T = {
    val t0 = System.nanoTime()
    val out = f
    recordOp(System.nanoTime() - t0)
    out
  }

  def failOp(what: String): Unit = if (inUnit) {
    attempted += 1
    failed += 1
    problems += what
  }

  def check(ok: Boolean, what: => String): Unit =
    if (inUnit && !ok) { failed += 1; problems += what }

  def expect(workload: String, key: String): Option[Seq[String]] =
    expected.get((workload, key))

  /** Checks `value` against what the first run of this checkout wrote
    * for the same key and seed, writing it if this is the first run.
    */
  def sameAsFirstRun(key: String, value: String): Unit = if (inUnit) {
    val f = new File(stateDir, s"$key-seed$seed.txt")
    if (f.exists())
      check(new String(Files.readAllBytes(f.toPath), UTF_8) == value,
        s"$key differs from the first run: $value")
    else {
      stateDir.mkdirs()
      Files.write(f.toPath, value.getBytes(UTF_8))
    }
  }
}

trait Workload {
  def name: String
  /** Families whose per-family metrics this workload reports. */
  def families: Seq[String]
  /** Make and load the inputs; repeated to time set-up. */
  def prepare(): Unit
  /** Run the unit's code paths once, untimed, so the timed units run warm. */
  def warmUp(): Unit
  /** One timed unit of work, with its output checks. */
  def unit(): Unit
}

/** Sync Hyperband over the three default linear seeds, then the winner
  * refit; the first unit's full selection state is the reference for
  * later units, later runs with the same seed, and the recorded value.
  */
final class SelectWorkload(run: Run, dataDir: File) extends Workload {
  import SurvTableGen._
  val name = "select"
  val families: Seq[String] = ModelFactory.defaults.map(_.name)
  val Rows = 686
  val MaxIter = 3
  val Eta = 3
  val OutputEpochs = 3
  private val spark = run.spark
  private val path = new File(dataDir, s"select-seed${run.seed}.parquet").getPath
  private var firstState: Option[String] = None

  def prepare(): Unit = {
    val n = write(spark, run.seed, Rows, path)
    require(n == Rows, s"wrote $n rows, expected $Rows")
  }

  private def load(): SurvDataset =
    SurvDataset.fromDataFrame(spark.read.parquet(path), Seq(col(IdCol)),
      TimeCol, EventCol, features = Some(features))

  /** Every family's fit and one score. Scoring is mostly family-
    * independent and costs three fits, so one score warms most of it.
    */
  def warmUp(): Unit = {
    val ds = load()
    ModelFactory.defaults.zipWithIndex.foreach { case (f, i) =>
      val m = f.build(Map.empty, 1).fit(ds)
      if (i == 0) m.score(ds)
      m.release()
    }
  }

  def unit(): Unit = {
    val ds = run.tracer.span("surv.fromDataFrame", "surv")(load())
    val hb = new Hyperband(
      seeds = ModelFactory.defaults.map(new TracedFactory(_, run)),
      maxIter = MaxIter, eta = Eta, outputEpochs = OutputEpochs,
      seedRng = run.seed, parallelism = 1)
    val winner = run.tracer.span("automl.selectModel", "automl")(hb.selectModel(ds))
    val state = SelectWorkload.stateOf(hb)
    println(s"selection $state")
    firstState match {
      case None =>
        firstState = Some(state)
        run.sameAsFirstRun("select", state)
        run.expect(name, s"seed${run.seed}").foreach(e =>
          run.check(e == Seq(state), s"selection state differs from the " +
            s"recorded one: $state"))
      case Some(first) =>
        run.check(state == first, s"selection state differs within the run: $state")
    }
    winner.release()
  }
}

object SelectWorkload {
  /** Winner, params, best score, per-model bests and surviving seeds;
    * doubles print in their shortest round-trip form, so equal strings
    * mean bit-identical values.
    */
  def stateOf(hb: Hyperband): String = {
    def kv(m: Iterable[(String, Any)]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
    s"winner=${hb.bestModel.map(_.name).getOrElse("none")};" +
      s"params=${kv(hb.bestParams)};best=${hb.bestScore};" +
      s"modelBests=${kv(hb.modelBestScore)};" +
      s"seeds=${hb.seeds.map(_.name).mkString(",")}"
  }
}

/** Ingest a 5·10^4-row table, fit and score five families at a fixed
  * epoch budget, and compute one Kaplan-Meier curve. Scoring's per-row
  * cpu dominates at this size; 10^5 rows took over two minutes a run.
  */
final class TrainScoreWorkload(run: Run, dataDir: File) extends Workload {
  import SurvTableGen._
  val name = "train_score"
  val Rows = 50000
  val WarmRows = 2000
  val Epochs = 3
  private val spark = run.spark
  private val models = Seq(CoxPH(maxIter = Epochs),
    LogisticHazard(maxIter = Epochs), DeepHit(epochs = Epochs),
    CoxMlp(epochs = Epochs), LogisticHazardMlp(epochs = Epochs))
  val families: Seq[String] = models.map(_.name)
  private val path = new File(dataDir, s"train_score-seed${run.seed}.parquet").getPath
  private val warmPath = new File(dataDir, s"train_score-warm-seed${run.seed}.parquet").getPath
  private val firstScores = scala.collection.mutable.Map.empty[String, String]

  def prepare(): Unit = {
    val n = write(spark, run.seed, Rows, path)
    require(n == Rows, s"wrote $n rows, expected $Rows")
  }

  private def load(p: String): SurvDataset =
    SurvDataset.fromDataFrame(spark.read.parquet(p), Seq(col(IdCol)),
      TimeCol, EventCol, features = Some(features))

  /** A pass over a small table of the same shape: same plans, less data. */
  def warmUp(): Unit = {
    write(spark, run.seed, WarmRows, warmPath)
    pass(load(warmPath))
  }

  def unit(): Unit = pass(run.tracer.span("surv.fromDataFrame", "surv")(load(path)))

  private def pass(ds: SurvDataset): Unit = {
    models.foreach { m =>
      try {
        val fitted = run.op(new TracedModel(m, m.name, Epochs, run).fit(ds))
        val s = run.op(fitted.score(ds))
        fitted.release()
        val (c, b) = (s("c_index"), s("brier_score"))
        run.check(c >= 0.0 && c <= 1.0, s"${m.name} c_index $c outside [0, 1]")
        run.check(!b.isNaN && !b.isInfinite, s"${m.name} brier_score $b not finite")
        val state = s"c_index=$c;brier_score=$b"
        if (run.inUnit) firstScores.get(m.name) match {
          case None =>
            println(s"score ${m.name} $state")
            firstScores(m.name) = state
            run.sameAsFirstRun(s"train_score-${m.name}", state)
          case Some(first) =>
            run.check(state == first, s"${m.name} scores differ within the run: $state")
        }
      } catch { case NonFatal(e) => run.failOp(s"${m.name}: $e") }
    }
    try {
      val km = run.op(run.tracer.span("eval.km", "eval")(
        KaplanMeier.curve(ds.df, TimeCol, EventCol).collect()))
      val pts = km.map(r => (r.getAs[Double]("t"), r.getAs[Double]("s"))).sortBy(_._1)
      run.check(pts.nonEmpty && pts.forall { case (_, s) => s >= 0.0 && s <= 1.0 } &&
        pts.sliding(2).forall(w => w.length < 2 || w(1)._2 <= w(0)._2),
        "Kaplan-Meier curve empty, outside [0, 1] or increasing")
    } catch { case NonFatal(e) => run.failOp(s"kaplan_meier: $e") }
  }
}

/** The operator-pack queries, executed like the repo's `Bench.once`
  * (the planned physical tree, not a re-optimised count), in a fixed
  * order: the warm-up runs only some of them, and a seed-set order moved
  * the rest of the JIT warm-up between queries from run to run. Each
  * output's row count and order-independent hash must equal the
  * recorded values.
  */
final class OperatorsWorkload(run: Run, tablesDir: String) extends Workload {
  val name = "operators"
  val families: Seq[String] = Nil
  private val spark = run.spark
  private val tables = new File(tablesDir).list().toSeq
    .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  def prepare(): Unit =
    tables.foreach(t => graft.core.Tables.load(spark, tablesDir, t).count())

  /** Four queries that between them run most of the pack's machinery
    * (graph loop, text dedup loop, text pipeline, vectors): after them
    * the remaining queries' first runs cost little more than warm ones.
    */
  def warmUp(): Unit = OperatorsWorkload.WarmUp.foreach { q =>
    try graft.core.Pins.scoped(execute(q))
    catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up $q: $e") }
    Cleanup.sweep(spark, Set.empty)
  }

  def unit(): Unit = OperatorsWorkload.Queries.foreach { q =>
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try {
      val (n, h) = run.op(run.tracer.span("ops.query", "ops", Map("query" -> q))(
        graft.core.Pins.scoped(execute(q))))
      println(s"query $q rows=$n hash=$h")
      run.expect(name, q) match {
        case Some(Seq(en, eh)) =>
          run.check(n.toString == en && h.toString == eh,
            s"$q: rows=$n hash=$h, recorded rows=$en hash=$eh")
        case _ => run.check(ok = false, s"$q: no recorded rows/hash")
      }
    } catch { case NonFatal(e) => run.failOp(s"$q: $e") }
    Cleanup.sweep(spark, before)
  }

  private def execute(q: String): (Long, Long) = {
    val plan = graft.SparkEntry.queries(q)(spark, tablesDir)
      .queryExecution.executedPlan
    RowHash.countAndHash(plan.execute(), plan.schema)
  }
}

object OperatorsWorkload {
  val Queries: Seq[String] = Seq("q_pagerank", "q_pagerank_personalized",
    "q_dedup_cc", "q_entity_resolution", "q_sim_recall",
    "q_dedup_simhash_pairs_bucketed", "q_text_rep", "q_corpus_training_set",
    "q_sketch_quantiles", "q_profile", "q5_join_chain", "q1_agg",
    "q_stream_hh")
  val WarmUp: Seq[String] = Seq("q_pagerank", "q_dedup_cc",
    "q_corpus_training_set", "q_sim_recall")
}

object RowHash {
  /** Row count and the wrapping sum of each row's XXH64 over its
    * UnsafeRow bytes: equal for equal row multisets in any order or
    * partitioning. Runs as one job over the executed plan.
    */
  def countAndHash(rows: RDD[InternalRow], schema: StructType): (Long, Long) =
    rows.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}

object Cleanup {
  /** Unpersists RDDs persisted since `before` was taken, as the repo's
    * Bench does between queries for persists that bypass its scopes.
    */
  def sweep(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = true))

  /** Drops every cached Dataset and RDD: units start from the same state. */
  def all(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    sweep(spark, Set.empty)
  }
}
