package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on (Bench, Verify and
  * the tools), so a tool's number is a Bench number by construction,
  * plus the one validated reader for the numeric `SPARK_GRAFT_*` knobs.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or every core of the host when unset. */
  def cpus: Int =
    positiveEnv("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  /** The two-argument `local` at shuffle width `cpus`. */
  def local(cpus: Int = GraftSession.cpus): SparkSession = local(cpus, cpus)

  /** `local[cpus]` with the engine's pinned conf.
    *
    * r19: advisory-size AQE coalescing. parallelismFirst=false is
    * Spark's own production recommendation ("respect the configured
    * target size"): reducer count derives from shuffle BYTES (advisory
    * 64 MB default), so a KB-sized aggregate no longer fans out to
    * `cpus` reducers paying ~60 ms fixed cpu each (measured:
    * q_corpus_training_set 22→0.4 execCpuS), while a 100-TB shuffle
    * still fills every core — width ∝ data at every scale. The
    * cached-plan knob extends the same sizing to operator pins
    * (InMemoryRelation otherwise freezes session-width partitions:
    * q_dedup_ngram_jaccard 2.3→0.0 execCpuS, 66→4 tasks); explicit
    * repartition(N)/repartitionByRange(N) calls (StableOrder, the loop
    * pins) are REPARTITION_BY_NUM origins AQE never coalesces, so every
    * spec-pinned partitioning contract is untouched
    * (OPTIMIZATION_r19.md has the A/B boards).
    *
    * FAIR lets Hyperband's concurrent configs (one pool tag each)
    * interleave; a job with no pool property lands in Spark's FIFO
    * `default` pool, so a single caller schedules exactly as under FIFO.
    * events.parquet stores timestamp[ns]; `nanosAsLong` reads it as
    * LongType nanos (graft.core.Tables converts back).
    */
  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The positive integer in environment variable `name`, or `default`
    * (evaluated only then) when it is unset.
    */
  private[graft] def positiveEnv(name: String, default: => Int): Int =
    positive(name, sys.env.get(name), default)

  /** [[positiveEnv]] over an explicit raw value: anything that is not a
    * positive integer throws, naming the variable and the value.
    */
  private[graft] def positive(name: String, raw: Option[String],
                              default: => Int): Int = raw match {
    case None => default
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
  }
}
