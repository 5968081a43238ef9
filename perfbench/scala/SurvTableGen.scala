package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.util.Random

/** Seeded survival table in the GBSG2 shape: an id, mixed categorical
  * and numeric covariates, a right-censored integer time and an event
  * flag. A proportional-hazards signal is planted: higher grade, more
  * positive nodes and larger tumours raise the hazard; hormone therapy
  * and progesterone receptors lower it. Event times are Weibull
  * (shape 1.3), censoring is uniform administrative follow-up.
  *
  * The same (seed, rows) gives the same table on any JVM: the draws come
  * from java.util.Random and the transcendental calls from StrictMath.
  */
object SurvTableGen {
  val IdCol = "pid"
  val TimeCol = "time"
  val EventCol = "cens"

  val schema: StructType = StructType(Seq(
    StructField(IdCol, LongType, nullable = false),
    StructField("horTh", StringType, nullable = false),
    StructField("age", IntegerType, nullable = false),
    StructField("menostat", StringType, nullable = false),
    StructField("tsize", IntegerType, nullable = false),
    StructField("tgrade", StringType, nullable = false),
    StructField("pnodes", IntegerType, nullable = false),
    StructField("progrec", IntegerType, nullable = false),
    StructField("estrec", IntegerType, nullable = false),
    StructField(TimeCol, IntegerType, nullable = false),
    StructField(EventCol, IntegerType, nullable = false)))

  /** Covariates, sorted by name; the id is an order key, not a feature. */
  val features: Seq[String] =
    schema.fieldNames.toSeq.diff(Seq(IdCol, TimeCol, EventCol)).sorted

  private val Grades = Array("I", "II", "III")

  def rows(seed: Long, n: Int): java.util.List[Row] = {
    val rng = new Random(seed)
    val out = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) {
      val age = 21 + rng.nextInt(60)
      val menostat = if (age + rng.nextInt(11) - 5 >= 50) "Post" else "Pre"
      val horTh = if (rng.nextDouble() < 0.36) "yes" else "no"
      val tgrade = Grades(rng.nextInt(3))
      val tsize = 3 + rng.nextInt(118)
      val pnodes = 1 + (StrictMath.floor(-StrictMath.log(1.0 - rng.nextDouble()) * 5.0)).toInt
      val progrec = rng.nextInt(1000)
      val estrec = rng.nextInt(1000)
      val lp = 0.45 * Grades.indexOf(tgrade) + 0.05 * math.min(pnodes, 30) +
        0.006 * tsize - 0.35 * (if (horTh == "yes") 1.0 else 0.0) -
        0.0008 * progrec
      // Weibull(shape k, scale λ·exp(-lp/k)) by inversion
      val u = 1.0 - rng.nextDouble()
      val tEvent = 1800.0 * StrictMath.pow(-StrictMath.log(u) /
        StrictMath.exp(lp), 1.0 / 1.3)
      val tCens = 72.0 + rng.nextDouble() * 2600.0
      val event = if (tEvent <= tCens) 1 else 0
      val time = math.max(1, math.min(tEvent, tCens).toInt)
      out.add(Row(i.toLong, horTh, age, menostat, tsize, tgrade, pnodes,
        progrec, estrec, time, event))
      i += 1
    }
    out
  }

  /** Writes the table as parquet and reads it back; returns its row count. */
  def write(spark: SparkSession, seed: Long, n: Int, path: String): Long = {
    spark.createDataFrame(rows(seed, n), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()
  }
}
