package graft.tools

import graft.{Bench, SparkEntry}

/** Where one query's time goes, measured under Bench's contract: the
  * shared ChurnView setup runs before any scope, then ONE Pins scope
  * spans a cold and two warm runs, then Bench's persistent-RDD sweep.
  *
  * Per run it prints the driver phases — build (DataFrame construction
  * and analysis, including any eager operator loops), optimize,
  * physical planning, execution of the full planned tree — the Spark
  * job and stage counts, and the task decomposition
  * (execCpuS|spillMB|tasks, executor run, gc and shuffle-fetch-wait
  * seconds). Then the per-stage table of the last run, so JIT and
  * codegen warmup are excluded, sorted by cpu; then cold and warm-min.
  *
  * Usage: runMain graft.tools.Probe <sfDir> <query> [query ...]
  * Env: SPARK_GRAFT_CPUS and SPARK_GRAFT_SHUFFLE, as for Bench.
  */
object Probe {
  private val Runs = 3

  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args.toSeq.drop(1))
    SparkEntry.requireQueries("probe", names)
    val (spark, listener) = Bench.session()
    try graft.surv.ChurnView.dataset(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[probe] setup: $e") }
    val setupIds = spark.sparkContext.getPersistentRDDs.keySet
    names.foreach { q =>
      val walls = Bench.swept(spark, setupIds) {
        (0 until Runs).map { r =>
          listener.clearStages()
          val (phaseMs, wall, d) = listener.window(spark) {
            val t0 = System.nanoTime()
            val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
            val t1 = System.nanoTime()
            qe.optimizedPlan
            val t2 = System.nanoTime()
            val plan = qe.executedPlan
            val t3 = System.nanoTime()
            plan.execute().count()
            Seq(t1 - t0, t2 - t1, t3 - t2, System.nanoTime() - t3)
              .map(_ / 1000000L)
          }
          val Seq(buildMs, optimizeMs, planMs, execMs) = phaseMs
          println(f"PROBE $q run=$r wall=$wall%.2f buildMs=$buildMs " +
            s"optimizeMs=$optimizeMs planMs=$planMs execMs=$execMs " +
            s"jobs=${d.jobs} stages=${d.stages} " +
            f"execCpuS|spillMB|tasks=${d.cpuS}%.2f|${d.spillMB}|${d.tasks} " +
            f"execRunS=${d.runMs / 1e3}%.2f gcS=${d.gcMs / 1e3}%.2f " +
            f"fetchWaitS=${d.fetchWaitMs / 1e3}%.2f")
          wall
        }
      }
      listener.stageTable().sortBy(-_._2.cpuMs).foreach { case (id, s) =>
        println(f"PROBE_STAGE $q sid=$id tasks=${s.tasks}%4d " +
          f"cpuMs=${s.cpuMs}%6d runMs=${s.runMs}%6d " +
          f"srMB=${s.shuffleReadBytes / 1e6}%.1f " +
          f"swMB=${s.shuffleWriteBytes / 1e6}%.1f " +
          f"rows=${s.rows}%8d  ${s.name}")
      }
      println(f"PROBE $q cold=${walls.head}%.2f warm-min=${walls.tail.min}%.2f")
    }
    spark.stop()
  }
}
