package graft.tools
object ExplainQ {
  def main(args: Array[String]): Unit = {
    graft.SparkEntry.requireQueries("explain", args.drop(1))
    val spark = graft.GraftSession.local()
    // formatted explain of every named query, in order — the plan-
    // evidence format the optimization rounds commit under plans/
    args.drop(1).foreach { q =>
      println(s"==== $q ====")
      val df = graft.SparkEntry.queries(q)(spark, args(0))
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
