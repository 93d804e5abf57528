package graft

import org.apache.spark.sql.DataFrame

/** Dev tool: print the plan that ran for registered queries
  * (`runMain graft.PlanDump <dir> <name> [name...]`) — the explain
  * audit loop SURVEY §5a's plan evidence comes from.
  */
object PlanDump {

  /** Run the frame's own QueryExecution and return its executed plan:
    * the AQE-final plan (`isFinalPlan=true`, with AQE's runtime
    * rewrites such as AQEShuffleRead and ReusedExchange), not the
    * initial plan a separate write would re-plan and run.
    */
  def executed(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.execute().foreach(_ => ())
    plan.toString.split("== Initial Plan ==")(0)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- args.drop(1)) {
      println(s"===== $name =====")
      println(executed(SparkEntry.queries(name)(spark, dir)))
    }
    spark.stop()
  }
}
