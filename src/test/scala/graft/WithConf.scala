package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Runs a body with one session conf key set, restoring its previous
  * value (or unsetting it) afterwards.
  */
object WithConf {
  def apply[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** Runs a body with [[graft.plans.SmallSort]] in Spark's
  * `spark.sql.optimizer.excludedRules`, so every global sort keeps its
  * range exchange, as it did before the rule. The scale-shape guards
  * plan under it: they assert the shapes that inputs larger than one
  * partition get, which at sf0.001 only this models. Plans must be
  * built (`queryExecution.executedPlan`) inside the body.
  */
object WithRangeSort {
  def apply[T](spark: SparkSession)(body: => T): T =
    WithConf(spark, SQLConf.OPTIMIZER_EXCLUDED_RULES.key, graft.plans.SmallSort.ruleName)(body)
}
