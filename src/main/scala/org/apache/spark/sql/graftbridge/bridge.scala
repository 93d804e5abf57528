package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 scopes `classic.ExpressionUtils` as `private[sql]`; a
  * library that ships native Catalyst expressions needs exactly this
  * pair of conversions, so it exposes them from inside the sql
  * package — the established pattern for Spark extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a LogicalPlan on `spark` (runs the full
    * analyzer): how [[graft.PlanScope.rebind]] moves a frame's plan
    * to another session.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Conf-isolated twin of `spark`: same SparkContext, shared
    * external catalog and cached data, and — unlike `newSession()` —
    * a CLONE of the session state, so every runtime conf the caller
    * set (time zone, ANSI mode, graft.* strategy keys), registered
    * function and temp view carries over. `cloneSession` is
    * `private[sql]`, hence exposed from inside the package. Used by
    * graft's driver loops to pin AQE/shuffle-partition settings for
    * a loop's plans WITHOUT mutating the caller's session (a
    * concurrent query on the caller's session must never see the
    * loop's conf).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Block until the listener bus has delivered every queued event
    * (`SparkContext.listenerBus` is `private[spark]`, hence exposed
    * from inside the package): the DETERMINISTIC settle point for
    * job-count assertions — sleep-polling a counter can under-count
    * on a loaded host when delivery lags the poll window (the r13
    * advisory; GraphSpec's cold job budget settles here).
    */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMs: Long = 60000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
