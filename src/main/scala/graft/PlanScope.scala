package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Conf-scoped planning for driver loops — the round-15 isolation fix
  * for the one defect class round 14 shipped: `withStaticPlan` used
  * to SET `spark.sql.adaptive.enabled=false` and pin
  * `spark.sql.shuffle.partitions` on the caller's session and restore
  * them in a finally. Safe when queries run serially (the bench
  * harness), wrong for a library: any query a caller plans on the
  * same session WHILE a graph/cluster/dedup loop runs would silently
  * inherit AQE-off and 2-4 shuffle partitions — cross-query plan
  * contamination, exactly what the loop law exists to avoid.
  *
  * The fix: run the loop body against a conf-isolated CLONE of the
  * session ([[Bridge.cloneSession]] — same SparkContext, shared
  * external catalog, shared block manager, cloned session state, so
  * the caller's time zone / ANSI mode / graft.* strategy keys all
  * carry). The loop's conf lives and dies with the clone; the
  * caller's session is never written. PlanScopeSpec pins the
  * contract: during a scope, a query planned on the PARENT session
  * keeps session AQE and session shuffle partitions.
  *
  * Frames cross the boundary explicitly:
  *  - inputs built on the parent are rebound into the scope with
  *    [[rebind]] (re-root the analyzed plan on the clone — plan
  *    surgery only, no job, no copy; materialized frames are a
  *    single LogicalRDD leaf and share the same blocks);
  *  - the scope's RESULT is rebound back to the parent before
  *    returning, so downstream composition plans under the caller's
  *    own conf (a returned frame must never smuggle loop conf out).
  *
  * Storage is context-level, so [[Materialize.release]] on a
  * rebound frame frees the same blocks it always did.
  */
object PlanScope {

  /** Re-root `df`'s analyzed plan on `session`, so plans DERIVED
    * from the returned frame are planned under `session`'s conf.
    * Identity when already there. The analyzed tree is reused by
    * reference (analysis is idempotent on a resolved plan), so
    * LogicalRDD leaves keep their RDDs — zero data movement.
    */
  def rebind(session: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else Bridge.ofRows(session, df.queryExecution.analyzed)

  /** Run `body` with AQE off and `spark.sql.shuffle.partitions`
    * pinned to `parts` (the [[operators.Graph.loopShufflePartitions]]
    * law), on a conf-isolated clone of `spark`; the result is rebound
    * to `spark` before returning. The body receives the scoped
    * session and must build its plans against it (rebinding any
    * parent-built inputs via [[rebind]]).
    */
  def static(spark: SparkSession, parts: Int)(body: SparkSession => DataFrame): DataFrame = {
    val loop = Bridge.cloneSession(spark)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions", parts.toString)
    rebind(spark, body(loop))
  }
}
