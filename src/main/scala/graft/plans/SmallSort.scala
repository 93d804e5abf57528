package graft.plans

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Command, Filter, Generate, LogicalPlan, Project, Repartition, RepartitionOperation, Sort, SubqueryAlias, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small input in one partition instead of range-partitioning it.
  *
  * Spark plans a global `Sort` as a range exchange, whose bounds come
  * from a sampling job that computes the child's last stage once more
  * before the map stage computes it again (`hr_episodes` computed its
  * two-window chain twice). This rule puts a one-partition shuffle
  * under the sort instead: `Sort` over `SinglePartition` needs no range
  * exchange, so the sampling job and the second computation are gone,
  * and the rows come out in the same order. What it costs is the
  * sort's parallelism, so it fires only where that is worth less than
  * the recomputation. The child's estimated size must be at most
  *   - the largest shuffle AQE reads back as one partition anyway:
  *     `coalescePartitions.minPartitionSize` (1 MB) while
  *     `coalescePartitions.parallelismFirst` is on, as by default,
  *     `advisoryPartitionSizeInBytes` when it is off, nothing when
  *     coalescing is off. Nothing is lost there;
  *   - or one advisory partition (64 MB) when the child computes a
  *     `Window`: the sampling job then re-sorts at least the rows the
  *     root sort sorts, and evaluates the window functions again.
  * Measured on the 90 sf0.1 plans that an advisory-size bound alone
  * reached (cold `graft.Bench`, 4 cores): AQE read the range shuffle of
  * 80 back as one partition. Of the other 10, the 5 with a `Window` all
  * got faster in one partition (`q41_rank_funcs` 0.56 → 0.46 s, 4
  * range partitions before). Of the 5 without one, `q29_zorder` (a
  * projected scan, 600k rows) went 0.35 → 0.53 s and
  * `hr_window_sliding` (an aggregate) 0.54 → 0.63 s.
  *
  * Only a root sort is rewritten: one reached from the plan's root (or
  * a write command's query) through `Project`, `Filter`,
  * `SubqueryAlias` and `coalesce` alone, which all keep the order. A
  * sort below anything else is either eliminated later (a join or an
  * aggregate ignores its order) or consumed by a limit, which keeps
  * the `TakeOrderedAndProject` shape; a one-partition shuffle left
  * behind there would only serialize the subtree. The range sort also
  * stays when
  *   - the plan is streaming;
  *   - the child already has the order (a `Range`, say): Spark plans no
  *     exchange for it at all;
  *   - the child is a repartition: its caller chose the partitioning;
  *   - the child has a `Generate`, because `explode` estimates
  *     under-count rows;
  *   - the child is a join: joins estimate the product of their sides,
  *     so the bounds reject them by themselves.
  */
object SmallSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(order, true, child, _) if fits(order, child) =>
      s.copy(child = Repartition(1, shuffle = true, child))
    case _: Project | _: Filter | _: SubqueryAlias | _: Command | _: WriteFiles |
        Repartition(_, false, _) => plan.mapChildren(rewrite)
    case _ => plan
  }

  private def fits(order: Seq[SortOrder], child: LogicalPlan): Boolean = child match {
    case _: RepartitionOperation => false
    case _ =>
      val size = child.stats.sizeInBytes
      !SortOrder.orderingSatisfies(child.outputOrdering, order) &&
        !child.exists(_.isInstanceOf[Generate]) &&
        (size <= onePartitionBytes ||
          size <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) &&
            child.exists(_.isInstanceOf[Window]))
  }

  private def onePartitionBytes: Long =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) 0L
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
