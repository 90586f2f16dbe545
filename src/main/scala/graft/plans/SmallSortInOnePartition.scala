package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, Sort, Tail, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: sort a small, already-materialized
  * result in ONE partition instead of range-partitioning it.
  *
  * A global `Sort` plans as a range exchange, and the
  * RangePartitioner behind it runs a sampling job that re-executes the
  * exchange's child just to pick partition bounds. When the child is
  * already settled — built only from materialized query stages
  * through Project, Filter, Aggregate, Window and WindowGroupLimit,
  * none of which adds rows — its runtime size is known,
  * and at or under `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * AQE would coalesce the range shuffle into one partition anyway.
  * Rewriting the child to `Repartition(1)` plans a single-partition
  * exchange plus the sort: the same rows in the same order, one
  * partition, and no sampling job.
  *
  * It leaves alone:
  *  - sorts under a limit, offset or tail: those plan as a top-k and
  *    have no range exchange to remove;
  *  - sorts over a join: a join's size estimate is a product, not a
  *    bound;
  *  - a child that is already one partition (which is also what
  *    keeps the rule from wrapping its own output again);
  *  - sessions with partition coalescing off, whose range shuffles
  *    keep the partition count they were given.
  * Only AQE runs runtime rules, so streaming micro-batches (AQE off)
  * are unaffected.
  */
object SmallSortInOnePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => plan
    case s: Sort if s.global && settledAndSmall(s.child) =>
      s.copy(child = Repartition(1, shuffle = true, s.child))
    case _ => plan.mapChildren(apply)
  }

  private def settledAndSmall(child: LogicalPlan): Boolean = {
    def settled(p: LogicalPlan): Boolean = p match {
      case q: LogicalQueryStage =>
        q.isMaterialized && q.physicalPlan.outputPartitioning != SinglePartition
      case _: Project | _: Filter | _: Aggregate | _: Window | _: WindowGroupLimit =>
        settled(p.children.head)
      case _ => false
    }
    val conf = SQLConf.get
    conf.coalesceShufflePartitionsEnabled && settled(child) &&
      child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }
}
