package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, LogicalQueryStage, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: sort a small global `orderBy` in one partition.
  *
  * Spark plans every global sort as `Exchange rangepartitioning(order,
  * shuffle.partitions)`, and `RangePartitioner` first runs a sampling job
  * that evaluates the sort's whole input stage once more just to pick
  * the range bounds. For a result of a few hundred rows that is a second
  * pass over the input, after which AQE coalesces the output into one
  * partition anyway. So a global `Sort` whose input is small is sorted
  * in one task instead, on one of two paths. It is the Dask `set_index`
  * trade: quantile divisions cost a full pass, so a frame that fits in
  * one partition is sorted as one partition.
  *
  *  - Coalesce: `SortExec(global, CoalesceExec(1, child))`, when the
  *    inputs of the segment under the sort are known to be small. The
  *    narrow coalesce reports `SinglePartition`, so no exchange is added
  *    and no stage is started: the segment's last stage reads all its
  *    input in one task and sorts it there. That task also runs the
  *    narrow work under the coalesce, which is why its inputs must be
  *    small.
  *  - Gather: `SortExec(global, GatherExec(child))` otherwise. The rows
  *    move whole to one task through an `Exchange SinglePartition`,
  *    which samples nothing.
  *
  * "Small" is `sizeInBytes <= spark.sql.autoBroadcastJoinThreshold`,
  * Spark's existing line for "small enough to move whole to one place"
  * (a broadcast ships the same bytes to every executor). There is no new
  * knob, and a threshold of `-1` turns the strategy off with broadcasts.
  * The inputs are known small when every leaf under the sort is small
  * and is either a stage AQE has already run, whose size is its runtime
  * size, or the scan at the end of a narrow `Project`/`Filter` chain.
  *
  * Safe at scale because the decision is re-made on runtime statistics:
  * AQE re-plans the remaining logical plan through the session planner
  * after each stage, where a finished stage's `LogicalQueryStage` reports
  * its real output size. A sort over a join whose static estimate is far
  * above the threshold (q13's non-equi join) is sorted in one partition
  * once the stage below it has run and shown a small result; a sort
  * whose input really is large keeps range partitioning, so the 100 TB
  * plans do not change. Like a broadcast, the rule trusts the estimate
  * when no stage boundary lies between the scan and the sort.
  *
  * The coalesce path waits for a materialized stage because AQE adopts a
  * re-plan only if it has no more shuffles than the current plan. A
  * coalesce chosen on a static estimate could never be undone once the
  * real size is known, while a gather chosen on one becomes a coalesce
  * (one shuffle fewer) as soon as the stage below has run. So the
  * initial plan of a query with an exchange under the sort gathers.
  *
  * A sort under a `Limit` never reaches this strategy: the planner works
  * top-down, and `SpecialLimits` plans the limit and its sort together
  * as `TakeOrderedAndProject`.
  *
  * Install with [[register]] on a live session, or through
  * [[GraftExtensions]] (`injectPlannerStrategy`); both bind this object.
  */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if small(child) =>
      val input = planLater(child)
      val one = if (inputsKnownSmall(child)) CoalesceExec(1, input) else GatherExec(input)
      SortExec(order, global = true, one) :: Nil
    case _ => Nil
  }

  private def small(p: LogicalPlan): Boolean = {
    val size = p.stats.sizeInBytes
    size >= 0 && size <= SQLConf.get.autoBroadcastJoinThreshold
  }

  private def inputsKnownSmall(child: LogicalPlan): Boolean =
    child.collectLeaves().forall(leaf => small(leaf) && (materialized(leaf) || narrow(child)))

  private def materialized(leaf: LogicalPlan): Boolean = leaf match {
    case stage: LogicalQueryStage => stage.isMaterialized
    case _ => false
  }

  /** A `Project`/`Filter` chain down to one leaf that is not a stage. */
  private def narrow(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => narrow(child)
    case Filter(_, child) => narrow(child)
    case _: LogicalQueryStage => false
    case leaf => leaf.children.isEmpty
  }

  /** Idempotently install on a live session. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ this
    }
}

/** Moves its child's rows into one partition and passes them through.
  *
  * It requires `AllTuples` rather than shuffling itself, so
  * `EnsureRequirements` decides: a child with more than one partition
  * gets an `Exchange SinglePartition` (no sampling job, unlike a range
  * exchange), and a child already in one partition (a `limit`, an
  * unpartitioned window) gets no exchange at all.
  */
case class GatherExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): GatherExec =
    copy(child = newChild)
}
