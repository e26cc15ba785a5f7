package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, PythonUDAF, SortOrder}
import org.apache.spark.sql.catalyst.planning.{PhysicalAggregation, ScanOperation}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, LogicalQueryStage, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, PartitionedFileUtil, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.AggUtils
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: sort a small global `orderBy`, run a small global
  * aggregate, and read a small one-split file, in one partition.
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
  * size, or the file scan (a `LogicalRelation`) at the end of a narrow
  * `Project`/`Filter` chain. A persisted frame or a checkpoint is not a
  * scan: the one task would also build the cache or the checkpoint.
  * (Once AQE has built a cache in its own stage, the re-plan sees a
  * finished stage and may coalesce over it.)
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
  * A global aggregate (no grouping key, no distinct) takes the coalesce
  * path only when its input is a finished AQE stage that holds a keyed
  * aggregate's output, within the threshold (q289's frequency-of-
  * frequency pass over its shingle counts): `partial <- CoalesceExec(1,
  * stage)` under the final aggregate, a Dask tree reduction with one
  * level. The partial aggregate then reports `SinglePartition`, so the
  * final aggregate's `AllTuples` needs no `Exchange SinglePartition` and
  * no stage. The gate is narrower than the sort path's because the one
  * task runs the partial aggregate's expressions and everything narrow
  * below it, and a few bytes of input can still be a lot of work: over a
  * round-robin fan-out it would undo the spread that `Tables.fanOut`
  * exists for (q321 tokenizes every document in its sums); over a lazy
  * local checkpoint it would run the checkpoint's last build stage in
  * one task (the edge fingerprint of `ConnectedComponents`, the edge
  * count of `PageRank`); and one task would read a whole persisted
  * frame (q282's md5 projection).
  * A keyed aggregate's rows are already reduced. The stage must have
  * run because AQE never undoes a coalesce picked on a static estimate,
  * so q289's initial plan keeps its exchange and the re-plan drops it.
  * There is no gather path: Spark's own plan already moves only one
  * partial row per partition. Keyed aggregates and windows keep their
  * exchanges unless their input is a one-split scan (below), and a
  * distinct aggregate keeps Spark's plan.
  *
  * A small file scan that reads one split plans as `CoalesceExec(1,
  * scan)` (every sf0.1 fixture table but lineitem: one parquet file, one
  * row group). Spark's `FileSourceScanExec` reports
  * `UnknownPartitioning(0)` even when it has one partition, so every
  * keyed aggregate, window and equi-join over it gets a hash exchange,
  * and every global aggregate or limit an `Exchange SinglePartition`:
  * an extra stage, job and AQE re-plan that buys no parallelism, since
  * its map side is the scan's one task and AQE folds its reduce side
  * back into one partition at these sizes. It is the Dask frame read from
  * one file, `npartitions=1`, whose `groupby().agg` runs as one task.
  * The coalesce reports `SinglePartition`, which satisfies a
  * `ClusteredDistribution`, `AllTuples` and an `OrderedDistribution`,
  * so `EnsureRequirements` adds none of those exchanges; the work below
  * each removed exchange already ran in that task. What the one task
  * gives up (measured over the registry at sf0.1): an aggregate the plan
  * uses several times is computed once per use, since there is no
  * exchange left to reuse (q302); the two sides of a join run one after
  * the other instead of as two concurrent map stages (q131); and work
  * above a row-expanding join loses the post-shuffle tasks AQE gave it
  * (q311's pair ranking). The gate cannot see these from the scan.
  *
  * The gate is the threshold above plus [[splits]], the one split count
  * of the repository: it packs the file index's own listing the way
  * `FileSourceScanExec` does, and the gate asks that it be 1.
  * `Tables.scanWidth` reads the same count to size a fan-out. The gate
  * never asks the planned scan for its RDD (`inputRDD`): that builds the
  * reader, with a broadcast of the Hadoop conf, on every plan and every
  * AQE re-plan, and tripled a workload's planning time when tried. Scans
  * of more than one split or above the threshold keep Spark's plan
  * (lineitem at sf0.1, every sf1 table), and so do bucketed scans (they
  * report their own hash partitioning) and streaming scans (a
  * micro-batch's stateful operators need their own partitioning). A sort
  * whose narrow chain ends in such a one-split scan adds no coalesce of
  * its own: the scan case has already put the chain in one partition.
  *
  * Streaming aggregates are never taken (AQE does not run in a
  * micro-batch, and Spark 4.1's streaming planner plans them with its
  * stateful strategies first); under the opposite order a stateless plan
  * would count each micro-batch on its own. A complete-mode sort over a
  * streaming aggregate keeps the sort path.
  *
  * Install with [[register]] on a live session, or through
  * [[GraftExtensions]] (`injectPlannerStrategy`); both bind this object.
  */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(grouping, aggs, result, child) if !plan.isStreaming &&
        grouping.isEmpty &&
        aggs.forall(a => !a.isDistinct && !a.aggregateFunction.isInstanceOf[PythonUDAF]) &&
        reducedStage(child) =>
      AggUtils.planAggregateWithoutDistinct(Nil, aggs, result, CoalesceExec(1, planLater(child)))
    case Sort(order, true, child, _) if small(child) =>
      val input = planLater(child)
      val one =
        if (scanUnder(child).exists(oneSplitScan)) input // the scan case coalesces it
        else if (inputsKnownSmall(child)) CoalesceExec(1, input)
        else GatherExec(input)
      SortExec(order, global = true, one) :: Nil
    case ScanOperation(_, _, _, l: LogicalRelation) if oneSplitScan(l) =>
      FileSourceStrategy(plan).map(CoalesceExec(1, _))
    case _ => Nil
  }

  private def small(p: LogicalPlan): Boolean = {
    val size = p.stats.sizeInBytes
    size >= 0 && size <= SQLConf.get.autoBroadcastJoinThreshold
  }

  private def inputsKnownSmall(child: LogicalPlan): Boolean =
    child.collectLeaves().forall(leaf => small(leaf) && (materialized(leaf) || scanUnder(child).isDefined))

  private def materialized(leaf: LogicalPlan): Boolean = leaf match {
    case stage: LogicalQueryStage => stage.isMaterialized
    case _ => false
  }

  /** A small finished stage whose rows are a keyed aggregate's output. */
  private def reducedStage(p: LogicalPlan): Boolean = p match {
    case stage: LogicalQueryStage =>
      stage.logicalPlan.isInstanceOf[Aggregate] && materialized(stage) && small(stage)
    case _ => false
  }

  /** The file scan at the end of a `Project`/`Filter` chain. */
  private[graft] def scanUnder(p: LogicalPlan): Option[LogicalRelation] = p match {
    case Project(_, child) => scanUnder(child)
    case Filter(_, child) => scanUnder(child)
    case l: LogicalRelation => Some(l)
    case _ => None
  }

  /** A small file scan that reads one split. */
  private def oneSplitScan(l: LogicalRelation): Boolean = small(l) && splits(l).contains(1)

  /** How many splits a non-bucketed, non-streaming file scan reads,
    * counted from its file index's listing the way `FileSourceScanExec`
    * packs them: each file cut at `FilePartition.maxSplitBytes` for that
    * listing, the pieces sorted largest first and packed by
    * `FilePartition.getFilePartitions`. The index already holds the
    * listing, so this builds no reader, broadcasts no Hadoop conf and
    * runs no job. `None` for any other relation, or an index that is not
    * a listing (`PartitioningAwareFileIndex`). The listing is taken
    * without partition filters, so over a partitioned table it counts
    * the splits of every partition. */
  def splits(l: LogicalRelation): Option[Int] = l match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if !l.isStreaming && fs.bucketSpec.isEmpty =>
      fs.location match {
        case index: PartitioningAwareFileIndex =>
          val spark = fs.sparkSession
          val listing = index.listFiles(Nil, Nil)
          val maxSplit = FilePartition.maxSplitBytes(spark, listing)
          val pieces = listing.flatMap { dir =>
            dir.files.flatMap { file =>
              val path = file.getPath
              PartitionedFileUtil.splitFiles(file, path,
                fs.fileFormat.isSplitable(spark, fs.options, path), maxSplit, dir.values)
            }
          }.sortBy(_.length)(Ordering[Long].reverse)
          Some(FilePartition.getFilePartitions(spark, pieces, maxSplit).size)
        case _ => None
      }
    case _ => None
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
