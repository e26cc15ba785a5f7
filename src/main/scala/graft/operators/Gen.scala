package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Generation management for iterative DataFrame operators (CC, KCore,
  * PageRank, [[MinPlus]], the Lloyd loops): every generation is cut with
  * `localCheckpoint` and the superseded one is released through
  * [[release]].
  *
  * Why a local checkpoint and not `persist`: the checkpoint truncates the
  * lineage twice over. The LOGICAL plan becomes a `LogicalRDD` leaf, so a
  * round that references its input more than once (CC's star rewrites,
  * KCore's degree aggregate + edge filter) does not double its plan per
  * round — exponential analyzer time. And the RDD lineage itself is cut
  * (`markCheckpointed` clears the dependency list), so a superseded
  * generation's ShuffleDependencies, and their shuffle files, become
  * unreachable with it. A persist keeps both: the r17/r18 sf100 PageRank
  * receipts died of ~60 GB of shuffle files chained to the live
  * generation, which no `System.gc()` could free until the loop exited.
  *
  * Why release explicitly: `localCheckpoint` hides its block RDD, and
  * ContextCleaner reclaims it only after a GC, which never runs inside a
  * tight driver loop — the r11 q269 postmortem measured that
  * accumulation as geometric per-iteration cost growth across 25
  * generations. The handle is recoverable from the frame's own plan
  * ([[blocks]]). Release a generation the moment its successor is
  * materialized, and leave the final one live: the returned result scans
  * it. A fault-tolerant production run swaps reliable `checkpoint()`
  * against a checkpoint dir — same shape, released by deleting the dir.
  */
private[graft] object Gen {

  /** The block RDDs behind a frame's `LogicalRDD` leaves; for a
    * checkpoint frame, its one handle. Counting it is one job, where
    * `Dataset.count()` would plan an aggregate and add an AQE map-stage
    * job. */
  def blocks(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Release the blocks behind a checkpoint frame now rather than at the
    * next GC — in a single 331-query bench JVM that can be queries later.
    * No-op on frames whose plan holds no `LogicalRDD` leaf, and on frames
    * of a stopped SparkContext: its blocks died with it, and unpersisting
    * through its torn-down block manager throws. */
  def release(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped)
      blocks(df).foreach(_.unpersist(blocking = false))
}
