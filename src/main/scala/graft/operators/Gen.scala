package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Generation management for iterative DataFrame operators (CC, KCore,
  * PageRank): explicit cache-and-cut.
  *
  * `cut` materializes a frame into a cache the CALLER holds and returns
  * a frame whose plan is a scan of that cache — lineage truncated, like
  * `localCheckpoint`, but with the persisted RDD handle surfaced so the
  * superseded generation can be released deterministically inside the
  * loop. `localCheckpoint` hides its RDD: its blocks are reclaimed only
  * by GC + ContextCleaner, which never runs inside a tight driver loop —
  * the r11 q269 postmortem measured that accumulation as geometric
  * per-iteration cost growth across 25 generations. MEMORY_AND_DISK:
  * eviction spills instead of dropping, so a released ancestor is never
  * recomputed through.
  *
  * Cost disclosure: `df.rdd` persists DESERIALIZED external `Row`
  * objects — every generation pays a toExternal conversion on write and
  * a toInternal conversion (in `createDataFrame`) on every downstream
  * read, and the cache is larger than `localCheckpoint`'s serialized
  * InternalRow blocks. That tax is accepted deliberately: the frames cut
  * here are node-sized (|V| rows, a few columns), orders of magnitude
  * smaller than the edge frames the loops scan, and no public API
  * surfaces an InternalRow-level persisted handle (`localCheckpoint`
  * hides its RDD, which is the whole problem — though for pure RELEASE,
  * `releaseLocalCheckpoint` below recovers the handle from the plan's
  * LogicalRDD leaf). If a generation frame
  * ever approaches data size, cut it with reliable `checkpoint()` to a
  * checkpoint dir instead — serialized, released by deleting the dir.
  *
  * The caller's contract: hold the handle, `unpersist(blocking = false)`
  * it the moment the NEXT generation is materialized, and leave the
  * final generation's cache live (the returned result scans it; the
  * session harness or the caller's action-then-release owns that one).
  * In a fault-tolerant production run, swap for reliable `checkpoint()`
  * against a checkpoint dir — same shape, survives executor loss.
  */
private[operators] object Gen {
  def cut(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Deterministically release the persisted blocks behind a frame
    * produced by `Dataset.localCheckpoint` (which hides its RDD — the
    * reason `cut` exists). The checkpointed InternalRow RDD is
    * recoverable from the frame's own plan: `localCheckpoint` leaves a
    * `LogicalRDD` leaf whose `rdd` field IS the persisted handle, so a
    * setup frame that had to stay in serialized InternalRow form (the
    * data-sized edge caches — `cut`'s external-Row tax would bite
    * there) can still be freed the moment its loop ends instead of
    * lingering until GC + ContextCleaner run, which in a single
    * 331-query bench JVM can be queries later. No-op on frames whose
    * plan holds no LogicalRDD leaf, and on frames of a stopped
    * SparkContext: its blocks died with it, and unpersisting through
    * its torn-down block manager throws. */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped)
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
}
