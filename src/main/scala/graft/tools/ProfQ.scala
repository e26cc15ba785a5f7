package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** The per-job profiler for any registry query (not product surface;
  * `perfbench/run.py --trace 1` gives the per-layer counts of the
  * benchmark workloads). Runs one named query from `SparkEntry.queries`
  * exactly as Bench does (same `Session.local` session, same
  * `df.count()` action), with a SparkListener that records every
  * job's wall time and first-stage name — so a multi-action query
  * (persists, localCheckpoints, fixpoint probes, per-iteration passes)
  * decomposes into its job ledger instead of one opaque number.
  *
  * Usage: ProfQ <queryName> [dir] [runs]
  *   dir defaults to /root/testdata/sf0.1, runs to 2 (the second run
  *   shows the warm-plan cost the bench min reports); the width is
  *   `SPARK_GRAFT_CPUS` (default 4), as for Bench.
  */
object ProfQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfQ <queryName> [dir] [runs]")
    val qname = args(0)
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val s = graft.Session.local()
    val fn = graft.SparkEntry.queries(qname)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(j.stageInfos.headOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), desc.take(90)))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.get(j.jobId)).foreach { case (t0, desc) =>
          System.err.println(
            f"[profq] job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        System.err.println(
          f"[profq]   stage ${si.stageId}%3d $wall%7.3f s tasks=${si.numTasks}%3d " +
          f"exec=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB rows=${m.outputMetrics.recordsWritten}  " +
          si.name.takeWhile(_ != '\n').take(70))
      }
    })
    (1 to runs).foreach { r =>
      System.err.println(s"[profq] ===== $qname run $r =====")
      val t0 = System.nanoTime()
      fn(s, d).count()
      System.err.println(
        f"[profq] TOTAL run $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      s.catalog.clearCache()
      System.gc()
    }
    s.stop()
  }
}
