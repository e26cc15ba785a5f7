package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the run: run → pass → query → phase, or a direct
  * layer call. Times are nanoTime offsets from the recorder's origin. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Keeps every span in memory. With `traced`, each span's id is set as a
  * SparkContext local property while it is open, so every job it submits
  * carries the id (AQE and broadcast threads inherit it with the SQL
  * execution's properties), and a listener records jobs, stages, tasks
  * and each action's final physical plan. Everything is written out once,
  * at the end of the run. */
final class Recorder(val traced: Boolean) extends SparkListener
    with QueryExecutionListener {
  import Recorder._

  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  def open(kind: String, name: String, parent: Long): Span = {
    nextId += 1
    val s = new Span(nextId, parent, kind, name, System.nanoTime() - originNs)
    spans += s
    s
  }

  def close(s: Span): Unit = s.endNs = System.nanoTime() - originNs

  def within[A](spark: SparkSession, kind: String, name: String,
      parent: Long)(body: Span => A): A = {
    val s = open(kind, name, parent)
    val sc = spark.sparkContext
    val prior = if (traced) sc.getLocalProperty(SpanProperty) else null
    if (traced) sc.setLocalProperty(SpanProperty, s.id.toString)
    try body(s)
    finally {
      close(s)
      if (traced) sc.setLocalProperty(SpanProperty, prior)
    }
  }

  // ---- listener side (delivered on the listener-bus thread) ----------
  private val jobs = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val jobEnds = mutable.Map.empty[Int, Long]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
  private val plans = mutable.ArrayBuffer.empty[(String, Int, Int)]

  def attach(spark: SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = if (traced) {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(spark: SparkSession): Unit =
    if (traced) PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
    jobs += mutable.LinkedHashMap("kind" -> "job", "job" -> e.jobId,
      "start_ms" -> e.time.toDouble, "span" -> span.map(_.toLong),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val acc = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageAcc)
      acc.submittedMs = i.submissionTime.getOrElse(-1L)
      acc.completedMs = i.completionTime.getOrElse(-1L)
      acc.failed = i.failureReason.isDefined
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val (shuffles, broadcasts) = PlanCounts(qe.executedPlan)
    plans += ((funcName, shuffles, broadcasts))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Final-plan exchange counts of the last action finished since the
    * previous call. */
  def takeLastPlan(spark: SparkSession): Option[(String, Int, Int)] = {
    drain(spark)
    synchronized { val p = plans.lastOption; plans.clear(); p }
  }

  def write(out: Records): Unit = synchronized {
    out.write("kind" -> "origin", "epoch_ms" -> originEpochMs.toDouble)
    def epochMs(ns: Long): Double = originEpochMs + ns / 1e6
    spans.foreach { s =>
      out.write(Seq[(String, Any)]("kind" -> "span", "id" -> s.id,
        "parent" -> s.parent, "type" -> s.kind, "name" -> s.name,
        "start_ms" -> epochMs(s.startNs), "end_ms" -> epochMs(s.endNs),
        "s" -> s.seconds) ++ s.attrs: _*)
    }
    jobs.foreach { j =>
      val id = j("job").asInstanceOf[Int]
      out.write((j.toSeq :+ ("end_ms" -> jobEnds.get(id).map(_.toDouble))): _*)
    }
    stages.foreach { case ((id, attempt), a) =>
      out.write("kind" -> "stage", "stage" -> id, "attempt" -> attempt,
        "tasks" -> a.tasks, "submitted_ms" -> a.submittedMs.toDouble,
        "completed_ms" -> a.completedMs.toDouble, "failed" -> a.failed,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shuffleWrite,
        "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill)
    }
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  final class StageAcc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var submittedMs = -1L; var completedMs = -1L; var failed = false
  }

  /** Unique shuffle and broadcast exchanges in a physical plan, through
    * AQE query stages and subqueries; reused exchanges are not counted. */
  object PlanCounts extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): (Int, Int) = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
    }
  }

  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
}
