package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{GatherExec, SmallSort}

/** Pins the [[SmallSort]] planner strategy: a small global sort runs in
  * one partition instead of being range-partitioned (one job fewer, same
  * rows); it coalesces in place once its inputs are known small, and
  * gathers through an exchange until then; the decision follows AQE's
  * runtime statistics, the broadcast threshold bounds it, and plans whose
  * input is already in one partition, or whose sort sits under a limit,
  * are unchanged.
  */
class SmallSortSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** Plans and runs `body` with the strategy taken off the session.
    * A registry call inside would install it again, so callers build
    * their frames first. */
  private def withoutSmallSort[T](body: => T): T = {
    val prior = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = prior.filterNot(_ eq SmallSort)
    try body finally spark.experimental.extraStrategies = prior
  }

  /** The final plan of the frame's last action, stages included. */
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  /** The node under each global sort of the final plan, past the
    * codegen boundary a sort's input sits behind. */
  private def sortInputs(df: DataFrame): Seq[SparkPlan] =
    nodes(df).collect { case s: SortExec if s.global => s.child }.map {
      case InputAdapter(child) => child
      case child => child
    }

  private def gathered(p: SparkPlan): Boolean = p.isInstanceOf[GatherExec]

  private def coalesced(p: SparkPlan): Boolean = p match {
    case CoalesceExec(1, _) => true
    case _ => false
  }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df).collect { case e: ShuffleExchangeExec => e }

  private def ranged(df: DataFrame): Boolean =
    exchanges(df).exists(_.outputPartitioning.isInstanceOf[RangePartitioning])

  private def singleExchanges(df: DataFrame): Int =
    exchanges(df).count(_.outputPartitioning == SinglePartition)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("(a) q02 and q25 gather instead of range-partitioning, with the same rows") {
    // q02 is a narrow chain over a scan: no exchange at all. q25 keeps
    // the one hash exchange of its aggregate and coalesces its output.
    for ((name, hashes) <- Seq("q02_project_derive" -> 0, "q25_agg_value_counts" -> 1)) {
      val df = query(name)
      val rows = df.collect().toSeq
      assert(sortInputs(df).map(coalesced) == Seq(true) && !ranged(df) &&
        singleExchanges(df) == 0 && exchanges(df).size == hashes, s"$name:\n${plan(df)}")
      val ref = query(name)
      val refRows = withoutSmallSort(ref.collect().toSeq)
      assert(ranged(ref), s"$name reference:\n${plan(ref)}")
      assert(rows.nonEmpty && rows == refRows, s"$name rows differ")
    }
  }

  test("(b) q02's noop write runs 2 jobs, not 3: no range-sampling job") {
    def write(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val df = query("q02_project_derive")
    write(df) // the first write also infers the schema and warms codegen
    // One job: the scan, the coalesce and the sort run in one stage.
    // Without it: the range-sampling job, then one job per side of the
    // range exchange.
    assert(jobsDuring(write(df)) == 1)
    assert(withoutSmallSort(jobsDuring(write(df))) == 3)
  }

  test("(c) q13 gathers on runtime statistics above a static estimate") {
    val df = query("q13_join_range")
    val static = df.queryExecution.optimizedPlan
      .collectFirst { case s: Sort => s.child.stats.sizeInBytes }.get
    // A threshold between the runtime size (three bands' partial
    // aggregates, a few hundred bytes) and the static estimate of the
    // non-equi join (~600 KB at sf0.001, ~45 MB at sf0.1).
    assert(static > 64 * 1024, s"static estimate $static")
    withConf(threshold, (static / 2).toString) {
      val fresh = query("q13_join_range")
      val initial = fresh.queryExecution.executedPlan.toString
      assert(initial.contains("rangepartitioning") && !initial.contains("Gather"),
        s"initial plan:\n$initial")
      val rows = fresh.collect().toSeq
      assert(sortInputs(fresh).map(coalesced) == Seq(true) && !ranged(fresh) &&
        singleExchanges(fresh) == 0, s"final plan:\n${plan(fresh)}")
      assert(rows == withoutSmallSort(query("q13_join_range").collect().toSeq))
    }
  }

  test("(d) a threshold below the input, or -1, keeps range partitioning") {
    for (t <- Seq("1", "-1")) withConf(threshold, t) {
      val df = query("q02_project_derive")
      df.collect()
      assert(!sortInputs(df).exists(p => gathered(p) || coalesced(p)) && ranged(df),
        s"$threshold=$t:\n${plan(df)}")
    }
  }

  test("(e) a sort over one partition plans no extra exchange") {
    val orders = Tables.orders(spark, sfDir)
    val limited = () => orders.limit(10).orderBy(col("o_totalprice"))
    val windowed = () => orders
      .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    SmallSort.register(spark)
    for ((label, build) <- Seq("limit" -> limited, "window" -> windowed)) {
      val df = build()
      val rows = df.collect().toSeq
      val ref = build()
      val refRows = withoutSmallSort(ref.collect().toSeq)
      assert(sortInputs(df).map(p => gathered(p) || coalesced(p)) == Seq(true),
        s"$label:\n${plan(df)}")
      assert(exchanges(df).size == exchanges(ref).size,
        s"$label:\n${plan(df)}\nvs\n${plan(ref)}")
      if (label == "window") assert(rows == refRows)
    }
  }

  test("(f) a limit over a sort still plans TakeOrderedAndProject") {
    SmallSort.register(spark)
    val df = Tables.orders(spark, sfDir)
      .orderBy(col("o_totalprice"), col("o_orderkey")).limit(10)
    assert(df.collect().length == 10)
    val shape = plan(df)
    assert(shape.contains("TakeOrderedAndProject") && !shape.contains("Gather") &&
      !shape.contains("Coalesce"), shape)
  }

  test("(g) q25's initial plan gathers; it coalesces once its stage has run") {
    val df = query("q25_agg_value_counts")
    val initial = plan(df) // before any action: AQE's initial plan
    assert(initial.contains("Gather") && initial.contains("Exchange SinglePartition") &&
      !initial.contains("Coalesce"), s"initial plan:\n$initial")
    df.collect()
    assert(plan(df).contains("Coalesce 1") && sortInputs(df).map(coalesced) == Seq(true) &&
      exchanges(df).size == 1, s"final plan:\n${plan(df)}")
  }

  test("(h) without AQE, q25 gathers and q02 coalesces, with the same rows") {
    val cases = Seq[(String, SparkPlan => Boolean)](
      "q02_project_derive" -> coalesced, "q25_agg_value_counts" -> gathered)
    val adaptive = cases.map { case (name, _) => query(name).collect().toSeq }
    withConf("spark.sql.adaptive.enabled", "false") {
      for (((name, onePartition), rows) <- cases.zip(adaptive)) {
        val df = query(name)
        assert(df.collect().toSeq == rows, s"$name rows differ")
        assert(sortInputs(df).map(onePartition) == Seq(true), s"$name:\n${plan(df)}")
      }
    }
  }
}
