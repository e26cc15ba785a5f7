package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{GatherExec, SmallSort}

/** Pins the [[SmallSort]] planner strategy: a small global sort is
  * gathered into one partition instead of range-partitioned (one job
  * fewer, same rows), the decision follows AQE's runtime statistics, the
  * broadcast threshold bounds it, and plans whose input is already in
  * one partition, or whose sort sits under a limit, are unchanged.
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

  private def gathers(df: DataFrame): Int =
    nodes(df).count(_.isInstanceOf[GatherExec])

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df).collect { case e: ShuffleExchangeExec => e }

  private def ranged(df: DataFrame): Boolean =
    exchanges(df).exists(_.outputPartitioning.isInstanceOf[RangePartitioning])

  test("(a) q02 and q25 gather instead of range-partitioning, with the same rows") {
    for (name <- Seq("q02_project_derive", "q25_agg_value_counts")) {
      val df = query(name)
      val rows = df.collect().toSeq
      assert(gathers(df) == 1 && !ranged(df),
        s"$name:\n${df.queryExecution.executedPlan}")
      val ref = query(name)
      val refRows = withoutSmallSort(ref.collect().toSeq)
      assert(ranged(ref), s"$name reference:\n${ref.queryExecution.executedPlan}")
      assert(rows.nonEmpty && rows == refRows, s"$name rows differ")
    }
  }

  test("(b) q02's noop write runs 2 jobs, not 3: no range-sampling job") {
    def write(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val df = query("q02_project_derive")
    write(df) // the first write also infers the schema and warms codegen
    assert(jobsDuring(write(df)) == 2)
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
      assert(gathers(fresh) == 1 && !ranged(fresh),
        s"final plan:\n${fresh.queryExecution.executedPlan}")
      assert(rows == withoutSmallSort(query("q13_join_range").collect().toSeq))
    }
  }

  test("(d) a threshold below the input, or -1, keeps range partitioning") {
    for (t <- Seq("1", "-1")) withConf(threshold, t) {
      val df = query("q02_project_derive")
      df.collect()
      assert(gathers(df) == 0 && ranged(df),
        s"$threshold=$t:\n${df.queryExecution.executedPlan}")
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
      assert(gathers(df) == 1, s"$label:\n${df.queryExecution.executedPlan}")
      assert(exchanges(df).size == exchanges(ref).size,
        s"$label:\n${df.queryExecution.executedPlan}\nvs\n" +
          ref.queryExecution.executedPlan)
      if (label == "window") assert(rows == refRows)
    }
  }

  test("(f) a limit over a sort still plans TakeOrderedAndProject") {
    SmallSort.register(spark)
    val df = Tables.orders(spark, sfDir)
      .orderBy(col("o_totalprice"), col("o_orderkey")).limit(10)
    assert(df.collect().length == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Gather"), plan)
  }
}
