package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Gen
import graft.plans.{GatherExec, SmallSort}

/** Pins the [[SmallSort]] planner strategy: a small global sort runs in
  * one partition instead of being range-partitioned (one job fewer, same
  * rows); it coalesces in place once its inputs are known small, and
  * gathers through an exchange until then; the decision follows AQE's
  * runtime statistics, the broadcast threshold bounds it, and plans whose
  * input is already in one partition, or whose sort sits under a limit,
  * are unchanged. A small global aggregate over a finished keyed
  * aggregate stage coalesces in place, and keeps Spark's plan otherwise.
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

  private def write(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The node under each partial aggregate of a global aggregate in the
    * final plan, past the codegen boundary. */
  private def partialAggInputs(df: DataFrame): Seq[SparkPlan] =
    nodes(df).collect {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.forall(_.mode == Partial) => a.child
    }.map {
      case InputAdapter(child) => child
      case child => child
    }

  test("(a) q02 and q25 coalesce instead of range-partitioning, with the same rows") {
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

  test("(b) q02's noop write runs 1 job, not 3: no range-sampling job") {
    val df = query("q02_project_derive")
    write(df) // the first write also infers the schema and warms codegen
    // One job: the scan, the coalesce and the sort run in one stage.
    // Without it: the range-sampling job, then one job per side of the
    // range exchange.
    assert(jobsDuring(write(df)) == 1)
    assert(withoutSmallSort(jobsDuring(write(df))) == 3)
  }

  test("(c) q13 coalesces on runtime statistics above a static estimate") {
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

  test("(i) q289's global aggregate coalesces once its stage has run") {
    val df = query("q289_vocab_richness")
    // AQE's initial plan: the aggregate over the shingle aggregate has
    // no materialized stage under it yet, so it keeps Spark's exchange.
    val initial = plan(df)
    assert(initial.contains("Exchange SinglePartition") && !initial.contains("Coalesce"),
      s"initial plan:\n$initial")
    val rows = df.collect().toSeq
    val parts = exchanges(df).map(_.outputPartitioning)
    assert(partialAggInputs(df).map(coalesced) == Seq(true) && singleExchanges(df) == 0 &&
      parts.count(_.isInstanceOf[HashPartitioning]) == 1 &&
      parts.count(_.isInstanceOf[RoundRobinPartitioning]) == 1 && parts.size == 2,
      s"final plan:\n${plan(df)}")
    val ref = query("q289_vocab_richness")
    assert(rows.size == 1 && rows == withoutSmallSort(ref.collect().toSeq))
    assert(singleExchanges(ref) == 1, s"reference:\n${plan(ref)}")
  }

  test("(j) q289's noop write runs 3 jobs, 4 without the strategy") {
    val df = query("q289_vocab_richness")
    write(df) // the first write also infers the schema and warms codegen
    // One job per stage: the round-robin fan-out, the shingle
    // aggregate, then the global aggregate in the coalesced last stage.
    assert(jobsDuring(write(df)) == 3)
    assert(withoutSmallSort(jobsDuring(write(df))) == 4)
  }

  test("(k) a distinct global aggregate keeps Spark's plan") {
    SmallSort.register(spark)
    val build = () => Tables.orders(spark, sfDir).agg(countDistinct(col("o_custkey")).as("n"))
    val df = build()
    val rows = df.collect().toSeq
    val ref = build()
    val refRows = withoutSmallSort(ref.collect().toSeq)
    def shape(d: DataFrame) = nodes(d).map(_.nodeName)
    assert(shape(df) == shape(ref) && singleExchanges(df) == 1,
      s"${plan(df)}\nvs\n${plan(ref)}")
    assert(rows == refRows)
  }

  test("(l) a global aggregate over no rows returns one row, as without the strategy") {
    SmallSort.register(spark)
    // An empty keyed aggregate. AQE folds a finished empty stage into an
    // empty relation, which keeps Spark's plan, so that rule is off here
    // to run the coalesce over a stage with no rows.
    val build = () => Tables.orders(spark, sfDir).filter(col("o_totalprice") < 0)
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("t"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("s"))
    withConf("spark.sql.adaptive.optimizer.excludedRules",
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation") {
      val df = build()
      val rows = df.collect().toSeq
      assert(partialAggInputs(df).map(coalesced) == Seq(true), plan(df))
      val ref = build()
      for (got <- Seq(rows, withoutSmallSort(ref.collect().toSeq))) {
        assert(got.size == 1 && got.head.getLong(0) == 0L && got.head.isNullAt(1), got)
      }
    }
  }

  test("(m) a threshold of -1, or AQE off, keeps q289's single-partition exchange") {
    for ((key, value) <- Seq(threshold -> "-1", "spark.sql.adaptive.enabled" -> "false")) {
      withConf(key, value) {
        val df = query("q289_vocab_richness")
        df.collect()
        assert(partialAggInputs(df).forall(!coalesced(_)) && singleExchanges(df) == 1,
          s"$key=$value:\n${plan(df)}")
      }
    }
  }

  test("(n) a global aggregate over a fan-out, a cache, a checkpoint or a scan keeps its exchange") {
    // Each input is small in bytes, but the partial aggregate's per-row
    // work (q321 tokenizes every document) or the cache or checkpoint
    // build would run in the one coalesced task.
    SmallSort.register(spark)
    val orders = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    val cached = orders.persist()
    val checkpoint = orders.localCheckpoint(eager = false)
    def total(df: DataFrame) =
      df.agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("o_orderkey"))).as("h"))
    val cases = Seq[(String, () => DataFrame)](
      "q321" -> (() => query("q321_packing_efficiency")),
      "scan" -> (() => total(Tables.orders(spark, sfDir))),
      "cache" -> (() => total(cached)),
      "checkpoint" -> (() => total(checkpoint)))
    try {
      val coalescedPlans = cases.flatMap { case (label, build) =>
        val df = build()
        val rows = df.collect().toSeq
        assert(rows.size == 1 && rows == withoutSmallSort(build().collect().toSeq), label)
        if (partialAggInputs(df).forall(!coalesced(_)) && singleExchanges(df) == 1) None
        else Some(s"$label:\n${plan(df)}")
      }
      assert(coalescedPlans.isEmpty, coalescedPlans.mkString("\n"))
    } finally {
      cached.unpersist(blocking = true)
      Gen.release(checkpoint)
    }
  }
}
