package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

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
  * A small one-split file scan plans as one partition, so nothing above
  * it shuffles, and a sort over it adds no second coalesce; a multi-file
  * copy of the same table keeps Spark's plan.
  *
  * Every sf0.001 table is one file, so the cases written for an
  * exchange over a scan read [[splitDir]], where orders and events are
  * 4-file copies.
  */
class SmallSortSpec extends SparkSuite with AdaptiveSparkPlanHelper with BeforeAndAfterAll {

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private lazy val splitRoot = java.nio.file.Files.createTempDirectory("smallsort_split").toFile

  /** A fixture dir holding 4-file copies of orders and events: 4 splits
    * each, so their scans keep Spark's exchanges. */
  private lazy val splitDir: String = {
    SparkEntry.prepare(spark)
    for (t <- Seq("orders", "events"))
      spark.read.parquet(s"$sfDir/$t.parquet").repartition(4)
        .write.parquet(s"${splitRoot.getPath}/$t.parquet")
    splitRoot.getPath
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(splitRoot)
    super.afterAll()
  }

  private def query(name: String, dir: String = sfDir): DataFrame =
    SparkEntry.queries(name)(spark, dir)

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

  /** Every file scan of the final plan sits under a `Coalesce 1`, and
    * there is at least one. */
  private def scansCoalesced(df: DataFrame): Boolean = {
    val scans = nodes(df).collect { case s: FileSourceScanExec => s }
    val under = nodes(df).collect { case c @ CoalesceExec(1, _) => c }
      .flatMap(_.collect { case s: FileSourceScanExec => s })
    scans.nonEmpty && scans.forall(s => under.exists(_ eq s))
  }

  /** `Coalesce 1` nodes other than the scan case's, which sits on a file
    * scan and the narrow chain planned with it. */
  private def nonScanCoalesces(df: DataFrame): Seq[SparkPlan] = {
    def scanChain(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case _: WholeStageCodegenExec | _: ProjectExec | _: FilterExec | _: ColumnarToRowExec |
          _: InputAdapter => p.children.forall(scanChain)
      case _ => false
    }
    nodes(df).collect { case c @ CoalesceExec(1, child) if !scanChain(child) => c }
  }

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toString).sorted == b.map(_.toString).sorted

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
    // q02 is a narrow chain over a scan: no exchange at all. q25 over
    // 4-file orders keeps the one hash exchange of its aggregate and
    // coalesces its output; over the one-file table it has no exchange.
    for ((name, dir, hashes) <- Seq(("q02_project_derive", sfDir, 0),
        ("q25_agg_value_counts", splitDir, 1))) {
      val df = query(name, dir)
      val rows = df.collect().toSeq
      assert(sortInputs(df).map(coalesced) == Seq(true) && !ranged(df) &&
        singleExchanges(df) == 0 && exchanges(df).size == hashes, s"$name:\n${plan(df)}")
      val ref = query(name, dir)
      val refRows = withoutSmallSort(ref.collect().toSeq)
      assert(ranged(ref), s"$name reference:\n${plan(ref)}")
      assert(rows.nonEmpty && rows == refRows, s"$name rows differ")
    }
    val oneFile = query("q25_agg_value_counts")
    oneFile.collect()
    assert(exchanges(oneFile).isEmpty && scansCoalesced(oneFile), plan(oneFile))
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
    // 4-file events: over the one-file table nothing under the sort
    // shuffles, so there is no range exchange to replace.
    val df = query("q13_join_range", splitDir)
    val static = df.queryExecution.optimizedPlan
      .collectFirst { case s: Sort => s.child.stats.sizeInBytes }.get
    // A threshold between the runtime size (three bands' partial
    // aggregates, a few hundred bytes) and the static estimate of the
    // non-equi join (~600 KB at sf0.001, ~45 MB at sf0.1).
    assert(static > 64 * 1024, s"static estimate $static")
    withConf(threshold, (static / 2).toString) {
      val fresh = query("q13_join_range", splitDir)
      val initial = fresh.queryExecution.executedPlan.toString
      assert(initial.contains("rangepartitioning") && !initial.contains("Gather"),
        s"initial plan:\n$initial")
      val rows = fresh.collect().toSeq
      assert(sortInputs(fresh).map(coalesced) == Seq(true) && !ranged(fresh) &&
        singleExchanges(fresh) == 0, s"final plan:\n${plan(fresh)}")
      assert(rows == withoutSmallSort(query("q13_join_range", splitDir).collect().toSeq))
      val oneFile = query("q13_join_range")
      val initialOne = plan(oneFile)
      assert(!initialOne.contains("rangepartitioning") && exchanges(oneFile).isEmpty,
        s"one-file initial plan:\n$initialOne")
      assert(oneFile.collect().toSeq == rows)
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
    SmallSort.register(spark)
    // 4-file orders: the limit and the unpartitioned window each gather
    // through Spark's own exchange. Over the one-file table the scan is
    // already one partition, so neither has an exchange.
    for ((dir, oneFile) <- Seq(splitDir -> false, sfDir -> true)) {
      val orders = Tables.orders(spark, dir)
      val limited = () => orders.limit(10).orderBy(col("o_totalprice"))
      val windowed = () => orders
        .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      for ((label, build) <- Seq("limit" -> limited, "window" -> windowed)) {
        val df = build()
        val rows = df.collect().toSeq
        val ref = build()
        val refRows = withoutSmallSort(ref.collect().toSeq)
        assert(sortInputs(df).map(p => gathered(p) || coalesced(p)) == Seq(true),
          s"$label:\n${plan(df)}")
        if (oneFile) assert(exchanges(df).isEmpty && exchanges(ref).size == 1,
          s"one-file $label:\n${plan(df)}\nvs\n${plan(ref)}")
        else assert(exchanges(df).size == exchanges(ref).size,
          s"$label:\n${plan(df)}\nvs\n${plan(ref)}")
        if (label == "window") assert(rows == refRows)
      }
    }
  }

  test("(f) a limit over a sort still plans TakeOrderedAndProject") {
    SmallSort.register(spark)
    val top = (dir: String) => Tables.orders(spark, dir)
      .orderBy(col("o_totalprice"), col("o_orderkey")).limit(10)
    val df = top(splitDir)
    assert(df.collect().length == 10)
    val shape = plan(df)
    assert(shape.contains("TakeOrderedAndProject") && !shape.contains("Gather") &&
      !shape.contains("Coalesce"), shape)
    // The one-file scan is coalesced under it, and nothing shuffles.
    val oneFile = top(sfDir)
    assert(oneFile.collect().toSeq == df.collect().toSeq)
    val oneShape = plan(oneFile)
    assert(oneShape.contains("TakeOrderedAndProject") && !oneShape.contains("Gather") &&
      scansCoalesced(oneFile) && exchanges(oneFile).isEmpty, oneShape)
  }

  test("(g) q25's initial plan gathers; it coalesces once its stage has run") {
    val df = query("q25_agg_value_counts", splitDir)
    val initial = plan(df) // before any action: AQE's initial plan
    assert(initial.contains("Gather") && initial.contains("Exchange SinglePartition") &&
      !initial.contains("Coalesce"), s"initial plan:\n$initial")
    df.collect()
    assert(plan(df).contains("Coalesce 1") && sortInputs(df).map(coalesced) == Seq(true) &&
      exchanges(df).size == 1, s"final plan:\n${plan(df)}")
    // Over the one-file table there is no stage to wait for: the plan
    // gathers from the coalesced scan with no exchange, before and after.
    val oneFile = query("q25_agg_value_counts")
    val oneInitial = plan(oneFile)
    assert(oneInitial.contains("Gather") && oneInitial.contains("Coalesce 1") &&
      !oneInitial.contains("Exchange"), s"one-file initial plan:\n$oneInitial")
    oneFile.collect()
    assert(sortInputs(oneFile).map(gathered) == Seq(true) && exchanges(oneFile).isEmpty &&
      scansCoalesced(oneFile), s"one-file final plan:\n${plan(oneFile)}")
  }

  test("(h) without AQE, q25 gathers and q02 coalesces, with the same rows") {
    // q25 over 4-file orders gathers through an exchange; over the
    // one-file table it gathers the coalesced scan with no exchange.
    val cases = Seq[(String, String, SparkPlan => Boolean, Option[Int])](
      ("q02_project_derive", sfDir, coalesced, None),
      ("q25_agg_value_counts", splitDir, gathered, Some(2)),
      ("q25_agg_value_counts", sfDir, gathered, Some(0)))
    val adaptive = cases.map { case (name, dir, _, _) => query(name, dir).collect().toSeq }
    withConf("spark.sql.adaptive.enabled", "false") {
      for (((name, dir, onePartition, shuffles), rows) <- cases.zip(adaptive)) {
        val df = query(name, dir)
        assert(df.collect().toSeq == rows, s"$name rows differ")
        assert(sortInputs(df).map(onePartition) == Seq(true), s"$name:\n${plan(df)}")
        shuffles.foreach(n => assert(exchanges(df).size == n, s"$name over $dir:\n${plan(df)}"))
      }
    }
  }

  test("(i) q289's global aggregate coalesces once its stage has run") {
    val df = query("q289_vocab_richness")
    // AQE's initial plan: the aggregate over the shingle aggregate has
    // no materialized stage under it yet, so it keeps Spark's exchange.
    // The only coalesce is the one-file scan's, under the fan-out.
    val initial = plan(df)
    assert(initial.contains("Exchange SinglePartition") && nonScanCoalesces(df).isEmpty &&
      scansCoalesced(df), s"initial plan:\n$initial")
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
    val build = (dir: String) => Tables.orders(spark, dir).agg(countDistinct(col("o_custkey")).as("n"))
    val df = build(splitDir)
    val rows = df.collect().toSeq
    val ref = build(splitDir)
    val refRows = withoutSmallSort(ref.collect().toSeq)
    def shape(d: DataFrame) = nodes(d).map(_.nodeName)
    assert(shape(df) == shape(ref) && singleExchanges(df) == 1,
      s"${plan(df)}\nvs\n${plan(ref)}")
    assert(rows == refRows)
    // Over the one-file table only the scan changes: nothing shuffles.
    val oneFile = build(sfDir)
    assert(oneFile.collect().toSeq == rows)
    assert(exchanges(oneFile).isEmpty && scansCoalesced(oneFile), plan(oneFile))
  }

  test("(l) a global aggregate over no rows returns one row, as without the strategy") {
    SmallSort.register(spark)
    // An empty keyed aggregate. AQE folds a finished empty stage into an
    // empty relation, which keeps Spark's plan, so that rule is off here
    // to run the coalesce over a stage with no rows.
    // 4-file orders, so the keyed aggregate has a stage; over the
    // one-file table nothing shuffles and there is no stage.
    val build = (dir: String) => Tables.orders(spark, dir).filter(col("o_totalprice") < 0)
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("t"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("s"))
    withConf("spark.sql.adaptive.optimizer.excludedRules",
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation") {
      val df = build(splitDir)
      val rows = df.collect().toSeq
      assert(partialAggInputs(df).map(coalesced) == Seq(true), plan(df))
      val ref = build(splitDir)
      val oneFile = build(sfDir)
      for (got <- Seq(rows, withoutSmallSort(ref.collect().toSeq), oneFile.collect().toSeq)) {
        assert(got.size == 1 && got.head.getLong(0) == 0L && got.head.isNullAt(1), got)
      }
      assert(exchanges(oneFile).isEmpty && scansCoalesced(oneFile), plan(oneFile))
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
    // 4-file orders: a one-file scan, and a cache or a checkpoint of it,
    // is one partition already and needs no exchange.
    SmallSort.register(spark)
    val orders = Tables.orders(spark, splitDir).select(col("o_orderkey"), col("o_totalprice"))
    val cached = orders.persist()
    val checkpoint = orders.localCheckpoint(eager = false)
    def total(df: DataFrame) =
      df.agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("o_orderkey"))).as("h"))
    val cases = Seq[(String, () => DataFrame)](
      "q321" -> (() => query("q321_packing_efficiency")),
      "scan" -> (() => total(Tables.orders(spark, splitDir))),
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
      val oneFile = total(Tables.orders(spark, sfDir))
      assert(oneFile.collect().toSeq == total(orders).collect().toSeq)
      assert(exchanges(oneFile).isEmpty && scansCoalesced(oneFile), plan(oneFile))
    } finally {
      cached.unpersist(blocking = true)
      Gen.release(checkpoint)
    }
  }

  test("(o) one-file scans plan one partition: no shuffle under q22, q25, q13, q39 or q44") {
    for (name <- Seq("q22_window_topk_per_group", "q25_agg_value_counts", "q13_join_range",
        "q39_asof_join", "q44_knn_exact")) {
      val df = query(name)
      val rows = df.collect().toSeq
      assert(exchanges(df).isEmpty && scansCoalesced(df), s"$name:\n${plan(df)}")
      val ref = query(name)
      val refRows = withoutSmallSort(ref.collect().toSeq)
      assert(exchanges(ref).exists(_.outputPartitioning.isInstanceOf[HashPartitioning]) ||
        singleExchanges(ref) > 0, s"$name reference:\n${plan(ref)}")
      assert(rows.nonEmpty && sameRows(rows, refRows), s"$name rows differ")
    }
  }

  test("(p) q25's noop write runs 1 job: 2 over 4 files, 4 without the strategy") {
    val df = query("q25_agg_value_counts")
    write(df) // the first write also infers the schema and warms codegen
    // One stage: scan, both aggregate halves and the sort in one task.
    // Over 4 files: the hash exchange's map job, then the reduce job.
    // Without the strategy the range exchange adds its sampling job and
    // its own stage.
    assert(jobsDuring(write(df)) == 1)
    val split = query("q25_agg_value_counts", splitDir)
    write(split)
    assert(jobsDuring(write(split)) == 2)
    assert(withoutSmallSort(jobsDuring(write(df))) == 4)
  }

  test("(q) q25 keeps its hash exchange over 4 files, above the threshold, or at -1") {
    val size = new java.io.File(s"$sfDir/orders.parquet").length
    val cases = Seq(("4 files", splitDir, None),
      ("threshold below the file", sfDir, Some((size - 1).toString)),
      ("threshold -1", sfDir, Some("-1")))
    for ((label, dir, t) <- cases) {
      def run(): Unit = {
        val df = query("q25_agg_value_counts", dir)
        df.collect()
        assert(exchanges(df).exists(_.outputPartitioning.isInstanceOf[HashPartitioning]) &&
          !scansCoalesced(df), s"$label:\n${plan(df)}")
      }
      t.fold(run())(withConf(threshold, _)(run()))
    }
  }

  test("(r) a merge join of a one-file scan with a 4-file table keeps its rows") {
    SmallSort.register(spark)
    val build = () => Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.orders(spark, splitDir).select(col("o_orderkey"), col("o_totalprice"))
        .hint("merge"), "o_orderkey")
    val df = build()
    val rows = df.collect().toSeq
    assert(plan(df).contains("SortMergeJoin") && rows.nonEmpty, plan(df))
    val without = withoutSmallSort(build().collect().toSeq)
    val plain = withConf("spark.sql.adaptive.enabled", "false")(build().collect().toSeq)
    assert(sameRows(rows, without) && sameRows(rows, plain))
  }

  test("(s) fanOut over a one-file scan still plans one round-robin exchange") {
    SmallSort.register(spark)
    val df = Tables.fanOut(Tables.documents(spark, sfDir)).select(col("doc_id"))
    val n = df.collect().length
    assert(n == Tables.documents(spark, sfDir).count())
    val parts = exchanges(df).map(_.outputPartitioning)
    assert(parts.size == 1 && parts.head.isInstanceOf[RoundRobinPartitioning] &&
      scansCoalesced(df), plan(df))
  }

  test("(t) a small sort over a projection of a persisted frame gathers") {
    // A cache is not a scan: a coalesce in AQE's initial plan would build
    // it, and run the projection, in one task. 4-file orders, so the
    // cache has 4 partitions. Once AQE's cache stage has built it, the
    // re-plan may coalesce over the finished stage, like over any
    // finished stage.
    SmallSort.register(spark)
    val cached = Tables.orders(spark, splitDir).select(col("o_orderkey"), col("o_totalprice")).persist()
    try {
      val build = () => cached.select(col("o_orderkey"), (col("o_totalprice") * 2).as("p"))
        .orderBy(col("p"), col("o_orderkey"))
      val df = build()
      assert(sortInputs(df).map(gathered) == Seq(true) &&
        !sortInputs(df).exists(coalesced), s"initial plan:\n${plan(df)}")
      val rows = df.collect().toSeq
      val coalesces = nodes(df).collect { case c @ CoalesceExec(1, _) => c }
      assert(coalesces.forall(_.exists(_.isInstanceOf[TableCacheQueryStageExec])),
        s"final plan:\n${plan(df)}")
      assert(rows.nonEmpty && rows == withoutSmallSort(build().collect().toSeq))
    } finally cached.unpersist(blocking = true)
  }

  test("(u) a sort over a one-split scan plans one Coalesce 1, the scan's") {
    // The scan case already coalesced the scan, so the sort path adds no
    // second coalesce above it.
    val df = query("q02_project_derive")
    val rows = df.collect().toSeq
    val coalesces = nodes(df).collect { case c: CoalesceExec => c }
    assert(coalesces.size == 1 && sortInputs(df).map(coalesced) == Seq(true) &&
      scansCoalesced(df) && exchanges(df).isEmpty, plan(df))
    val ref = query("q02_project_derive")
    assert(rows.nonEmpty && rows == withoutSmallSort(ref.collect().toSeq))
  }
}
