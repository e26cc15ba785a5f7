package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.queries.{Dedup, TextAnalysis}

/** Pins scan widths counted from the file listing, and the queries that
  * read each table once.
  *
  * `Tables.scanWidth` counts a scan's splits from its file index's
  * listing; the planned frame's `rdd.getNumPartitions` is the reference
  * here, and only here. Fanning out a scan starts no job and broadcasts
  * nothing, and building q309 starts no job. q39, q97 and q313 each read
  * their table once where they used to read it through a union of two
  * or three scans, with the same rows as the union form, which is kept
  * inline below as the reference.
  */
class ScanWidthSpec extends SparkSuite with AdaptiveSparkPlanHelper with BeforeAndAfterAll {

  /** A fixture dir beside the default sf0.001 one. */
  private def fixture(sf: String): String = s"${new java.io.File(sfDir).getParent}/$sf"

  private val sf01 = fixture("sf0.1")

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private lazy val root = java.nio.file.Files.createTempDirectory("scan_width").toFile

  /** PlanEvidenceSpec's multi-file copy: sf0.001 documents in 8 files. */
  private lazy val manyDir: String = {
    val dir = s"${root.getPath}/many"
    spark.read.parquet(s"$sfDir/documents.parquet").repartition(8).write.parquet(dir)
    dir
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(root)
    super.afterAll()
  }

  private def query(name: String, dir: String = sfDir): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Every plan the frame's last action ran: the final plan, stages
    * included, and the plans of the caches it read. */
  private def plans(p: SparkPlan): Seq[SparkPlan] =
    p +: collect(p) { case m: InMemoryTableScanExec => m.relation.cachedPlan }
      .distinct.flatMap(plans)

  private def scans(df: DataFrame): Int =
    plans(df.queryExecution.executedPlan).map(collect(_) { case s: FileSourceScanExec => s }.size).sum

  private def sameRows(got: DataFrame, ref: DataFrame): Unit = {
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  /** The listing's count, and the planned frame's partition count. */
  private def widths(df: DataFrame): (Int, Int) =
    (Tables.scanWidth(df), df.rdd.getNumPartitions)

  test("the listing's split count equals the planned scan's partition count") {
    SparkEntry.prepare(spark)
    val fixtures = for (dir <- Seq(sfDir, fixture("sf0.01"), sf01); t <- tables)
      yield s"$t at $dir" -> Tables.load(spark, dir, t)
    val chain = Tables.events(spark, sf01).filter(col("value") > 0).select(col("user_id"))
    val lineitem = Tables.lineitem(spark, sf01)
    val cases = fixtures ++ Seq(
      "events chain at sf0.1" -> chain,
      "8-file documents" -> spark.read.parquet(manyDir),
      "sf0.1 lineitem" -> lineitem)
    val wrong = cases.flatMap { case (label, df) =>
      val (listed, planned) = widths(df)
      if (listed == planned) None else Some(s"$label: listing $listed, planned $planned")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    assert(widths(lineitem)._1 > 1 && widths(spark.read.parquet(manyDir))._1 > 1)
    // A split size below the file's length cuts one file into several.
    withConf("spark.sql.files.maxPartitionBytes", (128 * 1024).toString) {
      val (listed, planned) = widths(Tables.documents(spark, sf01))
      assert(listed > 1 && listed == planned, s"listing $listed, planned $planned")
    }
  }

  test("scanWidth requires a Project/Filter chain over one file scan") {
    val docs = Tables.documents(spark, sfDir)
    for (df <- Seq(docs.unionByName(docs), docs.join(docs, "doc_id"), spark.range(10).toDF(),
        docs.groupBy(col("lang")).count()))
      intercept[IllegalArgumentException](Tables.scanWidth(df))
  }

  test("fanOut of a scan starts no job and broadcasts nothing") {
    SparkEntry.prepare(spark)
    val sc = spark.sparkContext
    val builds = Seq[() => DataFrame](
      () => Tables.documents(spark, sfDir), () => Tables.documents(spark, sf01),
      () => Tables.lineitem(spark, sf01), () => Tables.events(spark, sf01))
    builds.foreach(b => Tables.fanOut(b())) // infers each schema once
    // A fresh frame per check: a frame's `rdd` is built once and kept.
    for (build <- builds) {
      assert(jobsDuring(Tables.fanOut(build())) == 0)
      // Broadcast ids are consecutive: one broadcast in between would
      // take the id between these two.
      val scan = build()
      val before = sc.broadcast(0)
      Tables.fanOut(scan)
      val after = sc.broadcast(0)
      try assert(after.id == before.id + 1, s"${after.id - before.id - 1} broadcasts")
      finally { before.destroy(); after.destroy() }
    }
  }

  test("q309's DataFrame build starts no job") {
    query("q309_containment_dedup") // infers the schema once
    try assert(jobsDuring(query("q309_containment_dedup")) == 0)
    finally spark.catalog.clearCache()
  }

  test("q39 reads events once, with the rows of its union form") {
    def union(dir: String): DataFrame = {
      val e = Tables.events(spark, dir).select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts div 1000").as("us"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("us"), lit(0).as("kind"),
          col("event_id"), col("event_id").as("view_id"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), lit(1).as("kind"),
          col("event_id"), lit(null).cast("long").as("view_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      views.unionByName(purch)
        .withColumn("attr_view", last(col("view_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id").as("purchase_id"), col("user_id"), col("attr_view"))
    }
    for (dir <- Seq(sfDir, sf01)) {
      val df = query("q39_asof_join", dir)
      assert(df.collect().nonEmpty)
      assert(scans(df) == 1, s"$dir:\n${df.queryExecution.executedPlan}")
      sameRows(df, union(dir))
    }
  }

  test("q97 reads documents twice, with the rows of its union form") {
    def union(dir: String): DataFrame = {
      val evalDocs = Tables.documents(spark, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val training = Tables.fanOut(Tables.documents(spark, dir)).filter(col("doc_id") >= 20)
        .select(col("doc_id"), col("text"))
        .unionByName(evalDocs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      TextAnalysis.contaminated(spark, training, evalDocs)
    }
    for (dir <- Seq(sfDir, sf01)) {
      val df = query("q97_decontamination", dir)
      assert(df.collect().nonEmpty)
      assert(scans(df) == 2, s"$dir:\n${df.queryExecution.executedPlan}")
      sameRows(df, union(dir))
    }
  }

  test("q313 reads documents once, with the rows of its union form") {
    def union(dir: String): DataFrame = {
      val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      Dedup.winnowPairs(spark, base.unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))))
    }
    try for (dir <- Seq(sfDir, sf01)) {
      val df = query("q313_winnowing_dedup", dir)
      assert(df.collect().nonEmpty)
      assert(scans(df) == 1, s"$dir:\n${plans(df.queryExecution.executedPlan).mkString("\n")}")
      sameRows(df, union(dir))
    } finally spark.catalog.clearCache()
  }
}
