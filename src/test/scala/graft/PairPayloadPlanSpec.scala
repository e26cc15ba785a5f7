package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The q50 lesson as a failing check (r16 verdict #6): in an ANN/dedup
  * kernel, NEVER materialize a candidate-pair frame and re-join the
  * vector payloads onto it — bucket the payloads and score inline. The
  * r16 first-cut q50 ANN mode violated this (pair frame + both
  * embeddings re-joined across a shuffle, ~1 KB/row at 16x bucket
  * volume) and filled the spill disk at sf10; the r13 audit family hit
  * the same wall. Twice-proven prose becomes a plan assertion here: no
  * SHUFFLE exchange in the ANN legs of q50/q109/q64 may carry TWO
  * vector-payload columns in one row — pair-scored rows must live and
  * die inside a codegen stage. (Broadcast exchanges are exempt: small
  * probe/dim sides SHOULD broadcast. Cache boundaries are opaque
  * leaves, which is fine — the pair-payload mistake happens on the
  * main path.)
  */
class PairPayloadPlanSpec extends SparkSuite {

  private val vecType = org.apache.spark.ml.linalg.SQLDataTypes.VectorType

  private def isPayload(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
    case ArrayType(et, _) if et == vecType                             => true
    case dt if dt == vecType                                           => true
    case _                                                             => false
  }

  /** Worst (max) number of vector-payload columns crossing any single
    * shuffle exchange of df's physical plan. AQE is switched off for
    * the planning so the exchange tree is statically visible. */
  private def maxPayloadPerShuffle(df: => DataFrame): Int = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val counts = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike =>
          e.child.output.map(_.dataType).count(isPayload)
      }
      if (counts.isEmpty) 0 else counts.max
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q50 ANN leg: no shuffle carries two embedding payloads") {
    SparkEntry.prepare(spark)
    val worst = maxPayloadPerShuffle(
      graft.queries.Dedup.embCosinePairs(spark, sfDir, forceAnn = Some(true)))
    assert(worst <= 1, s"a shuffle exchange carries $worst vector payloads " +
      "- pair rows with both embeddings left the codegen stage")
    spark.catalog.clearCache()
  }

  test("q109 SemDeDup: no shuffle carries two embedding payloads") {
    val worst = maxPayloadPerShuffle(
      SparkEntry.queries("q109_semantic_dedup")(spark, sfDir))
    assert(worst <= 1, s"a shuffle exchange carries $worst vector payloads")
    spark.catalog.clearCache()
  }

  test("q64 banded ml-LSH leg: no shuffle carries two index-set payloads") {
    val worst = maxPayloadPerShuffle(
      graft.queries.Extras.mlLshPairs(spark, sfDir, forceAnn = Some(true)))
    assert(worst <= 1, s"a shuffle exchange carries $worst vector payloads")
    spark.catalog.clearCache()
  }

  test("negative control: the r16 first-cut shape IS flagged") {
    // The reverted r16 q50 first cut, reconstructed: materialize a
    // candidate (da, db) frame, re-join BOTH embedding payloads, THEN
    // dedup — the distinct's exchange carries two ~1 KB arrays per
    // pair row. The checker must see it, or the green tests above are
    // vacuous. It reads a 4-file copy of embeddings: the one-file table
    // plans as one partition and nothing above it shuffles.
    def bad(e: DataFrame): DataFrame = {
      val cand = e.select(col("label"), col("vec_id").as("da"))
        .join(e.select(col("label"), col("vec_id").as("db")), Seq("label"))
        .filter(col("da") < col("db"))
      cand
        .join(e.select(col("vec_id").as("da"), col("embedding").as("ea")), Seq("da"))
        .join(e.select(col("vec_id").as("db"), col("embedding").as("eb")), Seq("db"))
        .distinct()
    }
    SparkEntry.prepare(spark)
    val dir = java.nio.file.Files.createTempDirectory("pairpayload").toFile
    try {
      val split = s"${dir.getPath}/embeddings"
      spark.read.parquet(s"$sfDir/embeddings.parquet").repartition(4).write.parquet(split)
      val pick = (df: DataFrame) => df.select(col("vec_id"), col("embedding"), col("label"))
      assert(maxPayloadPerShuffle(bad(pick(Tables.read(spark, split)))) >= 2,
        "checker failed to flag the known-bad pair-payload shape")
      assert(maxPayloadPerShuffle(bad(pick(Tables.embeddings(spark, sfDir)))) == 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }
}
