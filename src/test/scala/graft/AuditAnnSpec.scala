package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import scala.util.Random

/** The retrieval-audit family's at-scale ANN shortlist (r14,
  * Vectors.auditPairs): above the corpus threshold the probe→candidate
  * pair generation swaps from the exact broadcast scan to the trained
  * IVF cell map (nprobe=4) with exact re-ranking on the shortlist.
  * This spec pins the property that makes the swap honest: on a
  * CLUSTERED corpus (the geometry IVF exists for) the shortlist's
  * exact-cosine top-10 recalls ≥ 0.7 of the true exact top-10, and the
  * exact mode stays the bit-level default at fixture scale.
  */
class AuditAnnSpec extends SparkSuite {

  private def topk(pairs: org.apache.spark.sql.DataFrame, k: Int) = {
    import spark.implicits._
    val cos = graft.functions.CosineSimilarity.cosineSim _
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("score").desc, col("cid"))
    pairs
      .select(col("pid"), col("cid"), cos(col("pe"), col("ce")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("cid"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
  }

  test("ANN shortlist top-10 recall >= 0.7 vs exact on a clustered corpus") {
    SparkEntry.prepare(spark)
    val rng = new Random(7)
    val dim = 16
    val centers = Array.fill(40)(Array.fill(dim)(rng.nextDouble() * 2 - 1))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 40)
      (i.toLong, c.map(x => (x + (rng.nextDouble() - 0.5) * 0.2).toFloat).toSeq,
        i % 40)
    }
    val dir = java.nio.file.Files.createTempDirectory("auditann").toString
    try {
      import spark.implicits._
      rows.toDF("vec_id", "embedding", "label")
        .repartition(4).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")

      val e = Tables.embeddings(spark, dir)
      val probes = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"))
      val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))

      val exact = topk(graft.queries.Vectors.auditPairs(spark, dir,
        probes, cands, forceAnn = Some(false)), 10)
      val ann = topk(graft.queries.Vectors.auditPairs(spark, dir,
        probes, cands, forceAnn = Some(true)), 10)

      assert(exact.size == 400, s"expected 400 probes, got ${exact.size}")
      // Every probe must survive the shortlist (its own cell holds its
      // ~49 cluster siblings, so candidates always exist).
      assert(ann.keySet == exact.keySet,
        s"probes lost in ANN mode: ${(exact.keySet -- ann.keySet).take(5)}")
      val recalls = exact.map { case (p, ex) =>
        ann(p).intersect(ex).size.toDouble / ex.size }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.7, f"mean shortlist recall $mean%.3f < 0.7")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("fixture scale defaults to the exact path (oracle bit-compat)") {
    // At <= AuditAnnMinCorpus candidates the auto gate must pick the
    // exact scan: same pair SET as the explicit exact mode on the
    // sf0.001 fixture (20-200 vectors).
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val probes = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val auto = graft.queries.Vectors.auditPairs(spark, sfDir, probes, cands)
      .select(col("pid"), col("cid")).as[(Long, Long)].collect().toSet
    val exact = graft.queries.Vectors.auditPairs(spark, sfDir, probes, cands,
      forceAnn = Some(false))
      .select(col("pid"), col("cid")).as[(Long, Long)].collect().toSet
    assert(auto == exact && auto.nonEmpty,
      s"auto mode diverged from exact at fixture scale (${auto.size} vs ${exact.size})")
  }
}
