package graft

import org.apache.spark.sql.functions._

import scala.util.Random

/** q50's at-scale mode (r15 verdict #2): above the corpus threshold the
  * label-blocked EXACT all-pairs near-dup swaps to IVF-cell-blocked
  * candidates with the identical exact-cosine >= 0.35 verify. This spec
  * pins the two properties that make the swap honest:
  *
  *  1. SUBSET — every ANN pair is an exact pair with the bit-identical
  *     score (candidates only shrink; the verify is the same fold), so
  *     the scale path can never invent a duplicate.
  *  2. RECALL — on a CLUSTERED corpus (the geometry near-dup detection
  *     exists for: duplicates are tight clusters) the ANN path recovers
  *     >= 0.8 of the exact pairs. Like every IVF deployment, recall is
  *     a data-geometry property — structureless uniform noise has no
  *     cells to exploit (AuditAnnSpec's same caveat).
  *
  * The third case (r16 advice) exercises the SUB-SPLIT regime the
  * fixture corpora never reach: with the cell cap lowered below the
  * cluster size, every cell overflows and pairs are generated within
  * (cell, sub) only — the regime the decade runs actually operate in.
  * The subset property must hold UNCONDITIONALLY there; recall
  * degrades by design (a pair straddling two sub-cells is never
  * scored) but must keep a measured floor, not collapse.
  */
class EmbDedupAnnSpec extends SparkSuite {

  /** 2000 vectors in 40 tight clusters (~50 each), written as an
    * embeddings fixture under a temp dir; runs `body(dir)` and cleans
    * up. */
  private def withClusteredCorpus(body: String => Unit): Unit = {
    val rng = new Random(11)
    val dim = 16
    val centers = Array.fill(40)(Array.fill(dim)(rng.nextDouble() * 2 - 1))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 40)
      (i.toLong, c.map(x => (x + (rng.nextDouble() - 0.5) * 0.2).toFloat).toSeq,
        i % 40)
    }
    val dir = java.nio.file.Files.createTempDirectory("embdedupann").toString
    try {
      import spark.implicits._
      rows.toDF("vec_id", "embedding", "label")
        .repartition(4).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      body(dir)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  /** Assert every ANN pair (IVF cell cap `cap`) is an exact pair with
    * the identical score; return the recall. */
  private def subsetRecall(dir: String,
      cap: Long = graft.queries.Scale.ivfCellCap): Double = {
    val exact = graft.queries.Dedup.embCosinePairs(spark, dir,
      forceAnn = Some(false)).collect()
    val ann = graft.queries.Dedup.embCosinePairs(spark, dir,
      forceAnn = Some(true), cap = cap).collect()
    val exactByPair = exact.map { r =>
      (r.getLong(1), r.getLong(2)) -> r.getDouble(3)
    }.toMap
    assert(exactByPair.nonEmpty, "exact mode found no pairs — fixture degenerate")
    ann.foreach { r =>
      val k = (r.getLong(1), r.getLong(2))
      val got = exactByPair.get(k)
      assert(got.isDefined, s"ANN invented pair $k absent from exact")
      assert(got.get == r.getDouble(3),
        s"score mismatch for $k: exact ${got.get} vs ann ${r.getDouble(3)}")
    }
    ann.length.toDouble / exactByPair.size
  }

  test("q50 ANN mode: subset of exact with identical scores, recall >= 0.8 on clusters") {
    SparkEntry.prepare(spark)
    withClusteredCorpus { dir =>
      val recall = subsetRecall(dir)
      info(f"q50 ANN recall $recall%.3f")
      assert(recall >= 0.8, s"ANN recall $recall < 0.8")
    }
  }

  test("q50 ANN sub-split regime: overflowing cells stay a subset with bounded recall loss") {
    SparkEntry.prepare(spark)
    withClusteredCorpus { dir =>
      // Cap far below the ~50-row cluster cells so the sub-split is the
      // rule, not the exception — the regime a 512-cap hits at decade
      // scale with multi-thousand-row cells.
      try {
        val pm = graft.queries.Scale.ivfProbeMap(spark, dir, nprobe = 2, cap = 16)
        val split = pm.filter(col("sub") > 0).count()
        assert(split > 0,
          "cap 16 did not trigger the sub-split — regime untested")
        val recall = subsetRecall(dir, cap = 16)
        info(f"q50 ANN sub-split recall $recall%.3f ($split split rows)")
        // Floor, not target: straddling pairs are the documented trade.
        // Measured 0.401 on this corpus at cap 16/nprobe 2; 0.3 is the
        // regression line, far above the ~1/nsub collapse a broken
        // sub assignment (e.g. probe/member hashed differently) gives.
        assert(recall >= 0.3, s"sub-split recall $recall collapsed below 0.3")
      } finally {
        spark.catalog.clearCache()
      }
    }
  }

  test("fixture scale defaults to the exact path (oracle bit-compat)") {
    // At <= 10k vectors the auto gate must pick the exact all-pairs
    // scan: identical rows to the explicit exact mode on the fixture.
    SparkEntry.prepare(spark)
    val auto = graft.queries.Dedup.embCosinePairs(spark, sfDir).collect()
    val exact = graft.queries.Dedup.embCosinePairs(spark, sfDir,
      forceAnn = Some(false)).collect()
    assert(auto.toSeq == exact.toSeq)
  }
}
