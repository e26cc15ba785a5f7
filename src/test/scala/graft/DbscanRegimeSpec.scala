package graft

import scala.util.Random

/** q269's two execution regimes (r18): below the corpus threshold the
  * persisted ε-pair set + point-graph CC (cheap at fixture SFs), above
  * it the grid-collapsed form that never materializes the ε-graph (the
  * r17 rewrite that took sf100 from disk-death to 87 s). The regimes
  * are an execution-layout choice only — this spec pins the claim by
  * running BOTH on one clustered 2-D corpus (the registry entry picks
  * the direct branch, and the spec passes the grid regime to q269's
  * body) and asserting the census rows are identical, including
  * cluster labels, roles, and counts.
  */
class DbscanRegimeSpec extends SparkSuite {

  test("q269 census is identical in direct and grid-collapsed regimes") {
    import spark.implicits._
    val rng = new Random(269)
    // 25 clusters on a 0.1 grid; jitter up to 0.012 > eps puts some
    // members outside every core's ε-ball (borders/noise), while the
    // tight majority (jitter ≤ 0.004 < eps) forms cores. 14 isolated
    // far points are guaranteed noise.
    val eps = 0.01
    val pts = (0 until 25).flatMap { c =>
      val cx = (c % 5) * 0.1
      val cy = (c / 5) * 0.1
      (0 until 30).map { i =>
        val r = if (i < 22) 0.004 else 0.012
        (cx + (rng.nextDouble() * 2 - 1) * r,
          cy + (rng.nextDouble() * 2 - 1) * r)
      }
    } ++ (0 until 14).map(i => (10.0 + i * 1.0, 10.0 + i * 1.0))
    val dir = java.nio.file.Files.createTempDirectory("dbscanregime").toString
    try {
      pts.zipWithIndex
        .map { case ((x, y), i) =>
          (i.toLong, Seq(x.toFloat, y.toFloat)) }
        .toDF("vec_id", "embedding")
        .repartition(4).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      def census(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] = {
        val rows = df.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        spark.sharedState.cacheManager.clearCache()
        rows
      }
      val direct = census(SparkEntry.queries("q269_dbscan")(spark, dir))
      assert(direct.map(_._3).sum == pts.size, s"census misses points: $direct")
      assert(direct.exists(_._2 == "border") && direct.count(_._2 == "core") > 1,
        s"degenerate fixture (no borders or single cluster): $direct")
      val grid = census(queries.Vectors.dbscan(spark, dir, grid = true))
      assert(grid == direct,
        s"regimes disagree:\n direct=$direct\n grid=$grid")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}
