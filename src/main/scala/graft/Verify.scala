package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failed.json, the names of the queries that threw. Exits non-zero when
  * any query threw, after writing both manifests. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional trailing query names restrict the run (local iteration).
    val only: Set[String] = rest.toSet
    val spark = Session.local()
    val failed = run(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) })
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Dump every query's result to `outDir/<name>`, then write
    * `oracle_sql.json` and `failed.json` there; returns the names of the
    * queries that threw, sorted. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.flatMap { case (name, fn) =>
      val error =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // Release this query's persisted frames: the 90-query single-session
      // run otherwise accumulates cached blocks (intra-query persists are
      // load-bearing during the action but dead after it) and the cache
      // pressure bleeds into every later query's timing/memory.
      spark.catalog.clearCache()
      error
    }.sorted
    val oracle = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map(q).mkString("[", ",", "]"))
    failed
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
