package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins Verify's failure manifest: a query that throws is named in
  * `failed.json` next to `oracle_sql.json`, and the queries that ran
  * still get their result directories. */
class VerifySpec extends SparkSuite {

  test("a throwing query is reported in failed.json, the rest still dump") {
    val out = Files.createTempDirectory("verifyspec")
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok_query" -> ((s, d) => Tables.region(s, d)),
      "bad_query" -> ((_, _) => throw new IllegalStateException("boom")))
    val failed = Verify.run(spark, sfDir, out.toString, queries)
    assert(failed == Seq("bad_query"))
    assert(Files.readString(out.resolve("failed.json")) == "[\"bad_query\"]")
    assert(Files.exists(out.resolve("oracle_sql.json")))
    assert(spark.read.parquet(s"$out/ok_query").count() ==
      Tables.region(spark, sfDir).count())
    assert(!Files.exists(out.resolve("bad_query")))
  }

  test("a clean run writes an empty failure manifest") {
    val out = Files.createTempDirectory("verifyspec")
    val failed = Verify.run(spark, sfDir, out.toString,
      Seq("ok_query" -> ((s: SparkSession, d: String) => Tables.nation(s, d))))
    assert(failed.isEmpty)
    assert(Files.readString(Paths.get(s"$out/failed.json")) == "[]")
  }
}
