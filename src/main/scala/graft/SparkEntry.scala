package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The product surface is the union of the registry modules below: each
  * operator from SURVEY.md §2 lands as one named, oracle-checked query.
  */
object SparkEntry {
  private def modules: Seq[Q.Module] = Seq(
    graft.queries.Relational,
    graft.queries.Windows,
    graft.queries.Aggs,
    graft.queries.Events,
    graft.queries.Vectors,
    graft.queries.Dedup,
    graft.queries.TextAnalysis,
    graft.queries.Multimodal,
    graft.queries.Sources,
    graft.queries.Extras,
    graft.queries.Scale)

  private lazy val all: Seq[Q] = {
    val qs = modules.flatMap(_.defs)
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_flagship_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * first runs [[prepare]] on the session it is given, so every caller
    * of the registry (Verify, Bench, tools, specs, the benchmark harness)
    * plans on the same session setup. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> { (s: SparkSession, d: String) => prepare(s); q.fn(s, d) }
    }.toMap

  /** Idempotent session prep, cheap enough to run before every query:
    *  - `spark.sql.legacy.parquet.nanosAsLong`, which [[Tables.events]]
    *    needs, is set before the first table loads. It is part of the
    *    [[Tables]] schema-cache key, so setting it later would make every
    *    table loaded before the first events read be inferred again. Only
    *    `events.ts` can be `TIMESTAMP(NANOS)`; every other fixture
    *    timestamp is µs, which the conf leaves alone.
    *  - the whole engine is installed: the planner strategy, the
    *    optimizer rule and the six SQL functions of
    *    [[graft.plans.GraftExtensions]]'s one list, the same list its
    *    `withExtensions` route injects. Query code never registers a
    *    function or changes session state itself.
    */
  def prepare(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.plans.GraftExtensions.install(spark)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
