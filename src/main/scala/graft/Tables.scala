package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Memo
import graft.plans.SmallSort

/** Typed loaders for the fixture tables (see /root/repo/FIXTURES.md).
  *
  * All loads are plain parquet scans: Catalyst performs column pruning and
  * predicate/partition pushdown into the vectorized reader automatically,
  * which is what lets identical code run from the 6k-row sf0.001 fixture to
  * a 100 TB lake — task parallelism follows input splits
  * (`spark.sql.files.maxPartitionBytes`), not anything hard-coded here.
  *
  * Schema cache: a bare `spark.read.parquet` infers the schema with a
  * Spark job (a footer read, ~100 ms at fixture scale) every time it is
  * called, and most queries are nothing but scans. So [[read]] infers
  * each path's `StructType` once, with Spark's own inference, and every
  * later read declares it (`spark.read.schema(cached)`), which builds
  * the DataFrame with zero jobs. The cache key has three parts:
  *  - the path;
  *  - its content stamp ([[Memo.pathStamp]]: every file's name, length
  *    and mtime), so a table rewritten in the same JVM (GenSf1, spec
  *    temp dirs, a sink rewritten in place) is inferred again;
  *  - the session's values of every conf that changes what inference
  *    returns (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *    `spark.sql.caseSensitive`) — `spark.sql.legacy.parquet.nanosAsLong`
  *    decides the `ts` type; [[SparkEntry.prepare]] sets it before the
  *    first load, so it does not change the key mid-session.
  * A declared schema is safe at the 100 TB design point: the cached
  * schema IS the inferred one (all columns, nullable, partition columns
  * last, exactly as a bare read gives them — TablesSchemaSpec pins
  * this), and the cost of inference becomes one footer read per table
  * per stamp instead of one per query. The stamp walks the local file
  * system, where the fixtures live, listing the same files the scan's
  * own file index lists.
  */
object Tables {
  private val schemas = TrieMap.empty[(String, String, String), StructType]

  private def readConfs(s: SparkSession): String =
    s.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
      k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive"
    }.toSeq.sorted.mkString(",")

  /** The schema a bare `spark.read.parquet(path)` infers, cached as
    * described above. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    schemas.getOrElseUpdate((path, Memo.pathStamp(path), readConfs(spark)),
      spark.read.parquet(path).schema)

  /** `spark.read.parquet(path)` without the per-call inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fan a freshly-scanned frame out to the session's core count ONLY when
    * the scan itself yields materially fewer splits than cores.
    *
    * Why conditional: the round-robin repartition exists for the one-file
    * test fixture (a single parquet split runs every downstream per-row
    * stage on one core — round-1 bench: q53 11 s, q54 23 s), but
    * `repartition(n)` ALWAYS shuffles every row regardless of input split
    * count, so baking it in unconditionally would add a full extra pass
    * over the corpus to every text-pipeline plan at the 100 TB design
    * point. On any input whose scan already yields >= half the cores the
    * helper is the identity and the plan stays Exchange-free (pinned by
    * PlanEvidenceSpec). The split count is [[scanWidth]]'s, read from the
    * file listing, so fanning out builds nothing and runs nothing.
    *
    * A small one-split scan plans as `Coalesce 1` over the scan
    * ([[graft.plans.SmallSort]]), which reports one partition, so keyed
    * work over an unfanned one-file frame runs in that one task with no
    * exchange. The fan-out keeps its one round-robin exchange above the
    * coalesce (its map side was already the scan's one task), and keyed
    * work over the fanned frame still shuffles across the cores.
    *
    * Fan out the corpus-sized frame, never a constant slice of it.
    * Catalyst pushes a filter on a fanned frame under its round-robin
    * exchange, so each slice (`doc_id < 20`) starts its own job that
    * scans and shuffles the table again. Slices read the plain scan. A
    * frame built from more than one scan (a join, a union) is not a
    * scan: fan out the scan it starts from (q309's self-join, q313's
    * doubled ids).
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanWidth(df) * 2 >= target) df else df.repartition(target)
  }

  /** The number of splits the frame's file scan reads, counted from the
    * file index's listing as `FileSourceScanExec` packs them
    * ([[graft.plans.SmallSort.splits]]). The frame must be a
    * `Project`/`Filter` chain over one non-bucketed, non-streaming file
    * relation whose index is a listing; anything else fails the
    * `require`. The count is read from the analyzed plan, so no plan is
    * made, no reader is built, no Hadoop conf is broadcast and no job
    * runs. (The width used to come from the planned frame's
    * `rdd.getNumPartitions`: that planned the whole frame and built its
    * reader on every call, and over q309's self-join it ran the
    * broadcast's job while the DataFrame was being built.)
    */
  def scanWidth(df: DataFrame): Int = {
    val plan = df.queryExecution.analyzed
    val width = SmallSort.scanUnder(plan).flatMap(SmallSort.splits)
    require(width.isDefined,
      s"scanWidth needs a Project/Filter chain over one non-bucketed file scan, got:\n$plan")
    width.get
  }

  /** `events.parquet` — the fixture's timestamp physical type has varied
    * across driver generations: INT64 TIMESTAMP(NANOS) (which Spark 4
    * rejects without the legacy conf, then reads as nanos-since-epoch
    * BIGINT) and plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Every
    * downstream query is written against ONE stable contract — `ts` is
    * BIGINT nanoseconds since epoch, `timestamp_micros(ts div 1000)`
    * recovers the instant — so this loader normalizes whichever physical
    * type the file carries to that contract. The µs→ns conversion is a
    * zero-shuffle projection (exact integer multiply; µs-precision input
    * means no information is invented), and the cast through TIMESTAMP
    * is UTC-safe because every entry point (Verify/Bench/tests) pins the
    * session timezone to UTC. DuckDB sees TIMESTAMP(µs) either way, so
    * the oracles are unaffected by the fixture generation.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    SparkEntry.prepare(s) // sets nanosAsLong for direct callers
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw // nanos fixture
      case _ =>
        import org.apache.spark.sql.functions._
        raw.withColumn("ts",
          (unix_micros(col("ts").cast("timestamp")) * lit(1000L)))
    }
  }
}
