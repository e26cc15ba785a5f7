package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S9 — partitioned JDBC ingest (`dd.read_sql_table`'s Spark shape).
  *
  * Both legs are tested offline. The IO leg runs end-to-end against an
  * embedded in-memory Apache Derby table (JdbcReadSpec; Derby ships in
  * Spark's jars and Spark resolves its driver and dialect from the
  * URL), exercising Spark's real JDBC scan path: schema probe, partition
  * predicate generation, pushed filters, column pruning, row
  * materialization. The pure leg — the
  * part that decides whether a 100 TB table ingests in parallel or
  * through one connection — is the range→predicate split planner.
  * `columnPartition` reproduces the documented semantics of Spark's own
  * `spark.read.jdbc(url, table, column, lower, upper, numPartitions,
  * props)` splitter:
  *
  *   - stride = upper/n − lower/n (integer division FIRST — matching the
  *     engine's overflow-safe form, so bounds near Long.Max don't wrap;
  *     one deliberate deviation: when that form truncates to stride 0 on
  *     a small cross-zero range, the stride is re-derived from the exact
  *     width so every partition keeps a distinct boundary — see the
  *     inline note)
  *   - the FIRST stride is unbounded below and adopts the NULLs
  *     (`col < b OR col IS NULL`) — a lower bound is a split hint, not a
  *     filter; rows below it must still arrive
  *   - the LAST stride is unbounded above, for the same reason
  *   - middle strides are half-open `[b_i, b_{i+1})` — adjacent strides
  *     share no row, the union covers every value
  *   - a range narrower than the requested parallelism clamps the split
  *     count to the range width (an empty stride would hold a connection
  *     open for zero rows)
  *   - one partition → no predicate at all (full-table single scan)
  *
  * Scale notes for the real call: pick `column` indexed and roughly
  * uniform (a surrogate key, an epoch column); numPartitions bounds the
  * CONNECTION COUNT the database sees, so size it to what the source
  * survives, not to the cluster's core count; skewed keys make stride
  * splits uneven — pre-compute quantile bounds and pass them as custom
  * predicates instead (the `predicates` overload below).
  */
object Jdbc {

  /** Pure split planner: WHERE-clause predicate per partition.
    * `None` = no predicate (scan everything) — only for n = 1.
    */
  def columnPartition(column: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int): Seq[Option[String]] = {
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    require(lowerBound <= upperBound,
      s"lowerBound $lowerBound must be <= upperBound $upperBound")
    // Clamp: never more strides than distinct boundary gaps. The range
    // width upper-lower can overflow Long for extreme bounds; the
    // div-first stride below is overflow-safe, so clamp on the stride
    // instead: stride 0 with n > 1 means the range is narrower than n.
    val n: Int =
      if (numPartitions == 1) 1
      else {
        val width = BigInt(upperBound) - BigInt(lowerBound)
        if (width >= numPartitions) numPartitions
        else math.max(1, width.toInt)
      }
    if (n == 1) return Seq(None)
    // Truncate-toward-zero division makes the div-first form collapse to
    // stride 0 when the range straddles zero with |lower|, |upper| < n
    // (e.g. -5..6, n = 8: 6/8 − (-5)/8 = 0 − 0): every boundary would
    // equal lowerBound, the middle partitions would get vacuous
    // predicates, and all in-range rows would funnel into the last
    // connection — coverage stays exactly-once but the parallelism is
    // gone. Re-derive from the exact width in that case (floor division,
    // overflow-safe via BigInt); the clamp above guarantees width >= n,
    // so the re-derived stride is >= 1 and every boundary is distinct.
    val strideRaw = upperBound / n - lowerBound / n
    val stride =
      if (strideRaw > 0) strideRaw
      else ((BigInt(upperBound) - BigInt(lowerBound)) / n).toLong
    val bounds = (1 until n).map(i => lowerBound + stride * i)
    (0 until n).map { i =>
      val lb = if (i == 0) None else Some(s"$column >= ${bounds(i - 1)}")
      val ub = if (i == n - 1) None else Some(s"$column < ${bounds(i)}")
      (lb, ub) match {
        case (None, Some(u))    => Some(s"$u OR $column IS NULL")
        case (Some(l), None)    => Some(l)
        case (Some(l), Some(u)) => Some(s"$l AND $u")
        case (None, None)       => None // unreachable for n > 1
      }
    }
  }

  /** The IO call-site — tested end-to-end against embedded Derby
    * (JdbcReadSpec). Production use is the same call with the source's
    * driver jar on the classpath; Spark picks the driver from the URL:
    *
    * {{{
    * Jdbc.readPartitioned(spark, "jdbc:postgresql://…", "events",
    *   "event_id", lower, upper, n)
    * }}}
    *
    * Each partition's cursor fetches 10,000 rows per round-trip.
    */
  def readPartitioned(spark: SparkSession, url: String, table: String,
      column: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", column)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .option("fetchsize", 10000)
      .load()

  /** Predicate-per-partition ingest driven by THIS library's split
    * planner ([[columnPartition]]) instead of Spark's: the skew route —
    * production passes quantile bounds rather than min/max, so each
    * predicate covers an equal ROW share, not an equal key range. One
    * partition per predicate; `None` (no predicate) becomes the
    * tautology `1=1` because `DataFrameReader.jdbc` wraps each entry in
    * a WHERE clause unconditionally. */
  def readPlanned(spark: SparkSession, url: String, table: String,
      column: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int): DataFrame = {
    val predicates = columnPartition(column, lowerBound, upperBound,
      numPartitions).map(_.getOrElse("1=1")).toArray
    spark.read.jdbc(url, table, predicates, new java.util.Properties())
  }
}
