package graft

import org.apache.spark.sql.SparkSession

/** The one place a program entry point builds its Spark session
  * (Bench, Verify, the tools, the test suite). Registry calls still run
  * [[SparkEntry.prepare]] themselves, so it is not repeated here. */
object Session {

  // Read once: SPARK_GRAFT_CPUS defaults to 4.
  private val envCpus = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
  private val envShufflePartitions =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)

  /** The session the mains run on: `local[SPARK_GRAFT_CPUS]`, shuffle
    * width `SPARK_GRAFT_SHUFFLE_PARTITIONS` if set, else the core count.
    *
    * The width defaults to the core count (the driver-gate config) but
    * the decade receipts override it UP: at sf100 a 600M-row distinct
    * on 32 reduce partitions put ~19M rows in each task's aggregate map
    * and the 48g heap OOM'd nondeterministically (r18 q332). A real
    * cluster never runs shuffle.partitions == cores at 100 TB —
    * partitions are sized to the DATA (AQE coalesces the excess) — so
    * the receipt config gets the same dial. */
  def local(): SparkSession =
    local(envCpus, envShufflePartitions.getOrElse(envCpus))

  /** A `local[cpus]` session with `shufflePartitions` reduce partitions,
    * the UTC session zone, compressed RDD caches and no UI. */
  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Pin UTC: Tables.events normalizes the micros fixture through
      // TIMESTAMP in the session zone, so an unpinned zone on a non-UTC
      // host would shift the ts contract.
      .config("spark.sql.session.timeZone", "UTC")
      // Compress serialized RDD caches: the DISK_ONLY edge checkpoints
      // of the iterative operators (PageRank's src-pinned pin) are long
      // pairs that compress ~3x, and the sf100 receipt died with the
      // UNcompressed pin + setup shuffles within a rounding error of
      // the whole spill disk. Deserialized caches (Memo, persist) are
      // unaffected by this flag. A production cluster sets it for the
      // same reason.
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
