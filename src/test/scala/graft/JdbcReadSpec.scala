package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, IsNotNull, IsNull}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.sources.Jdbc

/** One in-memory Apache Derby table per test JVM: `people`, ids 0..999
  * with `name_<id>` and `score = id · 0.5`, plus one row with a NULL id
  * (the row the first stride's `… OR id IS NULL` clause must adopt).
  * Identifiers are unquoted, so Derby upper-cases them (`ID`, `NAME`,
  * `SCORE`); Spark resolves `col("id")` case-insensitively, and the
  * split planner's bare `id < 250` predicates resolve in Derby too. */
object DerbyPeople {
  val Table = "people"
  val RowCount: Long = 1001L
  val IdSum: Long = (0L until 1000L).sum

  lazy val Url: String = {
    val url = "jdbc:derby:memory:graft_people"
    val conn = java.sql.DriverManager.getConnection(s"$url;create=true")
    try {
      conn.createStatement().execute(
        s"CREATE TABLE $Table (id BIGINT, name VARCHAR(255), score DOUBLE)")
      val ins = conn.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?)")
      for (i <- 0 until 1000) {
        ins.setLong(1, i); ins.setString(2, s"name_$i"); ins.setDouble(3, i * 0.5)
        ins.addBatch()
      }
      ins.setNull(1, java.sql.Types.BIGINT); ins.setString(2, "name_null")
      ins.setDouble(3, -1.0); ins.addBatch()
      ins.executeBatch()
    } finally conn.close()
    url
  }
}

/** S9's IO leg, end-to-end: Spark's REAL JDBC scan path — schema probe,
  * per-partition predicate generation, pushed filters, row
  * materialization — against the embedded Derby table above (Derby
  * ships in Spark's jars; Spark picks its driver and dialect from the
  * URL). JdbcSplitSpec proves the split planner's math in isolation;
  * this suite proves the same exactly-once contract holds when the
  * predicates run through executors: N connections, union == full
  * table, the NULL-key row adopted by exactly one stride.
  */
class JdbcReadSpec extends SparkSuite {
  import DerbyPeople._

  /** The JDBC scan node of `df`'s physical plan. */
  private def scan(df: DataFrame): RowDataSourceScanExec =
    df.queryExecution.sparkPlan.collectFirst {
      case s: RowDataSourceScanExec => s
    }.getOrElse(fail(s"no JDBC scan in\n${df.queryExecution.sparkPlan}"))

  test("readPartitioned: Spark-split 4-way scan, union == table, NULL key adopted once") {
    val df = Jdbc.readPartitioned(spark, Url, Table, "id", 0, 999, numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    // Exactly-once coverage: full row count, no duplicate ids, the
    // NULL-id row present exactly once, and the id-sum invariant.
    assert(df.count() == RowCount)
    assert(df.filter(col("id").isNull).count() == 1)
    val agg = df.agg(
      countDistinct(col("id")).as("nid"),
      sum(col("id")).as("sid")).collect()(0)
    assert(agg.getLong(0) == RowCount - 1)
    assert(agg.getLong(1) == IdSum)
  }

  test("schema maps through JDBC type codes: BIGINT→long, VARCHAR→string, DOUBLE→double") {
    val df = Jdbc.readPartitioned(spark, Url, Table, "id", 0, 999, numPartitions = 2)
    assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      Seq("ID" -> LongType, "NAME" -> StringType, "SCORE" -> DoubleType))
    assert(df.schema.fields.forall(_.nullable))
  }

  test("readPlanned: this library's split predicates drive the scan, exactly-once") {
    val df = Jdbc.readPlanned(spark, Url, Table, "id", 0, 1000, numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == RowCount)
    assert(df.filter(col("id").isNull).count() == 1)
    assert(df.agg(countDistinct(col("id"))).collect()(0).getLong(0)
      == RowCount - 1)
    // The NULL row rides the FIRST stride (the planner's `… OR id IS
    // NULL` clause) — check per-partition: partition 0 holds it.
    val nullPart = df.select(col("id")).rdd
      .mapPartitionsWithIndex { (i, it) =>
        Iterator.single(i -> it.count(_.isNullAt(0)))
      }.collect().toMap
    assert(nullPart(0) == 1)
    assert((1 until 4).forall(nullPart(_) == 0))
  }

  test("readPlanned: clamp — range narrower than parallelism yields width partitions") {
    val df = Jdbc.readPlanned(spark, Url, Table, "id", 0, 3, numPartitions = 8)
    assert(df.rdd.getNumPartitions == 3) // planner clamps 8 → width 3
    assert(df.count() == RowCount) // bounds are hints, not filters
  }

  test("single partition: no predicate, one full-table scan") {
    val df = Jdbc.readPartitioned(spark, Url, Table, "id", 0, 999, numPartitions = 1)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == RowCount)
  }

  test("pushed filters reach Derby: numeric range and string equality") {
    val df = Jdbc.readPartitioned(spark, Url, Table, "id", 0, 999, numPartitions = 3)
    // Derby answers correctly whether or not Spark pushes a filter, so
    // the scan node itself must report each one as handled by the source.
    val hiDf = df.filter(col("id") >= 990).select(col("id"), col("score"))
      .orderBy(col("id"))
    assert(scan(hiDf).handledFilters ==
      Set(IsNotNull("ID"), GreaterThanOrEqual("ID", 990L)))
    val hi = hiDf.collect()
    assert(hi.length == 10)
    assert(hi.head.getLong(0) == 990 && hi.head.getDouble(1) == 495.0)
    val oneDf = df.filter(col("name") === "name_5")
    assert(scan(oneDf).handledFilters.contains(EqualTo("NAME", "name_5")))
    val one = oneDf.collect()
    assert(one.length == 1 && one(0).getAs[Long]("ID") == 5L)
    val nullDf = df.filter(col("id").isNull).select(col("name"))
    assert(scan(nullDf).handledFilters == Set(IsNull("ID")))
    assert(nullDf.collect()(0).getString(0) == "name_null")
  }

  test("column pruning reaches Derby: projecting nothing reads no column") {
    val df = Jdbc.readPartitioned(spark, Url, Table, "id", 0, 999, numPartitions = 2)
    // count() prunes every column: the scan's required schema is empty,
    // so the generated SELECT lists no column of the table.
    val pruned = df.select(lit(1))
    assert(scan(pruned).requiredSchema.isEmpty)
    assert(pruned.count() == RowCount)
  }

  test("direct DriverManager route works") {
    val conn = java.sql.DriverManager.getConnection(Url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT id, name FROM $Table WHERE id >= 998")
      var n = 0
      while (rs.next()) {
        assert(rs.getLong(1) >= 998L)
        assert(rs.getString(2).startsWith("name_"))
        n += 1
      }
      assert(n == 2) // 998, 999 (NULL id fails the comparison)
    } finally conn.close()
  }
}
