package graft

import java.io.File
import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pins the schema cache behind [[Tables.load]]: a cached load has
  * exactly the schema a bare `spark.read.parquet` infers, a repeat load
  * runs no Spark job, and neither a rewritten table nor a flipped
  * parquet read conf is ever served a schema inferred before the change.
  */
class TablesSchemaSpec extends SparkSuite {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def bare(path: String) = spark.read.parquet(path).schema

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("tablesschema").toFile
    d.deleteOnExit()
    d
  }

  test("(a) a cached load has the bare read's schema, for every fixture table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      val path = s"$sfDir/$t.parquet"
      // twice: the first load infers, the second is served the cache
      // (StructType equality covers names, types and nullability)
      Seq.fill(2)(Tables.load(spark, sfDir, t).schema).foreach { got =>
        assert(got == bare(path), s"$t: cached-load schema drifted")
      }
    }
    // the loader-level contract on top: events.ts is BIGINT nanoseconds
    assert(Tables.events(spark, sfDir).schema("ts").dataType == LongType)
  }

  test("(b) a second load of the same table starts no Spark job") {
    Tables.lineitem(spark, sfDir)
    assert(jobsDuring(Tables.lineitem(spark, sfDir)) == 0)
    assert(jobsDuring(Tables.events(spark, sfDir)) == 0)
    // the counter does see a job: a bare read runs its inference job
    assert(jobsDuring(spark.read.parquet(s"$sfDir/lineitem.parquet")) >= 1)
  }

  test("(c) a table rewritten with an added column is inferred again") {
    val dir = tmpDir()
    val path = s"$dir/t.parquet"
    Tables.region(spark, sfDir).write.mode("overwrite").parquet(path)
    val before = Tables.load(spark, dir.getPath, "t").schema
    assert(!before.fieldNames.contains("extra"))
    Tables.region(spark, sfDir).withColumn("extra", lit(7L))
      .write.mode("overwrite").parquet(path)
    val after = Tables.load(spark, dir.getPath, "t")
    assert(after.schema == bare(path))
    assert(after.schema.fieldNames.last == "extra")
    assert(after.agg(sum(col("extra"))).head().getLong(0) ==
      7L * Tables.region(spark, sfDir).count())
  }

  test("(d) a flipped parquet read conf never sees the other value's schema") {
    // An INT64 TIMESTAMP(NANOS) column, the other driver generation of
    // events.ts (Spark cannot write one, so parquet-mr writes it).
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val path = s"$dir/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally writer.close()

    def outcome(load: => org.apache.spark.sql.DataFrame) =
      Try(load.schema).toEither.left.map(_.getClass)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    for (v <- Seq("true", "false", "true", "false")) withConf(key, v) {
      assert(outcome(Tables.load(spark, dir.getPath, "nanos")) ==
        outcome(spark.read.parquet(path)), s"$key=$v")
    }
    withConf(key, "true") {
      val df = Tables.load(spark, dir.getPath, "nanos")
      assert(df.schema("ts").dataType == LongType)
      assert(df.head().getLong(0) == 1700000000123456789L)
    }
    // same rule for a conf that retypes the micros fixture's timestamps
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    for (v <- Seq("true", "false", "true")) withConf(ntz, v) {
      assert(Tables.orders(spark, sfDir).schema ==
        bare(s"$sfDir/orders.parquet"), s"$ntz=$v")
    }
  }

  test("a partitioned directory reads with the partition column last") {
    val path = s"${tmpDir()}/part"
    Tables.nation(spark, sfDir).write.mode("overwrite")
      .partitionBy("n_regionkey").parquet(path)
    val df = Tables.read(spark, path)
    assert(df.schema == bare(path))
    assert(df.schema.fieldNames.last == "n_regionkey")
    assert(df.filter(col("n_regionkey") === 1).count() ==
      Tables.nation(spark, sfDir).filter(col("n_regionkey") === 1).count())
  }
}
