package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Memo

/** Pins the per-fixture-dir build memo the shared-build queries ride
  * (co-purchase graph, k-means model, basketItems/l2PairsMin2): one
  * build per (key, dir) while the backing fixture files are unchanged,
  * a REBUILD — not a stale serve — the moment any backing file's
  * (name, length, mtime) stamp moves (the r14 advice: GenSf1
  * regenerates a dir in-JVM and the old memo key was the bare dir
  * string), and entries that hold localCheckpointed frames keep them
  * scannable across the harness's per-query clearCache.
  */
class MemoSpec extends SparkSuite {

  private def tmpFixtureDir(): File = {
    val d = Files.createTempDirectory("memospec").toFile
    d.deleteOnExit()
    d
  }

  private def writeTable(dir: File, table: String, bytes: Int): File = {
    val f = new File(dir, s"$table.parquet")
    val out = new FileOutputStream(f)
    out.write(new Array[Byte](bytes))
    out.close()
    f
  }

  test("same dir + unchanged files: build runs once, value is reused") {
    val dir = tmpFixtureDir()
    writeTable(dir, "t", 16)
    var builds = 0
    def get() = Memo.cached[java.lang.Integer](
      spark, dir.getPath, "memospec-hit", Seq("t")) {
      builds += 1
      (Int.box(builds), Seq.empty)
    }
    assert(get() == 1 && get() == 1 && builds == 1)
  }

  test("a changed backing file rebuilds instead of serving stale") {
    val dir = tmpFixtureDir()
    val f = writeTable(dir, "t", 16)
    var builds = 0
    def get() = Memo.cached[java.lang.Integer](
      spark, dir.getPath, "memospec-stale", Seq("t")) {
      builds += 1
      (Int.box(builds), Seq.empty)
    }
    assert(get() == 1)
    // same length, different mtime — the weakest signal the stamp
    // (name, length, lastModified) must still catch
    assert(f.setLastModified(f.lastModified() + 73000))
    assert(get() == 2, "mtime-only change must invalidate the memo")
    // different length
    writeTable(dir, "t", 32)
    assert(get() == 3, "length change must invalidate the memo")
    assert(get() == 3 && builds == 3)
  }

  test("an absent table stamps distinctly from an empty-file table") {
    val dir = tmpFixtureDir()
    val absent = Memo.tableStamp(dir.getPath, Seq("t"))
    writeTable(dir, "t", 0)
    val present = Memo.tableStamp(dir.getPath, Seq("t"))
    assert(absent != present)
  }

  test("directory-layout tables stamp every part file") {
    val dir = tmpFixtureDir()
    val sub = new File(dir, "t.parquet")
    assert(sub.mkdir())
    val part = new File(sub, "part-0")
    Files.write(part.toPath, Array[Byte](1, 2, 3))
    val before = Memo.tableStamp(dir.getPath, Seq("t"))
    Files.write(part.toPath, Array[Byte](1, 2, 3, 4))
    assert(Memo.tableStamp(dir.getPath, Seq("t")) != before)
  }

  test("a different session object rebuilds — never serves another session's entry") {
    // Verify's restart path (r15 verdict #7): a stopped-then-rebuilt
    // session in the same JVM must NOT be served a prior session's
    // memo — its localCheckpoint blocks died with the old session's
    // executors. The stamp keys on session identity, so ANY distinct
    // session object (newSession() here — same context, different
    // identity, no teardown cost) must rebuild.
    val dir = tmpFixtureDir()
    writeTable(dir, "t", 16)
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession) =
      Memo.cached[java.lang.Integer](s, dir.getPath, "memospec-session", Seq("t")) {
        builds += 1
        (Int.box(builds), Seq.empty)
      }
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    assert(get(s1) == 1 && get(s1) == 1, "same session must reuse")
    assert(get(s2) == 2, "a rebuilt session must rebuild, not serve freed blocks")
    // … and the key is the LATEST session: s1 coming back after s2
    // rebuilt is itself a stale identity and rebuilds again.
    assert(get(s1) == 3 && builds == 3)
  }

  test("a new session supersedes a checkpoint-holding entry on a live context") {
    // The superseded entry's checkpoint is released (its context is
    // live) and the new session's build is served, without error.
    val dir = tmpFixtureDir()
    writeTable(dir, "t", 16)
    def get(s: org.apache.spark.sql.SparkSession) =
      Memo.cached[org.apache.spark.sql.DataFrame](
        s, dir.getPath, "memospec-supersede", Seq("t")) {
        val d = s.range(10).toDF().localCheckpoint(true)
        (d, Seq(d))
      }
    def rddIds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
    val first = get(spark.newSession())
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(rddIds(first).nonEmpty && rddIds(first).forall(persisted))
    val second = get(spark.newSession())
    assert(second ne first)
    assert(second.count() == 10)
    assert(!rddIds(first).exists(spark.sparkContext.getPersistentRDDs.contains),
      "the superseded entry's checkpoint must be released")
  }

  test("a memoized localCheckpoint frame survives catalog clearCache") {
    val dir = tmpFixtureDir()
    writeTable(dir, "t", 16)
    val df = Memo.cached[org.apache.spark.sql.DataFrame](
      spark, dir.getPath, "memospec-ckpt", Seq("t")) {
      val d = spark.range(100).select(col("id"),
        (col("id") * 2).as("v")).localCheckpoint(true)
      (d, Seq(d))
    }
    assert(df.count() == 100)
    spark.catalog.clearCache() // the harness's per-query hygiene step
    assert(df.agg(sum(col("v"))).head().getLong(0) == 9900L)
  }
}
