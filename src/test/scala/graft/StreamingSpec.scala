package graft

import java.sql.Timestamp

import graft.streaming.{Ev, EventStream, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Structured Streaming behavior through MemoryStream feeds: the streaming
  * plans must agree with their batch twins over the same data. */
class StreamingSpec extends SparkSuite {

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("windowedCounts over a stream == batch groupBy over same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evs = Seq(
      Ev(1, ts(0), "view", 1.0), Ev(1, ts(3), "view", 2.0),
      Ev(2, ts(11), "click", 3.0), Ev(1, ts(12), "view", 4.0),
      Ev(2, ts(25), "click", 5.0))
    val mem = MemoryStream[Ev]
    val q = EventStream.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode(OutputMode.Append).start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    // Append emits only watermark-closed windows; a far-future event
    // advances the watermark past every real window.
    mem.addData(Ev(9, ts(10000), "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wc_stream")
      .filter(col("event_type") =!= "flush")
      .select("ws", "event_type", "n").as[(Timestamp, String, Long)]
      .collect().toSet
    val want = evs.toDF()
      .groupBy(window(col("etime"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got == want)
  }

  test("flatMapGroupsWithState sessionize emits closed sessions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    // user 1: two events 5 min apart (one session), then a 90-min gap
    // opens a second session -> first session must be emitted closed.
    mem.addData(
      Ev(1, ts(0), "view", 1.0), Ev(1, ts(5), "view", 2.0),
      Ev(1, ts(95), "view", 3.0),
      Ev(2, ts(1), "click", 9.0))
    val out = EventStream.sessionize(mem.toDS(), gapMs = 30 * 60000L)
    val q = out.toDF().writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val closed = spark.table("sessions").as[Session].collect()
    assert(closed.length == 1)
    val s = closed.head
    assert(s.user_id == 1 && s.n_events == 2 && s.total_value == 3.0)
    assert(s.start == ts(0) && s.end == ts(5))
  }

  test("dropDuplicatesWithinWatermark removes in-horizon duplicates") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    // Keep event times well above epoch 0: a row whose etime equals the
    // initial watermark is treated as late and silently dropped.
    mem.addData(
      Ev(1, ts(600), "view", 1.0), Ev(1, ts(600), "view", 1.0), // dup
      Ev(1, ts(602), "view", 2.0),
      Ev(2, ts(601), "click", 3.0), Ev(2, ts(601), "click", 3.0)) // dup
    val out = EventStream.dedupWithinWatermark(mem.toDF(), Seq("user_id", "etime"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dedup_stream")
      .select("user_id", "etime").as[(Long, Timestamp)].collect().toSeq
    assert(rows.size == 3)
    assert(rows.toSet == Set((1L, ts(600)), (1L, ts(602)), (2L, ts(601))))
  }

  test("transformWithState running tally accumulates across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // The v2 state API needs column families → RocksDB provider.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val out = EventStream.runningTally(mem.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("tally")
      .outputMode(OutputMode.Append).start()
    mem.addData(Ev(1, ts(600), "view", 1.0), Ev(1, ts(601), "view", 2.0),
      Ev(2, ts(600), "click", 5.0))
    q.processAllAvailable()
    mem.addData(Ev(1, ts(602), "view", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tally")
      .select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSet
    // batch 1 emits the post-batch tallies; batch 2 emits user 1 updated.
    assert(rows == Set((1L, 2L, 3.0), (2L, 1L, 5.0), (1L, 3L, 7.0)))
  }

  test("streaming sessionize == batch lag+cumsum sessionization (q38)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Batch twin: the oracle-checked q38 with the same 30-minute gap.
    val batch = SparkEntry.queries("q38_sessionize")(spark, sfDir)
      .select(col("user_id"), col("sess_start"), col("sess_end"), col("n_events"))
      .as[(Long, Timestamp, Timestamp, Long)].collect()
      .map { case (u, st, en, n) => (u, st.getTime, en.getTime, n) }.toSet
    // Streaming emits a session only when a later event closes it, so the
    // final (still-open) session per user never appears — drop those from
    // the batch side before comparing.
    val lastPerUser = batch.groupBy(_._1).map { case (_, g) => g.maxBy(_._2) }.toSet
    val closedBatch = batch -- lastPerUser

    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("etime"),
        col("event_type"), col("value"))
      .as[Ev].collect()
    val mem = MemoryStream[Ev]
    mem.addData(evs.toIndexedSeq: _*)
    val out = EventStream.sessionize(mem.toDS(), gapMs = 30 * 60000L)
    val q = out.toDF().writeStream.format("memory").queryName("sess_equiv")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess_equiv").as[Session].collect()
      .map(s => (s.user_id, s.start.getTime, s.end.getTime, s.n_events)).toSet

    assert(streamed.nonEmpty)
    assert(streamed == closedBatch)
  }

  test("stream-static broadcast enrichment == batch join, keeps unmatched rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("d_user", "segment")
    val evs = Seq(Ev(1, ts(0), "view", 1.0), Ev(2, ts(1), "click", 2.0),
      Ev(3, ts(2), "view", 3.0))
    val mem = MemoryStream[Ev]
    val q = EventStream.enrich(mem.toDF(), dim, "user_id", "d_user")
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode(OutputMode.Append).start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_stream")
      .select(col("user_id"), col("segment"))
      .as[(Long, Option[String])].collect().toSet
    val want = evs.toDF()
      .join(broadcast(dim), col("user_id") === col("d_user"), "left")
      .select(col("user_id"), col("segment"))
      .as[(Long, Option[String])].collect().toSet
    assert(got == want)
    assert(got.contains((3L, None))) // left join keeps unmatched stream rows
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val evs = Seq(
      Ev(1, ts(600), "click", 0.0),
      Ev(1, ts(610), "purchase", 9.0),  // 10 min after click -> attributed
      Ev(2, ts(600), "click", 0.0),
      Ev(2, ts(700), "purchase", 5.0),  // 100 min after -> outside window
      Ev(3, ts(650), "purchase", 7.0))  // no click at all
    mem.addData(evs: _*)
    val out = EventStream.attributedPurchases(mem.toDF(), windowMinutes = 30)
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // advance both watermarks so the joined row flushes in append mode
    mem.addData(Ev(9, ts(10000), "click", 0.0), Ev(9, ts(10001), "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("attrib").filter(col("user_id") < 9)
      .select("user_id", "p_value").as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 9.0)))
    // batch twin over the same rows must agree
    val batch = EventStream.attributedPurchases(evs.toDF())
      .filter(col("user_id") < 9)
      .select("user_id", "p_value").as[(Long, Double)].collect().toSet
    assert(batch == got)
  }

  test("file sink + checkpoint: restart resumes exactly-once, no dupes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    def writeBatch(ids: Range, tag: String): Unit =
      ids.map(i => Ev(i.toLong, ts(600 + i), "view", i.toDouble)).toDF()
        .coalesce(1).write.mode("append").parquet(srcDir)
    writeBatch(0 until 50, "a")
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 50)
    // restart with no new data: the checkpoint must prevent re-emission
    runOnce()
    assert(spark.read.parquet(outDir).count() == 50)
    // new file arrives; restart processes ONLY the delta
    writeBatch(50 until 80, "b")
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 80)
    assert(out.select("user_id").distinct().count() == 80)
  }

  test("left-outer interval join emits unattributed purchases with null click") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val evs = Seq(
      Ev(1, ts(600), "click", 0.0),
      Ev(1, ts(610), "purchase", 9.0),  // attributed
      Ev(2, ts(600), "click", 0.0),
      Ev(2, ts(700), "purchase", 5.0),  // click outside window -> null
      Ev(3, ts(650), "purchase", 7.0))  // no click at all -> null
    mem.addData(evs: _*)
    val out = EventStream.attributedPurchases(mem.toDF(),
      windowMinutes = 30, joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // outer rows emit only once the watermark proves no match can arrive
    mem.addData(Ev(9, ts(10000), "click", 0.0), Ev(9, ts(10001), "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("attrib_outer").filter(col("user_id") < 9)
      .select(col("user_id"), col("p_value"), col("c_time").isNull)
      .as[(Long, Double, Boolean)].collect().toSet
    assert(got == Set((1L, 9.0, false), (2L, 5.0, true), (3L, 7.0, true)))
    // batch twin over the same rows must agree
    val batch = EventStream.attributedPurchases(evs.toDF(), joinType = "left_outer")
      .select(col("user_id"), col("p_value"), col("c_time").isNull)
      .as[(Long, Double, Boolean)].collect().toSet
    assert(batch == got)
  }

  test("foreachBatch upsert sink is idempotent under batch re-delivery") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert_sink").toString
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(600), "view", 1.0), Ev(2, ts(601), "view", 2.0))
    mem.addData(Ev(3, ts(602), "view", 3.0))
    EventStream.runForeachBatchUpsert(
      mem.toDF().select(col("user_id"), col("value")), s"$dir/out")
    val first = spark.read.parquet(s"$dir/out")
    val rows = first.select(col("user_id"), col("value"))
      .as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // simulate at-least-once re-delivery: rewrite batch 0's partition
    // with the same payload — dynamic overwrite replaces, never appends
    val redelivered = first.filter(col("batch_id") === 0)
      .select(col("user_id"), col("value"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    redelivered.withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(s"$dir/out")
    val after = spark.read.parquet(s"$dir/out")
      .select(col("user_id"), col("value")).as[(Long, Double)].collect()
    assert(after.length == 3 && after.toSet == rows, "re-delivery duplicated rows")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(dir))
  }

  test("streaming file source over the events fixture produces rows") {
    val ds = EventStream.fromEventsDir(spark, sfDir)
    EventStream.runToMemory(
      EventStream.windowedCounts(ds.toDF(), watermark = "0 seconds"),
      "file_stream", OutputMode.Complete)
    assert(spark.table("file_stream").count() > 0)
  }

  // SmallSort leaves a streaming aggregate to Spark's stateful plan. The
  // file source's batch leaf reports a real, small size, as
  // fromEventsDir's does, so a size gate alone would not keep it out.
  test("a complete-mode global count over a file stream keeps its running total and Spark's plan") {
    import spark.implicits._
    graft.plans.SmallSort.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_count_").toString
    def writeBatch(ids: Range): Unit =
      ids.map(i => Ev(i.toLong, ts(i), if (i % 2 == 0) "view" else "click", i.toDouble))
        .toDF().coalesce(1).write.mode("append").parquet(s"$root/src")
    writeBatch(0 until 30)
    val stream = spark.readStream.schema(spark.read.parquet(s"$root/src").schema)
      .parquet(s"$root/src")
    val q = stream.agg(count(lit(1)).as("n")).writeStream.format("memory")
      .queryName("global_count").outputMode(OutputMode.Complete).start()
    def total(): Seq[Long] = {
      q.processAllAvailable()
      spark.table("global_count").as[Long].collect().toSeq
    }
    try {
      assert(total() == Seq(30L))
      writeBatch(30 until 50)
      assert(total() == Seq(50L))
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("StateStoreSave") && !plan.contains("Coalesce"), plan)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  // A micro-batch over one small file is not planned as one partition:
  // the file source's batch relation is streaming, and stateful
  // operators in the same micro-batch need their own partitioning.
  test("a file-stream micro-batch over one file plans no Coalesce") {
    import spark.implicits._
    graft.plans.SmallSort.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_onefile_").toString
    (0 until 40).map(i => Ev(i.toLong, ts(i), if (i % 2 == 0) "view" else "click", i.toDouble))
      .toDF().coalesce(1).write.parquet(s"$root/src")
    val stream = spark.readStream.schema(spark.read.parquet(s"$root/src").schema)
      .parquet(s"$root/src")
    val q = stream.filter(col("event_type") === "view").select(col("user_id"), col("value"))
      .writeStream.format("memory").queryName("one_file_views").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("one_file_views").as[(Long, Double)].collect().sorted.toSeq
      assert(got == (0 until 40 by 2).map(i => (i.toLong, i.toDouble)))
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("FileScan") && !plan.contains("Coalesce"), plan)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(root))
    }
  }
}
