package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event after timestamp normalization (µs since epoch → Timestamp).
  * Top-level: nested/private case classes break codegen'd encoders. */
case class Ev(user_id: Long, etime: Timestamp, event_type: String, value: Double)

/** One closed session per user. */
case class Session(user_id: Long, start: Timestamp, end: Timestamp,
    n_events: Long, total_value: Double)

/** Per-key sessionization state buffer. */
case class SessState(start: Long, last: Long, n: Long, total: Double)

/** Structured Streaming surface: SURVEY.md §2.9 ST1-ST5 in true streaming
  * form (the batch twins live in queries/Events.scala, where the DuckDB
  * oracle can check them).
  *
  * Every transform takes a DataFrame/Dataset so tests can feed a
  * MemoryStream and production can feed `readStream` — the plan is
  * identical either way, which is the point of Structured Streaming.
  *
  * Scale notes: state stores are per-key and incremental (watermark bounds
  * state size); the file source at 100 TB shards by input split exactly
  * like the batch scan. Nothing here collects to the driver.
  */
object EventStream {

  /** Streaming scan of a directory containing `events.parquet` fixtures,
    * normalized to typed [[Ev]] rows. The file source needs a directory;
    * `glob` narrows it to the events files. The fixture's timestamp
    * physical type has varied across driver generations (INT64 nanos vs
    * TIMESTAMP(MICROS) — see Tables.events); a streaming source needs
    * its schema up front, so the batch schema of `dir/glob`
    * ([[graft.Tables.schemaOf]]: inferred once per fixture stamp, then
    * cached) picks the matching schema + event-time expression. */
  def fromEventsDir(spark: SparkSession, dir: String,
      glob: String = "events.parquet"): Dataset[Ev] = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Two fixture layouts: the driver writes events as ONE FILE named
    // events.parquet (pathGlobFilter matches the leaf file name inside
    // the fixture dir), while GenSf1's decade fixtures write a
    // DIRECTORY of part files under the same name — N input files let
    // Trigger.AvailableNow drain a 100x fixture in bounded multi-file
    // micro-batches instead of one giant single-file batch (the r13
    // sf10 classification put q108/q331 >60 s purely on that layout).
    // A directory is scanned directly: its part files are the leaves,
    // and pathGlobFilter (which only ever matches LEAF names) would
    // exclude every one of them.
    val dirLayout = new java.io.File(s"$dir/$glob").isDirectory
    val nanos = graft.Tables.schemaOf(spark, s"$dir/$glob")("ts").dataType ==
      org.apache.spark.sql.types.LongType
    val tsType = if (nanos) "BIGINT" else "TIMESTAMP_NTZ"
    val etime =
      if (nanos) timestamp_micros(expr("ts div 1000"))
      else col("ts").cast("timestamp")
    val schema = s"event_id BIGINT, ts $tsType, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val reader = spark.readStream.schema(schema)
    val stream = if (dirLayout) reader.parquet(s"$dir/$glob")
      else reader.option("pathGlobFilter", glob).parquet(dir)
    stream
      .select(col("user_id"), etime.as("etime"),
        col("event_type"), col("value"))
      .as[Ev]
  }

  /** ST1/ST4: watermarked tumbling-window counts — late data beyond the
    * watermark is dropped, state is bounded. The value total is a
    * decimal-exact sum (graft.dsl.dsum): a double sum's result depends
    * on partial-aggregation order, which in a streaming aggregate also
    * varies with how rows split across micro-batches — decimal addition
    * is associative, so the streamed total equals the batch oracle's
    * bit-for-bit (the q330 hash gate). */
  def windowedCounts(events: DataFrame,
      window_ : String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("etime", watermark)
      .groupBy(window(col("etime"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.dsl.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("total_value"))

  /** ST2: watermarked sliding windows. */
  def slidingCounts(events: DataFrame,
      window_ : String = "10 minutes",
      slide: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("etime", watermark)
      .groupBy(window(col("etime"), window_, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))

  /** ST3: built-in session windows with watermark. */
  def sessionCounts(events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("etime", watermark)
      .groupBy(col("user_id"), session_window(col("etime"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n_events"), col("total_value"))

  /** ST5: custom per-key state machine — gap-based sessionization with
    * flatMapGroupsWithState. Emits a [[Session]] when the gap closes it.
    * `timeout=NoTimeout` leaves the in-progress session in state until a
    * later event closes it (pass ProcessingTimeTimeout in a long-running
    * deployment to flush trailing sessions; AvailableNow triggers never
    * quiesce with timeout-driven wakeups, so tests use NoTimeout).
    */
  def sessionize(events: Dataset[Ev], gapMs: Long,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[Session] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, timeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(user, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.etime.getTime)
            val closed = Seq.newBuilder[Session]
            var cur = state.getOption
            sorted.foreach { ev =>
              val t = ev.etime.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessState(s.start, math.max(s.last, t), s.n + 1, s.total + ev.value))
                case Some(s) =>
                  closed += Session(user, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessState(t, t, 1, ev.value))
                case None =>
                  cur = Some(SessState(t, t, 1, ev.value))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                if (useTimeout) state.setTimeoutDuration(gapMs)
              case None =>
            }
            closed.result().iterator
          }
      }
  }

  /** One running per-user tally emitted per input row (transformWithState
    * demo output). */
  case class UserTally(user_id: Long, n_events: Long, total_value: Double)

  /** ST5 on the Spark 4.x arbitrary-state v2 API: a StatefulProcessor
    * with a ValueState running tally per user — the modern replacement
    * for flatMapGroupsWithState (explicit state variables, TTL support,
    * state schema evolution). Emits the updated tally for every batch's
    * rows per key. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` →
    * `...state.RocksDBStateStoreProvider`): the v2 API keeps each state
    * variable in its own column family, which HDFS-backed stores lack.
    */
  def runningTally(events: Dataset[Ev]): Dataset[UserTally] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig}
    // Standalone encoder val: resolving it through the Dataset's implicits
    // inside the processor would close over the Dataset itself, which
    // cannot be shipped to executors (SPARK-28702).
    val stateEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble)
    val processor = new StatefulProcessor[Long, Ev, UserTally] {
      @transient private var tally: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        tally = getHandle.getValueState[(Long, Double)]("tally", stateEnc, TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[Ev],
          timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTally] = {
        var (n, tot) = if (tally.exists()) tally.get() else (0L, 0.0)
        rows.foreach { ev => n += 1; tot += ev.value }
        tally.update((n, tot))
        Iterator(UserTally(key, n, tot))
      }
    }
    events.groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append)
  }

  /** Streaming deduplication with bounded state: duplicates arriving
    * within the watermark horizon are dropped, state for older keys is
    * reclaimed — the streaming twin of exact dedup (q46), and the only
    * dedup shape with O(watermark-window) state at unbounded input. */
  def dedupWithinWatermark(events: DataFrame,
      keys: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("etime", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-stream interval JOIN with bounded state: each purchase is
    * attributed to the same user's clicks within the preceding
    * `windowMinutes`. Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark can reclaim join state as the
    * watermark advances — the only join shape that runs indefinitely on
    * two unbounded streams. Append-mode inner join; rows emit once both
    * watermarks pass the match window. */
  def attributedPurchases(events: DataFrame,
      windowMinutes: Int = 30,
      watermark: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("etime").as("c_time"))
      .withWatermark("c_time", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("etime").as("p_time"),
        col("value").as("p_value"))
      .withWatermark("p_time", watermark)
    // joinType "left_outer": purchases with NO in-window click still emit
    // (null c_time) once the watermark passes their join window — the
    // "unattributed conversions" stream. Outer emission is exactly what
    // the watermark bound buys: without it the engine could never decide
    // a match will not arrive.
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_time") <= col("p_time") &&
        col("c_time") >= col("p_time") - expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("p_user").as("user_id"), col("p_time"), col("p_value"),
        col("c_time"))
  }

  /** Stream-static ENRICHMENT join: every micro-batch of the stream joins
    * (broadcast) against a static dimension frame — no streaming state, no
    * watermark; the static side is re-planned per micro-batch, so a
    * refreshed dimension table is picked up on the next batch. This is
    * the dimension-lookup shape of a streaming ingest pipeline (user →
    * segment, doc → source metadata): the streaming twin of the J3
    * broadcast join, and the only stream join that needs zero state. */
  def enrich(events: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** foreachBatch UPSERT sink: every micro-batch overwrites its OWN
    * batch_id partition, so re-delivery of a batch after a failure
    * rewrites that partition in place instead of appending duplicates —
    * idempotent at-least-once, which is effectively exactly-once for
    * whole-batch outputs. This is the dependency-free parquet form of the
    * production idiom (foreachBatch + MERGE INTO a transactional table);
    * dynamic partitionOverwriteMode confines the overwrite to the
    * partitions present in the incoming batch. */
  def runForeachBatchUpsert(df: DataFrame, outDir: String): Unit = {
    val q = df.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.sparkSession.conf
          .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id").parquet(outDir)
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Wire a streaming result to an in-memory table and run it to
    * completion of the currently-available data (test/demo harness). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow self-terminates once the snapshot is processed.
    q.awaitTermination()
  }

  /** Append-mode parquet FILE sink — the production shape of
    * [[runToMemory]] for row-level streaming output. The memory sink
    * buffers every emitted row on the driver heap, which is exactly
    * right for fixture-scale results and exactly wrong one decade up:
    * q331's 10M enriched rows OOM an 8 GB heap (r14's sf10 run only
    * passed at 48 g). A file sink streams each micro-batch's rows to
    * disk through the normal writer path — the driver holds file
    * manifests, not data — which is how the 100 TB deployment would
    * run these queries anyway (the sink is a container swap; the PLAN
    * is untouched). File sinks are append-only by contract, which is
    * the mode every row-level query here uses. */
  def runToFileSink(df: DataFrame, path: String, checkpoint: String): Unit = {
    val q = df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
