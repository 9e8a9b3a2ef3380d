package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming surface over the `events` table. The reference has no
  * streaming semantics (SURVEY.md §2 checklist) — this is the
  * checkpoint/resume + incremental-ingest design slot: the same windowed
  * aggregation is defined once and runs identically in batch (DuckDB-oracle
  * checked) and as a stream (watermark + tumbling window, validated against
  * the batch result in StreamingSpec).
  */
object Streaming {

  /** A file stream source reads a DIRECTORY: stage one in the temp dir
    * holding a symlink to `file`, deleted at JVM exit. The JVM deletes in
    * reverse order of registration, so the directory is registered first and
    * the link goes before it.
    */
  private[graft] def sourceDir(prefix: String, file: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    dir.toFile.deleteOnExit()
    val target = java.nio.file.Paths.get(file)
    val link = java.nio.file.Files.createSymbolicLink(dir.resolve(target.getFileName), target)
    link.toFile.deleteOnExit()
    dir.toString
  }

  /** shared transform: 5-minute tumbling window per event_type. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  def batch(spark: SparkSession, sfDir: String): DataFrame =
    windowedAgg(spark.read.parquet(s"$sfDir/events.parquet"))

  /** same aggregation through the streaming engine (file source, memory
    * sink, synchronous drain) — returns the materialized result.
    */
  def streamed(spark: SparkSession, sfDir: String, name: String = "stream_out"): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .parquet(sourceDir("graft_stream_src", s"$sfDir/events.parquet"))
      // watermarks require TIMESTAMP (LTZ); the parquet column is NTZ.
      // Session TZ is pinned to UTC so the cast is deterministic.
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = windowedAgg(src.withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  // ---------------------------------------------------- stateful streaming

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(idx: Int, start: Long, end: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_idx: Int, n_events: Long,
                              session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, sum_value: Double)

  val SessionGapSec = 1800L

  /** True custom-state streaming sessionization:
    * `KeyValueGroupedDataset.flatMapGroupsWithState` with an event-time
    * timeout. A session CLOSES (emits) when a later event arrives more than
    * 30 min after it, or when the watermark passes its gap timeout; each
    * user's final session stays open in state until the watermark advances —
    * with a finite AvailableNow source there is no further data to advance
    * it, so the open tail sessions are intentionally unemitted (OpsSpec
    * validates stream == batch on the closed sessions).
    */
  def sessionsStream(spark: SparkSession, sfDir: String,
                     name: String = "sessions_out"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val batchEvents = spark.read.parquet(s"$sfDir/events.parquet")
    val schema = batchEvents.schema
    withAdaptiveStateParts(spark, batchEvents) { state =>
    val src = state.readStream.schema(schema)
      .parquet(sourceDir("graft_sess_src", s"$sfDir/events.parquet"))
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .as[SessionEvent]

    val q = src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        SessionHandler.apply _)
      .withColumn("sum_value", round(col("sum_value"), 6))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    state.table(name)
    }
  }

  /** The per-group state handler, in its own serializable object — an
    * eta-expanded local def would capture the enclosing (non-serializable)
    * module and fail closure serialization on executors.
    */
  private[ops] object SessionHandler extends Serializable {
    import org.apache.spark.sql.streaming.GroupState
    def apply(userId: Long, events: Iterator[SessionEvent],
              state: GroupState[SessionState]): Iterator[SessionOut] = {
      val out = Seq.newBuilder[SessionOut]
      def emit(s: SessionState): Unit = out += SessionOut(userId, s.idx, s.n,
        new java.sql.Timestamp(s.start * 1000), new java.sql.Timestamp(s.end * 1000), s.sum)
      if (state.hasTimedOut) {
        state.getOption.foreach(emit)
        state.remove()
      } else {
        // micro-batch arrival order within a group is not time-ordered
        val sorted = events.toArray.sortBy(_.ts.getTime)
        var cur = state.getOption.orNull
        sorted.foreach { e =>
          val t = e.ts.getTime / 1000
          if (cur == null) cur = SessionState(1, t, t, 1, e.value)
          else if (t - cur.end > SessionGapSec) {
            emit(cur)
            cur = SessionState(cur.idx + 1, t, t, 1, e.value)
          } else cur = cur.copy(end = math.max(cur.end, t), n = cur.n + 1, sum = cur.sum + e.value)
        }
        if (cur != null) {
          state.update(cur)
          // a group whose latest event is LATE can have a desired timeout
          // behind the current watermark — Spark throws on that; clamp to
          // just past the watermark so the session times out on the next
          // watermark advance instead of failing the query
          val desired = (cur.end + SessionGapSec) * 1000
          state.setTimeoutTimestamp(math.max(desired, state.getCurrentWatermarkMs + 1))
        }
      }
      out.result().iterator
    }
  }

  /** stateful sessionization per user: events within 30 min of each other
    * belong to one session (flatMapGroupsWithState analogue via window lag —
    * batch form; demonstrates the session-window op).
    */
  def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val gapped = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    gapped.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        round(sum(col("value")), 6).as("sum_value"))
  }

  /** Run `body` on a child session of `spark` whose
    * `spark.sql.shuffle.partitions` is set from the batch-side input's size
    * ([[graft.core.SparkUtil.adaptiveParts]]). A stateful streaming query
    * pins its STATE partition count to this conf at query start; the session
    * default (tuned for the wide batch queries) would give every micro-batch
    * `cpus` state-store tasks and checkpoint files regardless of key
    * cardinality — pure per-batch overhead on small streams, and still
    * size-scaled on big ones. The child copies the caller's modifiable SQL
    * conf (a new session starts from the SparkContext's conf, without the
    * caller's runtime settings such as its time zone) and gets the caller's
    * partition count back before returning; `spark`'s own conf never changes.
    */
  private[graft] def withAdaptiveStateParts[T](spark: SparkSession,
                                               sized: DataFrame)(body: SparkSession => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val child = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) child.conf.set(k, v)
    }
    child.conf.set(key, graft.core.SparkUtil.adaptiveParts(sized).toString)
    try body(child) finally child.conf.set(key, spark.conf.get(key))
  }

  private def streamSrcDir(sfDir: String): String =
    graft.sources.ReaderStage.stageDir(sfDir).resolve("stream_dedup_src").toString

  /** Stage the corpus as the 4-file copy [[dedupExactStream]] reads, once per
    * corpus signature ([[graft.core.Derived.ensure]]), outside any timed
    * region and with no fresh /tmp copy per call.
    */
  private[graft] def ensureStreamSrc(spark: SparkSession, sfDir: String): Unit = {
    val dir = streamSrcDir(sfDir)
    graft.core.Derived.ensure(java.nio.file.Paths.get(dir, "_CORPUS_SIG"),
      "v1:" + graft.core.FileSig.of(s"$sfDir/documents.parquet")) {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(4).write.mode("overwrite").parquet(dir)
    }
  }

  /** Streaming EXACT DEDUP over an incrementally-arriving document corpus —
    * the training-pipeline ingest shape: fingerprint groups maintained as
    * streaming aggregation state, keeper = min doc_id. Defined as an
    * AGGREGATION (not `dropDuplicates`) so the result is independent of
    * micro-batch arrival order — the surviving doc per group is a property
    * of the data, and the DuckDB oracle is the SAME SQL as the batch
    * `dedup_exact`. At unbounded scale the state would be bounded with
    * `dropDuplicatesWithinWatermark`-style eviction; with the finite
    * AvailableNow source complete-mode state is the whole fingerprint
    * table, which is exactly the batch op's shuffle footprint.
    */
  def dedupExactStream(spark: SparkSession, sfDir: String,
                       name: String = "dedup_stream_out"): DataFrame = {
    // the source corpus is a single parquet file; the staged 4-file copy is
    // fed one file per trigger, so the fingerprint state genuinely
    // accumulates across several micro-batches instead of degenerating to
    // one batch job (which rows land in which arrival wave is irrelevant —
    // the aggregation is arrival-order-independent by construction)
    val dir = streamSrcDir(sfDir)
    val batchDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val schema = batchDocs.schema
    withAdaptiveStateParts(spark, batchDocs) { state =>
    val src = state.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    // Harness boundary, stated plainly: complete-mode + a memory sink
    // collect the fingerprint table to the driver, which is fine for the
    // finite gate/bench corpus this query runs on but NOT the production
    // shape — an unbounded deployment bounds state with
    // dropDuplicatesWithinWatermark-style eviction and appends keepers to a
    // durable sink (the `linkedCheckpointed` pattern); the aggregation
    // itself (the part under test) is identical in both.
    val q = src
      .select(md5(col("text")).as("fingerprint"), col("doc_id"))
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    state.table(name)
    }
  }
}
