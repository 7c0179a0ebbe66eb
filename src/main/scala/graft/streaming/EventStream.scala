package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the events table.
  *
  * The reference's incremental surface is its resumable batch-ack cursor
  * (/root/reference/src/sharding.rs:237-271) — bounded extraction. Our
  * streaming layer covers the unbounded analog: file-source readStream,
  * event-time watermarks, windowed aggregation, session windows, and
  * custom state via flatMapGroupsWithState.
  */
object EventStream {

  /** The events file (or directory of files) as a streaming source. The
    * file stream source requires a directory: a single parquet file streams
    * its parent with a glob filter.
    */
  private[graft] def source(spark: SparkSession, eventsPath: String): DataFrame = {
    val p = java.nio.file.Paths.get(eventsPath)
    val reader = spark.readStream.schema(spark.read.parquet(eventsPath).schema)
    if (java.nio.file.Files.isRegularFile(p))
      reader.option("pathGlobFilter", p.getFileName.toString)
        .parquet(p.getParent.toString)
    else reader.parquet(eventsPath)
  }

  /** Hourly event counts/sums per event_type over a watermarked stream of
    * events.
    */
  private def hourlyCounts(events: DataFrame): DataFrame =
    events
      // Event-time watermarks require TIMESTAMP (the table stores NTZ);
      // the session runs in UTC so the instant is unchanged.
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      // Back to NTZ on the way out: the input is NTZ and the session is
      // UTC, so the wall-clock value is unchanged — but a WRITTEN
      // TimestampType column becomes isAdjustedToUTC=true parquet under
      // TIMESTAMP_MICROS output, which external readers (the DuckDB
      // oracle's pandas bridge) surface as tz-aware and unequal to the
      // oracle's naive timestamps.
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming tumbling-window aggregation: [[hourlyCounts]] via readStream
    * over the events parquet, memory sink, Complete mode (all windows
    * emitted on the bounded input). Returns the final result table —
    * identical to the batch SQL aggregation, which is the DuckDB oracle.
    */
  def hourlyCountsStreaming(spark: SparkSession, eventsPath: String): DataFrame = {
    val stream = hourlyCounts(source(spark, eventsPath))
    val name = s"hourly_counts_${System.identityHashCode(stream)}"
    val q = stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Complete())
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    // Materialize before the in-memory sink table goes away.
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }

  /** PRODUCTION sink shape: the same [[hourlyCounts]] in Append mode to a
    * parquet directory with a checkpoint — bounded state (watermark expires
    * closed windows), restartable, no driver-memory sink. Only windows the
    * watermark has closed are emitted; the trailing open window stays in
    * state until more data (or a no-data batch) advances the watermark.
    * [[hourlyCountsStreaming]] stays the verify/oracle harness (Complete
    * mode emits everything on bounded input).
    */
  def hourlyCountsToFiles(spark: SparkSession, eventsPath: String,
                          outDir: String, checkpointDir: String): Unit = {
    val q = hourlyCounts(source(spark, eventsPath)).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Batch session-window aggregation (the built-in session_window
    * operator): sessions close after `gap` of inactivity per user.
    * SQL-expressible (lag + cumulative-sum sessionization) → oracled.
    */
  def sessionWindows(events: DataFrame, gap: String = "6 hours"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("n_events"), col("total_value"))

  // ---- custom streaming state: flatMapGroupsWithState ---------------------

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(start: Long, last: Long, n: Int, total: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
                           n_events: Int, total_value: Double)

  /** Custom sessionization over a stream of events, keyed by user:
    * closes and emits a session when a new event arrives more than `gapMs`
    * after the previous one (event-time, per key). Used with MemoryStream
    * in tests; the production shape for state Spark's built-in windows
    * can't express.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (st == null) st = SessionState(t, t, 1, e.value)
            else if (t - st.last > gapMs) {
              out += Session(userId, new Timestamp(st.start), st.n,
                math.rint(st.total * 100) / 100)
              st = SessionState(t, t, 1, e.value)
            } else st = st.copy(last = t, n = st.n + 1, total = st.total + e.value)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }
}
