package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming form of the alerting pipeline — the real-time
  * analog of the reference's batch detector + dashboard feed
  * (reference: src/models.py rules over a growing table,
  * src/dashboard_app.py:408 trend counts; re-expressed as
  * readStream → watermark → window aggregation / stateless rules).
  *
  * The batch and streaming plans share the same expressions, so
  * `windowedCounts` on a static frame equals the streaming result after
  * `processAllAvailable` — asserted in StreamingSpec, which drives the
  * parquet file through a real streaming query with a memory sink.
  *
  * Scale: the windowed aggregate is keyed on (window, event_type); with a
  * watermark the state store evicts closed windows, so state is bounded by
  * (open windows × types) regardless of stream length.
  */
object StreamingAlerts {

  /** Schema of the events stream. `ts` is whatever the file stores
    * (ns-as-long or µs TIMESTAMP — same contract as `Tables.events`), so
    * the streaming schema is derived from a batch schema peek rather than
    * hard-coded; this template carries the non-ts columns. */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time",
      graft.sources.Tables.canonicalTs(df.schema("ts").dataType, col("ts")))

  /** Open a streaming source over an events parquet directory. The stored
    * ts type is discovered with a batch schema peek through `Tables.table`
    * (a cached footer read). A TIMESTAMP(NANOS) file peeks as `LongType`
    * through the table read's nanos-as-long fallback, which sets that
    * conf on a clone session only; the stream's own scan needs no conf,
    * since it reads the column as the `LongType` schema it is given, so
    * the caller's conf is never written.
    *
    * Handles BOTH table layouts: `events.parquet` as a single file (the
    * driver-generated sf dirs) is pinned via pathGlobFilter over the sf
    * directory, while `events.parquet` as a DIRECTORY of part files (the
    * multi-file layout every real writer produces — ScaleUp, any Spark
    * job) streams the directory itself. The former glob-only form read
    * ZERO rows from the directory layout — part files are named
    * part-*.parquet, so the glob silently excluded them (caught by the
    * r16 streaming scale record's empty state leg at sf1). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val tsType = graft.sources.Tables.table(spark, dir, "events").schema("ts").dataType
    val p = new org.apache.hadoop.fs.Path(dir, "events.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val src =
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
        spark.readStream.schema(eventsSchema(tsType)).parquet(p.toString)
      else
        spark.readStream.schema(eventsSchema(tsType))
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
    withEventTime(src)
  }

  /** Streaming source over a directory of time-ordered event chunk files,
    * one file per micro-batch (`maxFilesPerTrigger = 1`) — the replay
    * harness for SUSTAINED stateful runs ([[graft.StreamingIngestBench]]
    * drives N ≥ 8 micro-batches through [[windowedCounts]] with it). The
    * chunks are expected already written in event-time order (the file
    * source delivers by modification time), so the watermark advances
    * monotonically across batches and closed windows evict — the
    * bounded-state claim the sustained record measures. */
  def replayEvents(spark: SparkSession, chunkDir: String,
      tsType: DataType): DataFrame =
    withEventTime(spark.readStream.schema(eventsSchema(tsType))
      .option("maxFilesPerTrigger", "1")
      .parquet(chunkDir))

  /** 10-minute tumbling-window counts/sums per event type with a 1-hour
    * watermark (append-mode compatible). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("max_value"))

  /** Stateless streaming rule: per-record threshold alerts (the streaming
    * twin of AnomalyRules.thresholdAlerts' raw-value conjunct). */
  def thresholdAlerts(events: DataFrame, threshold: Double = 150.0): DataFrame =
    events
      .filter(col("value") > threshold)
      .select(col("event_id"), col("user_id"), col("event_time"),
        col("value"),
        lit("threshold_high").as("rule_name"),
        when(col("value") > 250, "high").otherwise("medium").as("severity"))

  /** Streaming dedup: keep the first event per (user, type) inside the
    * watermark — the streaming twin of a first-arrival groupBy (state is
    * one row per live key and is evicted past the watermark). */
  def dedupFirstEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .dropDuplicates("user_id", "event_type")

  /** Per-user session windows with a 12-hour inactivity gap — the
    * streaming twin of TimeSeries.sessionize, via the native
    * `session_window` aggregation. Works on both streaming and batch
    * frames; in streaming, state holds one open session per user and is
    * evicted once the watermark passes the session end.
    *
    * Boundary contract: `session_window` starts a NEW session when the
    * inter-event gap is ≥ the gap duration (strict merge `next < end`) —
    * the oracle twin mirrors this with `>=`. Session end = last event
    * + gap (the built-in's definition). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_time"), "12 hours"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("vdec"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("vdec").cast("double").as("total_value"))

  /** Batch twin of `sessionCounts` (query key st_session). */
  def sessionCountsBatch(spark: SparkSession, dir: String): DataFrame = {
    val events = withEventTime(graft.sources.Tables.table(spark, dir, "events"))
    events
      .groupBy(col("user_id"), session_window(col("event_time"), "12 hours"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("vdec"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("vdec").cast("double").as("total_value"))
      .orderBy("user_id", "session_start_us")
  }

  /** Batch equivalent of `windowedCounts` on the same data — the
    * oracle-checkable query surface (st_window_agg). */
  def windowedCountsBatch(spark: SparkSession, dir: String): DataFrame = {
    val events = withEventTime(graft.sources.Tables.table(spark, dir, "events"))
    events
      .groupBy(window(col("event_time"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("max_value"))
      .orderBy("window_start_us", "event_type")
  }
}
