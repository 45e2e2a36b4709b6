package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Time-series ETL — the Spark-native form of the reference's HVAC sensor
  * pipeline (reference: src/pipeline_batch.py): cleaning with per-zone
  * forward-fill (clean_data:36), rolling mean/std features over 3- and
  * 12-row windows (engineer_features:70), lag + rate-of-change features
  * (engineer_features:131-140), plus time-bucket resampling and gap-based
  * sessionization (the general form of the reference's episode logic).
  *
  * Zone analog: `events.user_id`; reading analog: `events.value`.
  *
  * The reference loops over zones in driver Python
  * (pipeline_batch.py:100 `for zone in df['zone_id'].unique()`); here every
  * per-zone computation is a single window spec partitioned by the key, so
  * the work distributes across executors and scales with key cardinality —
  * no driver-side iteration.
  *
  * Determinism: event time is carried as epoch microseconds (`ts_us`,
  * BIGINT — DuckDB's ns-timestamps and Spark's µs-timestamps agree after
  * truncation); window order is always (ts_us, event_id); windowed
  * means/stds go through exact DECIMAL window sums (a DuckDB segment tree
  * and Spark's streaming frame evaluation may add doubles in different
  * orders, decimals are order-free).
  */
object TimeSeries {

  private val dec = DecimalType(18, 2)

  /** Events with comparable µs event time. */
  def base(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))

  /** [[base]] hash-partitioned on `user_id` across the session's shuffle
    * partitions: the exchange the per-key windows plan over a multi-split
    * read anyway, placed ahead of them. For consumers that checkpoint the
    * window output and then run heavy work on it: over a one-split table
    * read (see Tables' Scale notes) the windows would otherwise need no
    * exchange, and the checkpoint would hold one partition. */
  def baseByKey(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).repartition(col("user_id"))

  private def keyOrder: WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))

  /** Cleaning: simulate sensor dropouts (readings on 'error' events are
    * null) then per-key forward-fill in time order, dropping leading nulls
    * (reference: pipeline_batch.py:57 groupby-ffill + dropna). */
  def clean(events: DataFrame): DataFrame = {
    val filled = last(
      when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")),
      ignoreNulls = true)
      .over(keyOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    events
      .withColumn("value_filled", filled)
      .filter(col("value_filled").isNotNull)
      .select("event_id", "user_id", "ts_us", "value_filled")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Linear interpolation of dropout readings per key in time order — the
    * pandas `interpolate(method='linear')` analog ([[clean]] is the ffill
    * form): a null reading becomes
    * v_prev + (v_next − v_prev) · (ts − ts_prev) / (ts_next − ts_prev)
    * over the nearest non-null neighbours by ACTUAL timestamp (irregular
    * gaps weight correctly). Boundary nulls fall back to the available
    * side (ffill/bfill). Two per-key window passes, no shuffle beyond the
    * key partition — scales like every other ts_* operator. The
    * arithmetic is one fixed associativity shape shared with the oracle
    * twin. */
  def interpolate(events: DataFrame): DataFrame = {
    val raw = when(col("event_type") === "error", lit(null).cast("double"))
      .otherwise(col("value"))
    val wPrev = keyOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = keyOrder.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevV = last(raw, ignoreNulls = true).over(wPrev)
    val prevT = last(when(raw.isNotNull, col("ts_us")), ignoreNulls = true).over(wPrev)
    val nextV = first(raw, ignoreNulls = true).over(wNext)
    val nextT = first(when(raw.isNotNull, col("ts_us")), ignoreNulls = true).over(wNext)
    val frac = (col("ts_us") - col("__pt")).cast("double") /
      (col("__nt") - col("__pt")).cast("double")
    events
      // all four window columns in ONE projection (r20): same partition
      // + order, two frames → a single Window operator; the former
      // one-withColumn-per-neighbour chain planned FOUR Window passes
      .select(col("*"), raw.as("__raw"),
        prevV.as("__pv"), prevT.as("__pt"),
        nextV.as("__nv"), nextT.as("__nt"))
      .withColumn("value_interp",
        when(col("__raw").isNotNull, col("__raw"))
          .when(col("__pv").isNotNull && col("__nv").isNotNull,
            when(col("__nt") === col("__pt"), col("__pv"))
              .otherwise(col("__pv") + (col("__nv") - col("__pv")) * frac))
          .otherwise(coalesce(col("__pv"), col("__nv"))))
      .withColumn("is_interpolated", col("__raw").isNull)
      .filter(col("value_interp").isNotNull)
      .select("event_id", "user_id", "ts_us", "value_interp", "is_interpolated")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Exact windowed mean from the shared frame aggregates
    * (min_periods=1): the same cast(sum)/cast(count) IEEE op chain as the
    * pre-r20 per-column form, so values are bit-identical. */
  private def rollMeanFrom(s1: Column, cnt: Column): Column =
    s1.cast("double") / cnt

  /** Exact windowed sample-std via the decimal sum/sum-of-squares identity
    * over the shared frame aggregates; single-row frames yield 0
    * (reference fills std NaN with 0, pipeline_batch.py:107). Same op
    * chain as the pre-r20 form — bit-identical values. */
  private def rollStdFrom(s1d: Column, s2d: Column, cnt: Column): Column =
    coalesce(
      sqrt(greatest(
        (s2d.cast("double") - s1d.cast("double") * s1d.cast("double") / cnt)
          / when(cnt > 1, cnt - 1),
        lit(0.0))),
      lit(0.0))

  /** Rolling features: trailing 3-row and 12-row mean/std per key
    * (reference: pipeline_batch.py:103-127 rolling 15-min/60-min stats). */
  def rollingFeatures(events: DataFrame): DataFrame =
    rollingFeaturesUnsorted(events).orderBy("user_id", "ts_us", "event_id")

  /** [[rollingFeatures]] without the presentation sort — for consumers
    * that aggregate, re-sort or materialize the frame themselves (the
    * optimizer elides the sort under aggregation, but an eager
    * checkpoint/write would pay a useless global exchange+sort for rows
    * whose order the consumer discards).
    *
    * r20 (optimization round): every DISTINCT (aggregate, frame) pair is
    * computed exactly once in ONE projection, so Catalyst plans a single
    * Window operator carrying 6 aggregate columns. The pre-r20
    * one-withColumn-per-feature form planned FOUR Window operators (one
    * exchange, but four partition passes) and duplicated shared
    * aggregates inside them — the dumped plan showed count(1) evaluated
    * three times and sum(value_dec) twice per std column, 60 decimal
    * frame-adds + 60 count-adds per row where 30 + 15 suffice. The
    * mean/std expressions consume the shared aggregates through the
    * identical IEEE op chain, so output is bit-identical (oracle-gated). */
  def rollingFeaturesUnsorted(events: DataFrame): DataFrame = {
    val vdec = col("value").cast(dec)
    val w3 = keyOrder.rowsBetween(-2, Window.currentRow)
    val w12 = keyOrder.rowsBetween(-11, Window.currentRow)
    events
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"),
        sum(vdec).over(w3).as("__s1_3"),
        sum(vdec * vdec).over(w3).as("__s2_3"),
        count(lit(1)).over(w3).as("__c_3"),
        sum(vdec).over(w12).as("__s1_12"),
        sum(vdec * vdec).over(w12).as("__s2_12"),
        count(lit(1)).over(w12).as("__c_12"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"),
        rollMeanFrom(col("__s1_3"), col("__c_3")).as("mean_3"),
        rollStdFrom(col("__s1_3"), col("__s2_3"), col("__c_3")).as("std_3"),
        rollMeanFrom(col("__s1_12"), col("__c_12")).as("mean_12"),
        rollStdFrom(col("__s1_12"), col("__s2_12"), col("__c_12")).as("std_12"))
  }

  /** Lag-1 and rate-of-change features
    * (reference: pipeline_batch.py:131-140 shift(1) + diff()). */
  def lagDelta(events: DataFrame): DataFrame =
    // lag computed ONCE in one projection, delta derived from it (r20;
    // the withColumn chain planned two Window passes, each evaluating
    // its own lag) — same values by definition
    events
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        lag(col("value"), 1).over(keyOrder).as("value_lag1"))
      .withColumn("delta", col("value") - col("value_lag1"))
      .select("event_id", "user_id", "ts_us", "value", "value_lag1", "delta")
      .orderBy("user_id", "ts_us", "event_id")

  /** Time-RANGE windowed features: mean/count over a trailing wall-clock
    * interval (the reference's "15-min window" is really row-based because
    * its sensor grid is regular — pipeline_batch.py:103; event streams are
    * irregular, so the range frame is the faithful generalization). */
  def rangeFeatures(events: DataFrame, windowUs: Long = 900000000L): DataFrame = {
    val wr = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-windowUs, Window.currentRow)
    // shared frame aggregates computed once in ONE projection (r20): the
    // withColumn form planned two Window passes and evaluated count(1)
    // three times; same cast(sum)/count op chain → bit-identical values
    events
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        sum(col("value").cast(dec)).over(wr).as("__s"),
        count(lit(1)).over(wr).as("n_range"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        (col("__s").cast("double") / col("n_range")).as("mean_range"),
        col("n_range"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** As-of lookup: each event carries the value of the most recent PRIOR
    * 'purchase' event of its key — the window form of an as-of join
    * (composing built-ins per the preference order; no custom operator
    * needed because the probe and build sides share the key/time axis). */
  def asofLastPurchase(events: DataFrame): DataFrame = {
    val w = keyOrder.rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(w))
      .select("event_id", "user_id", "ts_us", "event_type", "value",
        "last_purchase_value")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Hourly resample per event type: count / exact total / min / max / mean
    * (reference: dashboard_app.py:408 daily counts; pandas resample analog).
    * Bucketing is pure integer µs arithmetic — engine-agnostic. */
  def resampleHourly(events: DataFrame): DataFrame = {
    val bucket = (col("ts_us") - (col("ts_us") % lit(3600000000L))).as("bucket_us")
    events
      .groupBy(bucket, col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).as("v_dec"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        col("bucket_us"), col("event_type"), col("n_events"),
        col("v_dec").cast("double").as("total_value"),
        (col("v_dec").cast("double") / col("n_events")).as("avg_value"),
        col("min_value"), col("max_value"))
      .orderBy("bucket_us", "event_type")
  }

  /** Gap-based sessionization: a >12h silence starts a new session; one
    * output row per (key, session) with span + exact value total. The
    * general form of the reference's fault-episode segmentation
    * (generate_hvac_data.py:115 episode windows). */
  def sessionize(events: DataFrame, gapUs: Long = 43200000000L): DataFrame = {
    val prev = lag(col("ts_us"), 1).over(keyOrder)
    val newSess = when(prev.isNull || (col("ts_us") - prev) > gapUs, 1).otherwise(0)
    events
      .withColumn("new_sess", newSess)
      .withColumn("session_id",
        sum(col("new_sess"))
          .over(keyOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).as("v_dec"))
      .select(col("user_id"), col("session_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"),
        col("v_dec").cast("double").as("total_value"))
      .orderBy("user_id", "session_id")
  }
}
