package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Schema-drift guard for the `events` loader (round-9 postmortem: the
  * driver's writer switched ns-as-INT64 → TIMESTAMP_MICROS and the
  * hard-coded ns loader took down every events-dependent key). Pins the
  * contract: `Tables.events` must load ns-as-long, TIMESTAMP_NTZ(µs) and
  * TIMESTAMP(µs) files to the SAME canonical rows, without mutating the
  * legacy nanos conf on the µs paths. */
class EventsSchemaDriftSpec extends AnyFunSuite {
  import TestSpark.spark

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** The live sf0.001 events, canonicalized, as the ground truth. */
  private lazy val canonical: Array[(Long, Long)] = {
    Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").limit(2000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  /** Write `df` to a temp dir as `events.parquet` and load via Tables. */
  private def roundTrip(df: DataFrame): Array[(Long, Long)] = {
    val dir = Files.createTempDirectory("events-drift").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").limit(2000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  /** The live events, canonical, as a frame to write drifted forms of. */
  private def live: DataFrame =
    Tables.events(spark, TestSpark.sf).orderBy("event_id").limit(2000)

  test("ns-as-plain-INT64 events file loads to canonical µs instants") {
    // ts as raw ns longs, no parquet timestamp annotation — the legacy
    // writer shape (modulo the NANOS annotation Spark cannot itself write)
    val nsLong = live
      .withColumn("ts", (unix_micros(col("ts")) * lit(1000L)).cast(LongType))
    val prev = spark.conf.getOption(nanosKey)
    val got = roundTrip(nsLong)
    assert(spark.conf.getOption(nanosKey) === prev,
      "plain-INT64 load must not touch the legacy nanos conf")
    assert(got.sameElements(canonical))
  }

  test("TIMESTAMP_NTZ(µs) events file loads to canonical µs instants") {
    // what pyarrow writes for timestamp[us] (isAdjustedToUTC=false)
    val ntz = live
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    val prev = spark.conf.getOption(nanosKey)
    val got = roundTrip(ntz)
    assert(spark.conf.getOption(nanosKey) === prev,
      "µs load must not touch the legacy nanos conf")
    assert(got.sameElements(canonical))
  }

  test("TIMESTAMP(µs, UTC-adjusted) events file loads to canonical µs instants") {
    val tz = live
    assert(tz.schema("ts").dataType === TimestampType)
    assert(roundTrip(tz).sameElements(canonical))
  }

  test("a canonical TIMESTAMP ts loads as a bare scan; an unsupported type fails loudly") {
    val dir = Files.createTempDirectory("events-drift").toString
    live.write.parquet(s"$dir/events.parquet")
    assert(Tables.events(spark, dir).queryExecution.analyzed
      .collect { case p: Project => p }.isEmpty)
    val bad = Files.createTempDirectory("events-drift").toString
    live.withColumn("ts", col("ts").cast("string")).write.parquet(s"$bad/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, bad))
    assert(e.getMessage.contains("events.ts: unsupported stored type StringType"), e.getMessage)
  }

  test("canonical ts type is TIMESTAMP regardless of stored form") {
    assert(Tables.events(spark, TestSpark.sf).schema("ts").dataType === TimestampType)
  }

  test("ns→µs truncation is exact integer division (no double rounding)") {
    // 2^53-breaking ns value: double division would corrupt the low bits
    val ns = 1700000000123456789L
    import spark.implicits._
    val got = Seq(ns).toDF("ts")
      .select(unix_micros(Tables.canonicalTs(LongType, col("ts"))))
      .head.getLong(0)
    assert(got === ns / 1000L)
  }
}
