package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Schema-drift guard for the fact-table loaders (`lineitem.l_shipdate`,
  * `orders.o_orderdate`) — the same outage class as the round-9 events
  * break: the writer flipping a date column's physical form must not take
  * down the ~40 keys reading these tables. Pins the contract documented
  * by the orders/lineitem contracts in Tables: ns-as-INT64, TIMESTAMP_NTZ(µs), DATE32
  * and canonical TIMESTAMP(µs) files all load to the SAME canonical
  * instants, the µs/DATE paths never touch the legacy nanos conf, and a
  * canonical file gains no extra Project over a bare scan. */
class FactSchemaDriftSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import TestSpark.spark

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  // every roundTrip temp dir is registered and deleted when the suite
  // ends — repeated test runs must not accumulate parquet copies
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = {
    tmpDirs.foreach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)); ()
    }
    super.afterAll()
  }

  private lazy val canonicalOrders: Array[(Long, Long)] =
    Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      .orderBy("o_orderkey").limit(2000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  private def roundTrip(df: DataFrame): Array[(Long, Long)] = {
    val dir = Files.createTempDirectory("fact-drift").toString
    tmpDirs += dir
    df.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      .orderBy("o_orderkey").limit(2000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  private def raw: DataFrame =
    Tables.table(spark, TestSpark.sf, "orders")
      .orderBy("o_orderkey").limit(2000)

  test("ns-as-plain-INT64 order dates load to canonical µs instants") {
    val prev = spark.conf.getOption(nanosKey)
    val ns = raw.withColumn("o_orderdate",
      (unix_micros(col("o_orderdate").cast("timestamp")) * 1000L))
    assert(roundTrip(ns).sameElements(canonicalOrders))
    assert(spark.conf.getOption(nanosKey) === prev,
      "plain-INT64 load must not touch the legacy nanos conf")
  }

  test("UTC-adjusted TIMESTAMP(µs) order dates load epoch-preserving under UTC pin") {
    val prev = spark.conf.getOption(nanosKey)
    val tz = raw.withColumn("o_orderdate",
      col("o_orderdate").cast("timestamp"))
    assert(roundTrip(tz).sameElements(canonicalOrders))
    assert(spark.conf.getOption(nanosKey) === prev,
      "µs load must not touch the legacy nanos conf")
  }

  test("DATE32 order dates load as midnight-UTC instants") {
    val prev = spark.conf.getOption(nanosKey)
    val dated = raw.withColumn("o_orderdate", col("o_orderdate").cast("date"))
    val got = roundTrip(dated)
    // the stored instants are already day-precision midnights in this
    // corpus, so the DATE round-trip is value-identical
    assert(got.sameElements(canonicalOrders))
    assert(spark.conf.getOption(nanosKey) === prev,
      "DATE load must not touch the legacy nanos conf")
  }

  test("canonical fact files load untouched: no added Project, ts type kept") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    assert(li.schema("l_shipdate").dataType === TimestampNTZType)
    assert(li.queryExecution.analyzed.collect { case p: Project => p }.isEmpty,
      "canonical lineitem must be a bare scan with no added Project")
    val ord = Tables.orders(spark, TestSpark.sf)
    assert(ord.queryExecution.analyzed.collect { case p: Project => p }.isEmpty,
      "canonical orders must be a bare scan with no added Project")
  }
}
