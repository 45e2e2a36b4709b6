package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{JobProbe, ScopedConf}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AlertStore
import graft.streaming.StreamingAlerts
import graft.sources.Tables

/** `Tables.parquet`, the front door of every parquet read in
  * graft.sources and graft.operators: a cached open returns the same
  * schema and rows as a fresh `spark.read.parquet` of the same files —
  * across appends, partition drops, schema-changing overwrites and conf
  * changes that alter inference — and a repeated open of unchanged files
  * runs no Spark job.
  *
  * The one-split route: a `Tables.table` read that Spark plans as one
  * file split comes back as one partition (`coalesce(1)` over the scan),
  * so a query over such tables plans no exchange and runs as one job;
  * above the split bound, for a multi-file table, and for every other
  * front-door read (the alert lake, the signature index), the plan is a
  * plain read's. */
class ParquetFrontDoorSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.{sf, spark}

  private val DayUs = 86400000000L

  private def tmp(): String =
    Files.createTempDirectory("front-door-spec").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  /** `open` equals a fresh plain read of `path`, schema and rows. */
  private def assertSameAsFresh(open: => DataFrame, path: String): Unit = {
    val got = open
    val fresh = spark.read.parquet(path)
    assert(got.schema === fresh.schema)
    assert(rows(got) === rows(fresh))
  }

  /** Alerts on `days` consecutive days from day 19700, 40 per day. */
  private def alerts(days: Seq[Long]): DataFrame =
    spark.range(days.size * 40L).select(
      (lit(days.head) + col("id") % days.size).as("d"),
      col("id").as("event_id"))
      .select(
        (col("d") * DayUs + col("event_id") * 1000003L % DayUs).as("ts_us"),
        col("event_id"),
        (col("event_id") % 97).as("user_id"),
        when(col("event_id") % 3 === 0, "high").otherwise("low").as("severity"),
        concat(lit("rule_"), (col("event_id") % 4).cast("string")).as("rule_name"))

  private def lake(): String = {
    val p = tmp()
    AlertStore.append(alerts((19700L until 19706L)), p)
    p
  }

  /** Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Int = JobProbe(spark)(body)._2.count

  /** Whether `df`'s analyzed plan holds the one-partition wrapper. */
  private def onePartition(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case r: Repartition => r.numPartitions == 1 && !r.shuffle
      case _ => false
    }

  /** `df`'s physical plan with expression and plan ids blanked, to
    * compare plans of two separately analyzed frames. */
  private def planShape(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  /** A per-source row count over `frame(session)`: an aggregate whose
    * exchange is the multi-partition plan's only one. */
  private def perSource(frame: SparkSession => DataFrame)(s: SparkSession): DataFrame =
    frame(s).groupBy("source").count()

  /** Write one file with the parquet example writer: no Spark schema in
    * its footer, so inference reads the parquet types themselves, as for
    * a file from a non-Spark writer. */
  private def writeRaw(path: String, schema: MessageType)(
      fill: (SimpleGroupFactory, ExampleParquetWriter.Builder) => Unit): Unit = {
    val b = ExampleParquetWriter.builder(new Path(path))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema)
    fill(new SimpleGroupFactory(schema), b)
  }

  test("single-file table: cached opens match a fresh read") {
    val path = s"$sf/customer.parquet"
    assert(new java.io.File(path).isFile)
    assertSameAsFresh(Tables.table(spark, sf, "customer"), path)
    assertSameAsFresh(Tables.table(spark, sf, "customer"), path)
  }

  test("partitioned alert lake: cached opens match a fresh read, epoch_day integer-typed") {
    val p = lake()
    assertSameAsFresh(AlertStore.read(spark, p), p)
    val again = AlertStore.read(spark, p)
    assert(again.schema("epoch_day").dataType === IntegerType)
    assertSameAsFresh(again, p)
  }

  test("an append through AlertStore is visible to the next open") {
    val p = lake()
    val before = AlertStore.read(spark, p).count()
    AlertStore.append(alerts(Seq(19710L)), p)
    val after = AlertStore.read(spark, p)
    assert(after.filter(col("epoch_day") === 19710).count() === 40L)
    assert(after.count() === before + 40L)
    assertSameAsFresh(AlertStore.read(spark, p), p)
  }

  test("clearRange drops the day from the next open") {
    val p = lake()
    AlertStore.read(spark, p).count()
    assert(AlertStore.clearRange(spark, p, 19701L, 19701L) === 1L)
    val after = AlertStore.read(spark, p)
    assert(after.filter(col("epoch_day") === 19701).count() === 0L)
    assertSameAsFresh(after, p)
  }

  test("an overwrite with a different schema is seen by the next open") {
    val p = s"${tmp()}/t.parquet"
    spark.range(20).selectExpr("id", "id * 2 AS twice")
      .write.mode("overwrite").parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq === Seq("id", "twice"))
    spark.range(5).selectExpr("CAST(id AS STRING) AS name", "id * 1.5 AS x")
      .write.mode("overwrite").parquet(p)
    val got = Tables.parquet(spark, p)
    assert(got.columns.toSeq === Seq("name", "x"))
    assert(got.schema("name").dataType === StringType)
    assertSameAsFresh(Tables.parquet(spark, p), p)
  }

  test("a session conf change that alters inference re-resolves (binaryAsString)") {
    val p = s"${tmp()}/raw.parquet"
    val schema = Types.buildMessage()
      .required(INT64).named("id")
      .required(BINARY).named("text")   // no UTF8 annotation
      .named("raw")
    writeRaw(p, schema) { (f, b) =>
      val w = b.build()
      try (0 until 10).foreach { i =>
        w.write(f.newGroup().append("id", i.toLong).append("text", s"doc $i"))
      } finally w.close()
    }
    val key = "spark.sql.parquet.binaryAsString"
    assert(spark.conf.getOption(key).forall(_ == "false"))
    assert(Tables.parquet(spark, p).schema("text").dataType === BinaryType)
    assertSameAsFresh(Tables.parquet(spark, p), p)
    spark.conf.set(key, "true")
    try {
      val asText = Tables.parquet(spark, p)
      assert(asText.schema("text").dataType === StringType)
      assert(asText.filter(col("id") === 3L).select("text").head().getString(0) === "doc 3")
      assertSameAsFresh(Tables.parquet(spark, p), p)
    } finally spark.conf.unset(key)
    assert(Tables.parquet(spark, p).schema("text").dataType === BinaryType)
  }

  test("a self-join of two opens of one table resolves like two plain reads") {
    val a = Tables.table(spark, sf, "customer")
    val b = Tables.table(spark, sf, "customer")
    val joined = a.join(b, a("c_custkey") === b("c_custkey"))
      .select(a("c_custkey"), b("c_name"))
    val fa = spark.read.parquet(s"$sf/customer.parquet")
    val fb = spark.read.parquet(s"$sf/customer.parquet")
    val fresh = fa.join(fb, fa("c_custkey") === fb("c_custkey"))
      .select(fa("c_custkey"), fb("c_name"))
    assert(rows(joined) === rows(fresh))
    assert(joined.count() === a.count())
  }

  test("a TIMESTAMP(NANOS) events file still takes the nanos-as-long fallback") {
    val dir = tmp()
    val ns = Seq(1704067200123456789L, 1704153600000000001L, 1704240000999999999L)
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .named("events")
    writeRaw(s"$dir/events.parquet", schema) { (f, b) =>
      val w = b.build()
      try ns.zipWithIndex.foreach { case (t, i) =>
        w.write(f.newGroup().append("event_id", i.toLong).append("ts", t))
      } finally w.close()
    }
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(nanosKey)
    def check(): Unit = {
      val raw = Tables.table(spark, dir, "events")
      assert(raw.schema("ts").dataType === LongType)
      assert(raw.orderBy("event_id").collect().map(_.getLong(1)).toSeq === ns)
      val us = Tables.events(spark, dir).orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(us === ns.map(_ / 1000L))
      assert(spark.conf.getOption(nanosKey) === prev)
    }
    check()
    // the fallback's relation is cached under the file's fingerprint: an
    // unchanged file's next open re-runs neither the failing read nor the
    // fallback's
    assert(jobsOf(Tables.events(spark, dir)) === 0)
    assert(jobsOf(Tables.table(spark, dir, "events")) === 0)
    check()
    // a read whose table declares no INT64-ns column takes no fallback,
    // cached verdict or not
    val e = intercept[Exception](Tables.parquet(spark, s"$dir/events.parquet"))
    assert(e.getMessage.contains("PARQUET_TYPE"), e.getMessage)
    assert(spark.conf.getOption(nanosKey) === prev)
  }

  test("a TIMESTAMP(NANOS) events file streams every row; the caller's conf is not written") {
    val dir = tmp()
    val ns = Seq(1704067200123456789L, 1704153600000000001L, 1704240000999999999L)
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    writeRaw(s"$dir/events.parquet", schema) { (f, b) =>
      val w = b.build()
      try ns.zipWithIndex.foreach { case (t, i) =>
        w.write(f.newGroup().append("event_id", i.toLong).append("ts", t)
          .append("user_id", 7L).append("event_type", "click")
          .append("value", i * 1.5).append("props", "{}"))
      } finally w.close()
    }
    val before = spark.conf.getAll
    val q = StreamingAlerts.readEvents(spark, dir)
      .select(col("event_id"), unix_micros(col("event_time")).as("us"))
      .writeStream.format("memory").queryName("nanos_events")
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000))
    finally q.stop()
    val got = spark.table("nanos_events").orderBy("event_id")
      .collect().map(_.getLong(1)).toSeq
    assert(got === ns.map(_ / 1000L))
    assert(spark.conf.getAll === before)
  }

  test("a repeated open of an unchanged file runs no Spark job") {
    val dir = tmp()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events.parquet")
    // the first open resolves the relation: one schema-inference job
    assert(jobsOf(Tables.events(spark, dir)) === 1)
    assert(jobsOf(Tables.events(spark, dir)) === 0)
  }

  test("a relation resolved before detectAllShared is reused after it") {
    val dir = tmp()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events.parquet")
    assert(jobsOf(Tables.events(spark, dir)) === 1)
    graft.operators.Pipeline.detectAllShared(spark, dir)
    assert(jobsOf(Tables.events(spark, dir)) === 0)
  }

  test("detectAllShared writes no session conf") {
    val before = spark.conf.getAll
    graft.operators.Pipeline.detectAllShared(spark, sf).collect()
    assert(spark.conf.getAll === before)
  }

  test("a one-split table reads as one partition; a query over it runs as one job") {
    SparkEntry.queries("q_pricing_summary")(spark, sf).count()
    SparkEntry.queries("ts_rolling")(spark, sf).count()
    def run(key: String): Int =
      jobsOf(SparkEntry.queries(key)(spark, sf).write.format("noop").mode("overwrite").save())
    // aggregate + global sort over lineitem; per-key window + global sort
    // over events: no exchange, so no stage boundary and no range sample
    assert(run("q_pricing_summary") === 1)
    assert(run("ts_rolling") === 1)
    val p = SparkEntry.queries("ts_rolling")(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(onePartition(Tables.table(spark, sf, "lineitem")))
  }

  test("above the split bound a table read plans as a plain read") {
    val docs = s"$sf/documents.parquet"
    val split = TestSpark.multiSplit
    assert(!onePartition(Tables.table(split, sf, "documents")))
    val viaTable = perSource(Tables.table(_, sf, "documents"))(split)
    val plain = perSource(_.read.parquet(docs))(split)
    assert(planShape(viaTable) === planShape(plain))
    assert(planShape(viaTable).contains("Exchange hashpartitioning(source"), planShape(viaTable))
    // the same file at the default split size: one partition, no exchange
    val one = perSource(Tables.table(_, sf, "documents"))(spark)
    assert(onePartition(Tables.table(spark, sf, "documents")))
    assert(!planShape(one).contains("Exchange"), planShape(one))
    assert(rows(one) === rows(plain))
  }

  test("a multi-file table directory plans as a plain read") {
    val dir = tmp()
    Tables.table(spark, sf, "documents").repartition(3)
      .write.parquet(s"$dir/documents.parquet")
    val viaTable = perSource(Tables.table(_, dir, "documents"))(spark)
    val plain = perSource(_.read.parquet(s"$dir/documents.parquet"))(spark)
    assert(!onePartition(Tables.table(spark, dir, "documents")))
    assert(planShape(viaTable) === planShape(plain))
    assert(rows(viaTable) === rows(plain))
  }

  test("a conf change flips the one-split verdict; the cache is keyed on the conf") {
    val dir = tmp()
    Tables.table(spark, sf, "customer").write.parquet(s"$dir/customer.parquet")
    assert(jobsOf(assert(onePartition(Tables.table(spark, dir, "customer")))) === 1)
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "1024")
    try {
      // a new cache key: one schema-inference job, then the plain plan
      assert(jobsOf(assert(!onePartition(Tables.table(spark, dir, "customer")))) === 1)
      assert(jobsOf(assert(!onePartition(Tables.table(spark, dir, "customer")))) === 0)
    } finally spark.conf.unset(key)
    assert(jobsOf(assert(onePartition(Tables.table(spark, dir, "customer")))) === 0)
  }

  test("front-door reads that are not table reads keep the plain plan") {
    // the same one-split file through Tables.parquet: no wrapper
    val path = s"$sf/customer.parquet"
    assert(onePartition(Tables.table(spark, sf, "customer")))
    assert(!onePartition(Tables.parquet(spark, path)))
    assert(planShape(Tables.parquet(spark, path).groupBy("c_mktsegment").count()) ===
      planShape(spark.read.parquet(path).groupBy("c_mktsegment").count()))
    // the alert lake and the signature index
    val p = lake()
    assert(!onePartition(AlertStore.read(spark, p)))
    assert(planShape(AlertStore.read(spark, p).groupBy("rule_name").count()) ===
      planShape(spark.read.parquet(p).groupBy("rule_name").count()))
    val idx = s"${tmp()}/index"
    graft.operators.IncrementalDedup.saveSignatures(
      Tables.documents(spark, sf), idx, parts = 4, sigParts = 2)
    val sigs = graft.operators.IncrementalDedup.openSignatures(spark, idx).sigs
    assert(!onePartition(sigs), sigs.queryExecution.analyzed)
  }

  test("StreamingIngestBench writes no session conf and strands no resolved relation") {
    val dir = tmp()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events.parquet")
    assert(jobsOf(Tables.events(spark, dir)) === 1)
    val before = spark.conf.getAll
    // the caller's conf as each of the run's jobs starts: never written,
    // not even for the duration of the run
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(spark.conf.getAll.get(provider))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      StreamingIngestBench.run(spark, sf, nBatches = 2)
      JobProbe.drain(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(!seen.isEmpty)
    assert(seen.toArray.toSet === Set(before.get(provider)))
    assert(spark.conf.getAll === before)
    assert(jobsOf(Tables.events(spark, dir)) === 0)
  }

  test("a queryRange over an unchanged lake runs exactly one job") {
    val p = lake()
    def q() = AlertStore.queryRange(spark, p, 19701L, 19703L,
      Some("high"), Some("rule_1"), None, 100).collect()
    val first = q()
    var again: Array[org.apache.spark.sql.Row] = null
    assert(jobsOf { again = q() } === 1)
    assert(again.map(_.toString).toSeq === first.map(_.toString).toSeq)
    assert(first.nonEmpty)
  }

  test("AlertStorePruning prunes a reused relation as it prunes a fresh read") {
    val p = lake()
    AlertStore.read(spark, p).count()
    val lo = 19702L * DayUs + 3600000000L
    val hi = 19704L * DayUs - 3600000000L
    def partitionsRead(df: DataFrame): (Seq[String], Long) = {
      val got = rows(df)
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanLike => s
      }
      (got, scans.flatMap(_.metrics.get("numPartitions")).map(_.value).sum)
    }
    GraftExtensions.register(spark)
    try {
      val (reused, nReused) = partitionsRead(AlertStore.read(spark, p)
        .filter(col("ts_us") >= lo && col("ts_us") < hi))
      val (fresh, nFresh) = partitionsRead(spark.read.parquet(p)
        .filter(col("ts_us") >= lo && col("ts_us") < hi))
      assert(reused === fresh)
      assert(nReused === nFresh)
      assert(nReused === 2L, s"$nReused of 6 day partitions read")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.AlertStorePruning)
    }
  }
}
