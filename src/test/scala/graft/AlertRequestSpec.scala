package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BoundParam, JobProbe, ScopedConf}
import org.apache.spark.sql.types.{LongType, NumericType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AlertStore, Alerts, Pipeline}

/** The alert API's per-request fixed costs.
  *
  * Bound parameters: on a session built with GraftExtensions, a request
  * that differs from the last only in its numeric filter bounds compiles
  * no new classes (`BindFilterBounds` passes the bounds to generated code
  * as reference objects). It returns the rows of a session that has
  * `GraftExtensions.register`'s rules but not the physical one, and the
  * scan keeps the partition filters and pushed filters it was planned
  * with.
  *
  * One-partition sorts: the grouped counts (`summaryByRule`, `summary`,
  * `daily`) sort in one partition, so they run as two jobs with no range
  * exchange, in the same rows and order as a plain `orderBy`. */
class AlertRequestSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.{extended, sf, spark}

  /** A clone of the test session with `GraftExtensions.register`'s rules:
    * `AlertStorePruning`, not `BindFilterBounds`. */
  private lazy val registered: SparkSession = {
    val s = ScopedConf.session(spark)
    GraftExtensions.register(s)
    s
  }

  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  /** The detection pipeline's alerts over sf0.001, as a day lake. */
  private lazy val lake: String = {
    val p = Files.createTempDirectory("alert-request-spec").toString
    Pipeline.runDetection(spark, sf, p)
    p
  }

  private lazy val days: IndexedSeq[Long] = AlertStore.read(spark, lake)
    .select(col("epoch_day").cast("long")).distinct().collect()
    .map(_.getLong(0)).sorted.toIndexedSeq

  /** A `[lo, hi)` range of raw µs bounds off the day boundaries. */
  private def range(firstDay: Int, nDays: Int, hour: Int): (Long, Long) =
    (days(firstDay) * DayUs + hour * HourUs,
      days(firstDay + nDays) * DayUs - hour * HourUs)

  private def filterReq(s: SparkSession, r: (Long, Long), minScore: Double): DataFrame =
    Alerts.filterAlerts(AlertStore.read(s, lake).filter(col("score") > minScore),
      Some(r._1), Some(r._2), None, None, None, 100)

  private def summaryReq(s: SparkSession, r: (Long, Long), minScore: Double): DataFrame =
    Alerts.summaryByRule(AlertStore.read(s, lake)
      .filter(col("ts_us") >= r._1 && col("ts_us") < r._2 && col("score") > minScore))

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Plan text with expression and plan ids blanked. */
  private def shape(s: String): String =
    s.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("a second request with new bounds compiles nothing on the extended session") {
    assert(days.size >= 6, days)
    val (r1, r2) = (range(0, 3, 5), range(2, 3, 7))
    // long-typed ts_us bounds and a double-typed score bound, all new
    filterReq(extended, r1, 0.25).collect()
    summaryReq(extended, r1, 0.25).collect()
    val before = compiles
    val f2 = filterReq(extended, r2, 0.75).collect()
    val s2 = summaryReq(extended, r2, 0.75).collect()
    assert(compiles - before === 0L)
    // the same two requests on a registered session: same rows, and the
    // new bounds are new generated code there
    filterReq(registered, r1, 0.25).collect()
    summaryReq(registered, r1, 0.25).collect()
    val plainBefore = compiles
    assert(filterReq(registered, r2, 0.75).collect().toSeq === f2.toSeq)
    assert(summaryReq(registered, r2, 0.75).collect().toSeq === s2.toSeq)
    assert(compiles - plainBefore > 0L)
    assert(f2.nonEmpty && s2.nonEmpty)
  }

  test("the rule binds the filter's bounds and leaves the scan's filters as literals") {
    val r = range(1, 2, 3)
    val df = filterReq(extended, r, 0.5)
    val ext = plan(df)
    val scan = collectFirst(ext) { case s: FileSourceScanExec => s }.get
    // the AlertStorePruning-derived day bounds prune the read ...
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "epoch_day")),
      scan.partitionFilters)
    // ... and the ts_us bounds are pushed to parquet, as literals
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains(s"GreaterThanOrEqual(ts_us,${r._1})") &&
      pushed.contains(s"LessThan(ts_us,${r._2})"), pushed)
    assert(scan.dataFilters.exists(e => e.references.exists(_.name == "ts_us") &&
      e.exists { case Literal(v, LongType) => v == r._1; case _ => false }), scan.dataFilters)
    assert(!(scan.partitionFilters ++ scan.dataFilters).exists(_.exists(_.isInstanceOf[BoundParam])))
    // the scan is the one planned before the physical rules ran, filter
    // for filter; only the filter above it changed
    val planned = df.queryExecution.sparkPlan
    val plannedScan = collectFirst(planned) { case s: FileSourceScanExec => s }.get
    for (k <- Seq("PartitionFilters", "PushedFilters", "DataFilters"))
      assert(scan.metadata(k) === plannedScan.metadata(k), k)
    def bounds(c: Expression) = c.collect {
      case b: BoundParam => b.value
      case Literal(v, t) if t.isInstanceOf[NumericType] => v
    }.toSet
    val plannedCond = collectFirst(planned) { case f: FilterExec => f.condition }.get
    assert(bounds(plannedCond) === Set[Any](r._1, r._2, 0.5), plannedCond)
    assert(!plannedCond.exists(_.isInstanceOf[BoundParam]), plannedCond)
    val cond = collectFirst(ext) { case f: FilterExec => f.condition }.get
    assert(bounds(cond) === Set[Any](r._1, r._2, 0.5), cond)
    assert(!cond.exists(_.isInstanceOf[Literal]), cond)
    // register on a live session cannot install the physical rule
    assert(!plan(filterReq(registered, r, 0.5))
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[BoundParam]))))
  }

  test("the summary's filter is bound in its adaptive stage too") {
    val df = summaryReq(extended, range(0, 4, 2), 0.5)
    df.collect()
    val conds = collect(plan(df)) { case f: FilterExec => f.condition }
    assert(conds.nonEmpty && conds.forall(_.exists(_.isInstanceOf[BoundParam])), conds)
  }

  test("BoundParam's interpreted path gives the generated-code path's rows") {
    val interpreted = ScopedConf.session(extended,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    for ((r, minScore) <- Seq((range(0, 5, 1), 0.0), (range(1, 3, 9), 0.6))) {
      val df = filterReq(interpreted, r, minScore)
      assert(collectFirst(plan(df)) { case f: FilterExec => f.condition }
        .exists(_.exists(_.isInstanceOf[BoundParam])))
      val got = df.collect().toSeq
      assert(got.nonEmpty)
      assert(got === filterReq(extended, r, minScore).collect().toSeq)
      assert(summaryReq(interpreted, r, minScore).collect().toSeq ===
        summaryReq(extended, r, minScore).collect().toSeq)
    }
    assert(BoundParam(7L, LongType).eval() === 7L)
  }

  /** The grouped counts as they were planned before the one-partition
    * sort: the same aggregate with a plain `orderBy`. */
  private def plainByRule(a: DataFrame): DataFrame =
    a.groupingSets(
      Seq(Seq(col("severity")), Seq(col("rule_name")), Seq(col("user_id"))),
      col("severity"), col("rule_name"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy("severity", "rule_name", "user_id")

  private def plainSummary(a: DataFrame): DataFrame =
    a.groupingSets(
      Seq(Seq(col("severity")), Seq(col("event_type")), Seq(col("user_id"))),
      col("severity"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy("severity", "event_type", "user_id")

  private def plainDaily(a: DataFrame): DataFrame =
    a.groupBy(expr("ts_us div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("epoch_day")

  test("the grouped counts sort in one partition: two jobs, no range exchange, same rows") {
    // several file splits per request, as a larger lake would read
    val s = TestSpark.multiSplit
    def alerts = AlertStore.read(s, lake)
    def events = alerts.withColumn("event_type", col("rule_name"))
    val cases = Seq[(String, DataFrame, DataFrame)](
      ("summaryByRule", Alerts.summaryByRule(alerts), plainByRule(alerts)),
      ("summary", Alerts.summary(events), plainSummary(events)),
      ("daily", Alerts.daily(alerts), plainDaily(alerts)))
    for ((name, df, plain) <- cases) {
      val (rows, jobs) = JobProbe(s)(df.collect())
      assert(jobs.count === 2, name)
      val p = plan(df).toString
      assert(!p.contains("rangepartitioning") && p.contains("hashpartitioning"), s"$name\n$p")
      val (plainRows, plainJobs) = JobProbe(s)(plain.collect())
      assert(rows.toSeq === plainRows.toSeq, name)
      assert(rows.length > 1, name)
      // the plain form pays the range exchange and its sampling job
      assert(plan(plain).toString.contains("rangepartitioning") && plainJobs.count > 2,
        s"$name: $plainJobs")
    }
  }
}
