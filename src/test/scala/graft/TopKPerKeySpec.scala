package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKPerKeyApi

import graft.operators.Benchmarking

class TopKPerKeySpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  lazy val metrics = Benchmarking.metricsFor(spark, sf).cache()

  test("custom operator matches the window-based top-k per segment") {
    val custom = TopKPerKeyApi.topKPerKey(
      metrics, Seq("c_mktsegment"), "intensity", 3)
      .select("c_mktsegment", "c_custkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val window = Benchmarking.topEntitiesPerGroup(metrics, 3)
      .select("c_mktsegment", "c_custkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(custom === window)
  }

  test("physical plan uses TopKPerKeyExec with a clustered exchange") {
    // multi-split tables: the metrics arrive in several partitions
    val df = TopKPerKeyApi.topKPerKey(Benchmarking.metricsFor(TestSpark.multiSplit, sf),
      Seq("c_mktsegment"), "intensity", 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey") && plan.contains("Exchange hashpartitioning(c_mktsegment"), plan.take(800))
    // one-split tables: one partition is clustered on any key already
    val one = TopKPerKeyApi.topKPerKey(metrics, Seq("c_mktsegment"), "intensity", 3)
      .queryExecution.executedPlan.toString
    assert(one.contains("TopKPerKey") && !one.contains("Exchange hashpartitioning"),
      one.take(800))
  }

  test("the operator keeps its input's partitioning: q_topk_custom sorts with no range exchange") {
    def key = SparkEntry.queries("q_topk_custom")(spark, sf)
    // the key's own plan, not one over the metrics cached above
    spark.sharedState.cacheManager.clearCache()
    // one-split tables: the final orderBy sorts the operator's one
    // partition, so no range sample re-reads customer
    val plan = key.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey") && !plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"), plan)
    key.count()
    val (_, jobs) = org.apache.spark.sql.graft.JobProbe(spark)(
      key.write.format("noop").mode("overwrite").save())
    // the orders roll-up's broadcast and the one job above it
    assert(jobs.count === 2, jobs)
    // multi-split tables: the clustered exchange's hash partitioning
    // passes through the operator to the sort's range exchange
    val split = SparkEntry.queries("q_topk_custom")(TestSpark.multiSplit, sf)
      .queryExecution.executedPlan.toString
    assert(split.contains("Exchange hashpartitioning(c_mktsegment") &&
      split.contains("Exchange rangepartitioning"), split)
  }

  test("k larger than the group returns the whole group") {
    val tiny = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 5.0))
      .toDF("seg", "id", "score")
    val out = TopKPerKeyApi.topKPerKey(tiny, Seq("seg"), "score", 10)
    assert(out.count() === 3)
  }

  test("null scores are skipped, not crashed on") {
    val withNulls = Seq(("a", 1L, Some(10.0)), ("a", 2L, None), ("a", 3L, Some(30.0)))
      .toDF("seg", "id", "score")
    val out = TopKPerKeyApi.topKPerKey(withNulls, Seq("seg"), "score", 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 3L))
  }

  test("non-numeric ord column is rejected at plan time") {
    val strings = Seq(("a", 1L, "x"), ("a", 2L, "y")).toDF("seg", "id", "name")
    val e = intercept[IllegalArgumentException] {
      TopKPerKeyApi.topKPerKey(strings, Seq("seg"), "name", 2)
    }
    assert(e.getMessage.contains("must be numeric"))
    val bools = Seq(("a", 1L, true)).toDF("seg", "id", "flag")
    intercept[IllegalArgumentException] {
      TopKPerKeyApi.topKPerKey(bools, Seq("seg"), "flag", 2)
    }
  }

  test("tieBreak makes tied scores deterministic under any partitioning") {
    import org.apache.spark.sql.expressions.Window
    // every score appears twice per segment, so the top-3 boundary ALWAYS
    // cuts through a tie — the regime where the un-tie-broken heap keeps
    // whichever row arrived first
    val rows = for (seg <- Seq("a", "b"); s <- 0 until 50; dup <- 0 until 2)
      yield (seg, (s.toLong * 2 + dup) + (if (seg == "a") 0L else 1000L), s.toDouble)
    val want = {
      val df = rows.toDF("seg", "id", "score")
      val w = Window.partitionBy("seg").orderBy(col("score").desc, col("id"))
      df.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= 3).select("seg", "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    // several partitionings/arrival orders, same deterministic output
    for (shuffleSeed <- Seq(1, 2, 3)) {
      val permuted = new scala.util.Random(shuffleSeed).shuffle(rows)
        .toDF("seg", "id", "score").repartition(shuffleSeed + 2)
      val got = TopKPerKeyApi.topKPerKey(permuted, Seq("seg"), "score", 3,
        tieBreak = Some("id"))
        .select("seg", "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === want, s"seed $shuffleSeed")
    }
    // non-integral tie column rejected at plan time
    val e = intercept[IllegalArgumentException] {
      TopKPerKeyApi.topKPerKey(rows.toDF("seg", "id", "score"), Seq("seg"),
        "score", 3, tieBreak = Some("score"))
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("heap keeps the true top-k on a large skewed group") {
    val big = spark.range(10000).select(
      lit("hot").as("seg"), col("id"), (col("id") % 997).cast("double").as("score"))
      .union(spark.range(5).select(lit("cold").as("seg"), col("id"),
        col("id").cast("double").as("score")))
    val out = TopKPerKeyApi.topKPerKey(big, Seq("seg"), "score", 4)
    val hot = out.filter(col("seg") === "hot").select("score")
      .collect().map(_.getDouble(0)).sorted.reverse
    assert(hot.toSeq === Seq(996.0, 996.0, 996.0, 996.0))
    assert(out.filter(col("seg") === "cold").count() === 4)
  }
}
