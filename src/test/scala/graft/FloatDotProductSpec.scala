package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.VectorMath
import graft.sources.Tables

class FloatDotProductSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  test("native dot matches the HOF reference implementation on real data") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val hof = aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val bad = e.select(
        ColumnBridge.floatDot(col("embedding"), col("embedding")).as("native"),
        hof.as("ref"))
      .filter(abs(col("native") - col("ref")) > 1e-12)
    assert(bad.count() === 0)
  }

  test("null array yields null; null elements contribute zero") {
    val df = Seq(
      (1L, Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(4.0f)))),
      (2L, None, Some(Seq(Some(1.0f), Some(1.0f)))),
      (3L, Some(Seq(Some(1.0f), None)), Some(Seq(Some(5.0f), Some(7.0f)))))
      .toDF("id", "a", "b")
    val out = df.select(col("id"), ColumnBridge.floatDot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(1L) === Some(11.0))
    assert(out(2L) === None)
    assert(out(3L) === Some(5.0))
  }

  test("expression stays inside whole-stage codegen") {
    def plan(s: org.apache.spark.sql.SparkSession) = Tables.embeddings(s, sf).select(
        ColumnBridge.floatDot(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    // a multi-split read: the project fuses with the scan's stage
    val multi = plan(TestSpark.multiSplit)
    assert(multi.contains("*(1) Project"), multi.take(500)) // *(n) marks whole-stage codegen
    // a one-split read: the coalesce(1) above the scan ends stage 1, and
    // the project is codegen'd in stage 2 above it
    val one = plan(spark)
    assert(one.contains("*(2) Project") && one.contains("Coalesce 1"), one.take(500))
  }
}
