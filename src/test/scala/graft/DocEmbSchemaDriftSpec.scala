package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Schema-drift guard for the `documents` / `embeddings` loaders — the
  * same insurance class as EventsSchemaDriftSpec (round-9 postmortem: a
  * single writer-side physical-type change took down every key reading
  * the drifted table). Pins the contract in docs/data-contract.md:
  * `Tables.documents` must accept binary-typed text columns and narrowed
  * ids; `Tables.embeddings` must accept float64 vectors and re-widened /
  * re-narrowed integral columns — all canonicalized to the same rows,
  * with NO extra plan nodes when the stored schema is already canonical. */
class DocEmbSchemaDriftSpec extends AnyFunSuite {
  import TestSpark.spark

  private def roundTripDocs(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("docs-drift").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.documents(spark, dir)
  }

  private def roundTripEmb(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("emb-drift").toString
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.embeddings(spark, dir)
  }

  private def docRowsSorted(df: DataFrame): Array[String] =
    df.orderBy("doc_id")
      .select(concat_ws("", col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
      .collect().map(_.getString(0))

  private lazy val canonicalDocs: Array[String] =
    docRowsSorted(Tables.documents(spark, TestSpark.sf).limit(500))

  private lazy val liveDocs: DataFrame =
    Tables.documents(spark, TestSpark.sf).orderBy("doc_id").limit(500)

  test("documents: binary text columns + INT32 ids load to canonical rows") {
    val drifted = liveDocs
      .withColumn("text", col("text").cast(BinaryType))
      .withColumn("lang", col("lang").cast(BinaryType))
      .withColumn("source", col("source").cast(BinaryType))
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType))
    val got = roundTripDocs(drifted)
    assert(got.schema("text").dataType === StringType)
    assert(got.schema("doc_id").dataType === LongType)
    assert(got.schema("n_chars").dataType === LongType)
    assert(docRowsSorted(got).sameElements(canonicalDocs))
  }

  test("documents: canonical file gets a bare scan (no added Project)") {
    val df = Tables.documents(spark, TestSpark.sf)
    assert(df.schema("text").dataType === StringType)
    assert(df.queryExecution.analyzed.collect { case p: Project => p }.isEmpty,
      "canonical-schema load must not insert a projection over the scan")
  }

  private def embRows(df: DataFrame): Array[(Long, Int, Seq[Float])] =
    df.orderBy("vec_id").limit(500)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))

  private lazy val canonicalEmb: Array[(Long, Int, Seq[Float])] =
    embRows(Tables.embeddings(spark, TestSpark.sf))

  test("embeddings: float64 vectors + drifted integral widths load to canonical rows") {
    val drifted = Tables.embeddings(spark, TestSpark.sf).orderBy("vec_id").limit(500)
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("vec_id", col("vec_id").cast(IntegerType))
      .withColumn("label", col("label").cast(LongType))
    val got = roundTripEmb(drifted)
    assert(got.schema("embedding").dataType === ArrayType(FloatType, containsNull = true)
      || got.schema("embedding").dataType === ArrayType(FloatType, containsNull = false))
    assert(got.schema("vec_id").dataType === LongType)
    assert(got.schema("label").dataType === IntegerType)
    // float32→float64→float32 is bit-exact: the writer never had more than
    // float32 precision, so the promoted doubles cast back losslessly
    assert(embRows(got).sameElements(canonicalEmb))
  }

  test("embeddings: canonical file gets a bare scan (no added Project)") {
    val df = Tables.embeddings(spark, TestSpark.sf)
    assert(df.schema("embedding").dataType.isInstanceOf[ArrayType])
    assert(df.queryExecution.analyzed.collect { case p: Project => p }.isEmpty,
      "canonical-schema load must not insert a projection over the scan")
  }

  test("embeddings: unsupported element type fails loudly, not silently") {
    import spark.implicits._
    val bad = Seq((1L, Seq("a", "b"), 0)).toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException](roundTripEmb(bad))
    assert(e.getMessage.contains("embeddings.embedding"))
  }
}
