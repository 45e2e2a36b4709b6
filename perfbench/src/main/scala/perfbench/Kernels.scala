package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftExtensions
import graft.sources.Tables

/** Throughput of each `GraftExtensions` SQL function over the workload's
  * own documents and embeddings, replicated to a fixed row count and
  * materialized first, so the probe times the kernel and not the scan. */
object Kernels {

  /** (function, input view, SQL expression aggregated by the probe). */
  val Probes: Seq[(String, String, String)] = Seq(
    ("float_dot", "pb_emb", "float_dot(embedding, embedding)"),
    ("quantized_dot14", "pb_emb", "quantized_dot14(iemb, iemb)"),
    ("embedding_lsh_buckets", "pb_emb", "size(embedding_lsh_buckets(embedding))"),
    ("long_array_match_count", "pb_doc", "long_array_match_count(lh, lh)"),
    ("simhash_bits", "pb_doc", "size(simhash_bits(lh))"),
    ("sorted_intersect_count", "pb_doc", "sorted_intersect_count(toks, toks2)"),
    ("word_ngrams", "pb_doc", "size(word_ngrams(text, 2, true))"))

  private val Rows = 100000L

  /** rows/s per function: the median of three timed aggregations. */
  def probe(spark: SparkSession, dir: String): Map[String, Double] = {
    GraftExtensions.register(spark)
    def replicated(df: org.apache.spark.sql.DataFrame) = {
      val n = df.count()
      df.crossJoin(spark.range((Rows + n - 1) / n).toDF("rep"))
    }
    val emb = replicated(Tables.embeddings(spark, dir))
      .select(col("embedding"),
        transform(col("embedding"), x => (x * 16384).cast("int")).as("iemb"))
      .localCheckpoint(true)
    val toks = array_sort(array_distinct(split(col("text"), " ")))
    val doc = replicated(Tables.documents(spark, dir))
      .select(col("text"), toks.as("toks"),
        array_sort(array_distinct(split(concat(col("text"), lit(" extra")), " ")))
          .as("toks2"),
        transform(toks, t => xxhash64(t)).as("lh"))
      .localCheckpoint(true)
    emb.createOrReplaceTempView("pb_emb")
    doc.createOrReplaceTempView("pb_doc")
    val rows = Map("pb_emb" -> emb.count(), "pb_doc" -> doc.count())
    Probes.map { case (fn, view, e) =>
      val q = s"SELECT sum($e) FROM $view"
      spark.sql(q).collect() // compile once before timing
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(q).collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      fn -> rows(view) / secs(1)
    }.toMap
  }
}
