package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IncrementalDedup
import graft.sources.Tables

/** The ingest workload: the `IncrementalDedup` cycle (open the signature
  * index, probe a batch against it, write the flags, append the survivors'
  * signatures) on constant 500-doc batches against an index that grows by
  * each batch's survivors. */
object Ingest {

  val Threshold = 0.9
  /** Untimed cycles first: the second cycle is the first to read an
    * appended delta, a code path the first does not compile. */
  val WarmupBatches = 2

  /** Timed cycles take ~2.5 s each on four shared cores; at least three
    * make the per-run median steady whatever `seconds` is. */
  val MinTimedBatches = 3

  /** One repetition of the set-up: sign the whole sf0.1 corpus into a
    * fresh index. */
  def setUp(spark: SparkSession, dir: String, indexPath: String): Unit =
    IncrementalDedup.saveSignatures(Tables.documents(spark, dir), indexPath)

  /** Run cycles over the batches in `batchesPath`, the first
    * [[WarmupBatches]] untimed, until `seconds` of timed cycles and at least
    * [[MinTimedBatches]] have run, or the batches run out. Each cycle's
    * flags are checked against the generator's reference answer. */
  def run(spark: SparkSession, runner: Runner, tracer: Tracer, batchesPath: String,
      indexPath: String, seconds: Double): Unit = {
    val all = spark.read.parquet(batchesPath)
    val expect = all.select("doc_id", "expect_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val nBatches = all.agg(max("batch")).head.getInt(0) + 1
    var timed = 0.0
    var b = 0
    while (b < nBatches &&
        (b < WarmupBatches + MinTimedBatches || timed < seconds)) {
      val kind = if (b < WarmupBatches) "warmup" else "cycle"
      // the batch arrives materialized: arrival cost belongs to the source,
      // not to the cycle under measurement
      val batch = all.filter(col("batch") === b).select("doc_id", "text")
        .localCheckpoint(true)
      val traced = tracer.enabled && kind == "cycle" && b % 2 == 0
      var flagged = -1L
      runner.run(kind, "ingest_cycle", b, traced)(cycle(spark, tracer, batch, indexPath)) {
        flags =>
          val got = flags.select("doc_id", "is_duplicate").collect()
          flagged = got.count(_.getBoolean(1)).toLong
          val wrong = got.count(r => !expect.get(r.getLong(0)).contains(r.getBoolean(1)))
          if (got.length != Gen.BatchDocs) Some(s"${got.length} flag rows for ${Gen.BatchDocs} docs")
          else if (wrong > 0) Some(s"$wrong of ${got.length} duplicate flags differ from the reference")
          else None
      }
      if (kind == "cycle") {
        val last = runner.ops.last
        timed += last.secs
        if (flagged >= 0) runner.ops(runner.ops.size - 1) = last.copy(attrs = last.attrs ++
          Map("docs" -> Gen.BatchDocs.toDouble, "flagged" -> flagged.toDouble))
      }
      b += 1
    }
  }

  private def cycle(spark: SparkSession, tracer: Tracer, batch: DataFrame,
      indexPath: String): DataFrame = {
    val idx = tracer.span("ingest.open")(IncrementalDedup.openSignatures(spark, indexPath))
    val flagged = tracer.span("ingest.probe")(
      IncrementalDedup.dedupAgainst(idx, batch, Threshold).localCheckpoint(true))
    tracer.span("ingest.flag_write")(
      flagged.write.mode("append").parquet(s"$indexPath/flags"))
    tracer.span("ingest.append")(IncrementalDedup.appendSignatures(idx,
      batch.join(flagged.filter(!col("is_duplicate")).select("doc_id"), "doc_id")))
    flagged
  }

  /** Logical index rows and the files under the index directory. */
  def indexSize(spark: SparkSession, indexPath: String): (Long, Long) = {
    val rows = IncrementalDedup.openSignatures(spark, indexPath).sigs.count()
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(indexPath))
    try (rows, files.filter(java.nio.file.Files.isRegularFile(_)).count())
    finally files.close()
  }
}

/** Constants shared with the Python generator (gen.py). */
object Gen {
  val BatchDocs = 500
}
