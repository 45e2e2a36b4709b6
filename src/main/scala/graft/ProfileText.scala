package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Contamination, Dedup, MinHashLsh, SimHash}
import graft.sources.Tables
import Mains.timed

/** Three-scale-point density study for the TEXT dedup family (r17 —
  * the text analog of [[ProfileEmb]]'s embedding study): per-stage
  * candidate counts and full-key times for dd_minhash_lsh, dd_simhash,
  * dd_containment and dd_cluster at one corpus size per invocation.
  * tools/text_density.py aggregates the per-point JSON lines into
  * TEXT_DENSITY.json and gates the per-decade slopes.
  *
  * The scale points come from IN-MEMORY replication of a source
  * documents table through [[ScaleUp.replicateDocuments]] (every
  * replica's tokens prefixed `r<id>§`): each replica's
  * internal near-duplicate structure is identical to the original while
  * cross-replica token overlap is zero, so TRUE duplicate density is
  * constant by construction and any measured candidate-density growth
  * is the algorithm's, not the generator's.
  *
  * Usage: runMain graft.ProfileText <sfDir> [factor] [reps]
  *   factor ≥ 1 replicates the corpus in memory before profiling.
  */
object ProfileText {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileText <sfDir> [factor] [reps]")
    val sfDir = args(0)
    val factor = if (args.length > 1) args(1).toInt else 1
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Mains.session()
    try run(spark, sfDir, factor, reps) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, factor: Int, reps: Int): Unit = {
    val k = 128; val bands = 8; val maxBucket = 4096
    val source = Tables.documents(spark, sfDir)
    val docs = (if (factor <= 1) source else ScaleUp.replicateDocuments(source, factor))
      // 32 blocks regardless of factor — the same realistic-layout rule
      // as ScaleUp's writer (a one-partition union caps scans at 1 task)
      .repartition(32)
      .localCheckpoint(true)
    val nDocs = docs.count()

    // --- dd_minhash_lsh: banded candidates → signature-estimate verify ---
    val sigs = MinHashLsh.signatures(docs, k).localCheckpoint(true)
    val mhCand = MinHashLsh.bandedPairs(sigs, k, bands, maxBucket).count()
    val mhOut = MinHashLsh.candidatePairs(docs, k, bands, 0.95, maxBucket).count()
    val mhFull = timed(reps)(
      MinHashLsh.candidatePairs(docs, k, bands, 0.95, maxBucket))

    // --- dd_simhash: pigeonhole-blocked candidates → Hamming verify ---
    // the candidate stage is the key's own internals (blockKeys +
    // guarded bucket self-join, SimHash.scala:113-125): every raw row
    // pays one bit_count verify, so raw-row count IS the verify volume
    val simCand = MinHashLsh.guardedBucketPairsRaw(
      SimHash.blockKeys(SimHash.fingerprints(docs), 8),
      Seq("blk", "key"), "doc_id", maxBucket, carry = Seq("fp"))._1.count()
    val simOut = SimHash.nearDupPairs(docs).count()
    val simFull = timed(reps)(SimHash.nearDupPairs(docs))

    // --- dd_containment: prefix-filter candidates → gram-hash verify ---
    // candidate stage: the operator's own (Dedup.containmentCandidates at
    // its default threshold 0.8), over a materialized tokenization
    val toks = Contamination.gramSets(docs, 3)
      .select(col("doc_id"), array_sort(col("grams")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .localCheckpoint(true)
    val ctCand = Dedup.containmentCandidates(toks, t100 = 80L).count()
    val ctOut = Dedup.containment(docs).count()
    val ctFull = timed(reps)(Dedup.containment(docs))

    // --- dd_cluster: exact collapse → rep-corpus LSH edges → CC ---
    val clToks = Dedup.clusterTokens(docs).localCheckpoint(true)
    val repToks = clToks.filter(col("doc_id") === col("rep_id"))
      .select("doc_id", "toks", "n").localCheckpoint(true)
    val clReps = repToks.count()
    val clEdges = MinHashLsh.exactPairsFromToks(repToks, 0.9).count()
    val clFull = timed(reps)(Dedup.clusterExact(docs))

    println(f"""{"profile":"text_dedup","sf":"$sfDir","factor":$factor,""" +
      f""""docs":$nDocs,""" +
      f""""minhash":{"candidates":$mhCand,"out":$mhOut,"full":$mhFull%.3f},""" +
      f""""simhash":{"candidates":$simCand,"out":$simOut,"full":$simFull%.3f},""" +
      f""""containment":{"candidates":$ctCand,"out":$ctOut,"full":$ctFull%.3f},""" +
      f""""cluster":{"reps":$clReps,"edges":$clEdges,"full":$clFull%.3f}}""")
  }
}
