package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, MinHashLsh}
import graft.sources.Tables
import Mains.timed

/** Stage profiler for dd_embedding (`Dedup.embeddingNearDupTopM`) — the
  * same measure-first harness as [[ProfileText]]: each stage timed in
  * isolation over a pre-materialized input, noop-sink evaluation.
  *
  * Stages (key defaults: threshold=0.3, m=10, tables=8, planes=auto,
  * maxBucket=4096):
  *   buckets   — the embeddingLshBuckets kernel + posexplode
  *   pairs     — first-agree bucket self-join (the candidate stage)
  *   verify    — quantize + broadcast attach + quantized-cosine filter
  *   topm_tail — checkpoint + mirror + per-vector top-m window + sort,
  *               measured as full minus verify over SAME-ROUND pairs
  *               (clamped at 0; the raw difference rides beside it)
  *
  * Usage: runMain graft.ProfileEmb <sfDir> [reps]
  */
object ProfileEmb {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileEmb <sfDir> [reps]")
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Mains.session()
    try run(spark, sfDir, reps) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    val threshold = 0.3; val m = 10; val tables = 8; val maxBucket = 4096
    val cap = Dedup.DefaultDensityCap // dd_embedding's production dial (r17)
    val emb = Tables.embeddings(spark, sfDir)
    emb.write.format("noop").mode("overwrite").save() // reader warm-up
    val n = emb.count()
    val planes = Dedup.resolvePlanes(0, n)

    val tBuckets = timed(reps)(Dedup.embeddingBuckets(emb, tables, planes))
    val bucketed = Dedup.embeddingBuckets(emb, tables, planes)
      .localCheckpoint(true)
    val tPairs = timed(reps)(MinHashLsh.firstAgreeBucketPairs(bucketed,
      "bkts", "t", Seq("t", "bucket"), "vec_id", maxBucket, tables))
    val nCand = MinHashLsh.firstAgreeBucketPairs(bucketed,
      "bkts", "t", Seq("t", "bucket"), "vec_id", maxBucket, tables).count()
    // the UNCAPPED dial (densityCap = 0 is explicit since r17's
    // AutoDensityCap default would engage the cap above 32k vectors and
    // erase this study's contrast). verify and full are timed in
    // INTERLEAVED rounds so the derived topm_tail (full − verify) pairs
    // same-round readings: the former independent-minima form could go
    // negative under co-tenant drift (EMB_DENSITY_r16's sf30 point,
    // topm_tail −26.8 s) because the two minima came from different
    // noise windows.
    def verifyDf = Dedup.embeddingPairsUnsorted(
      emb, threshold, tables, 0, maxBucket, n, densityCap = 0)
    def fullDf = Dedup.embeddingNearDupTopM(
      emb, threshold, m, tables, 0, maxBucket, n, densityCap = 0)
    val rounds = (1 to reps).map { _ =>
      val v = timed(1)(verifyDf)
      val f = timed(1)(fullDf)
      (v, f)
    }
    val tVerify = rounds.map(_._1).min
    val tFull = rounds.map(_._2).min
    // per-round pairing; clamped at 0 with the raw value kept beside it
    // so a still-noisy box can never emit a negative stage time
    val tailRaw = rounds.map { case (v, f) => f - v }.min
    val tTail = math.max(0.0, tailRaw)
    val nVerified = verifyDf.count()
    val nOut = fullDf.count()

    // the density-capped dial (r16), same stage split: capped candidate
    // volume, its verified survivors, and the full capped top-m key —
    // the per-vector density ratio (candidates*2/n vs cap) is the
    // scale-study evidence that generation is bounded
    val capCand = MinHashLsh.guardedBucketPairs(
      Dedup.capBuckets(bucketed.select("vec_id", "t", "bucket"), cap),
      Seq("t", "bucket"), "vec_id", maxBucket).count()
    val tCapVerify = timed(reps)(Dedup.embeddingPairsUnsorted(
      emb, threshold, tables, 0, maxBucket, n, cap))
    val capVerified = Dedup.embeddingPairsUnsorted(
      emb, threshold, tables, 0, maxBucket, n, cap).count()
    val tCapFull = timed(reps)(Dedup.embeddingNearDupTopM(
      emb, threshold, m, tables, 0, maxBucket, n, cap))
    val capOut = Dedup.embeddingNearDupTopM(
      emb, threshold, m, tables, 0, maxBucket, n, cap).count()

    println(f"""{"profile":"dd_embedding","sf":"$sfDir","vecs":$n,""" +
      f""""planes":$planes,"candidates":$nCand,"verified":$nVerified,""" +
      f""""out":$nOut,"buckets":$tBuckets%.3f,"pairs":$tPairs%.3f,""" +
      f""""verify":$tVerify%.3f,"topm_tail":$tTail%.3f,""" +
      f""""topm_tail_raw":$tailRaw%.3f,""" +
      f""""full":$tFull%.3f,"cap":$cap,"cap_candidates":$capCand,""" +
      f""""cap_verified":$capVerified,"cap_out":$capOut,""" +
      f""""cap_verify_secs":$tCapVerify%.3f,"cap_full":$tCapFull%.3f}""")
  }
}
