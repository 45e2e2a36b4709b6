package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorMath

/** Deduplication operators for document/embedding corpora — the
  * training-data-pipeline extension mandated alongside the reference's own
  * surface (SURVEY.md §2 dd_*). The reference's ETL dedups implicitly via
  * pandas groupby uniqueness (generate_sample_data.py builds keyed frames);
  * here dedup is a first-class scalable operator family.
  *
  * Scale design:
  *   - exact/normalized dedup: one hash-aggregate / window over a content
  *     key — shuffles only on the 16-byte hash, never on the text.
  *   - pairwise Jaccard is NEVER run unblocked: candidates are restricted
  *     to a blocking key (here `source`; MinHash-LSH banding is the
  *     unsupervised blocking path, see MinHashLsh). Within-block pair
  *     generation is a token-equality self-join, so cost tracks shared-token
  *     density, not corpus².
  *   - embedding near-dup blocks on `label` (IVF-style coarse partition).
  */
object Dedup {

  /** Exact + normalized content dedup: md5 of the raw text and of the
    * sorted distinct token set; canonical id = min doc over the normalized
    * key (so re-ordered/repeated-word copies collapse too). */
  def exact(documents: DataFrame): DataFrame = {
    val normKey = md5(
      concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))
        .cast("binary"))
    val w = Window.partitionBy(col("norm_hash"))
    documents
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withColumn("norm_hash", normKey)
      // both window aggregates in ONE projection → one Window operator
      // (r20; the withColumn chain planned two passes over the partition)
      .select(col("doc_id"), col("content_hash"), col("norm_hash"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("n_copies"))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
      .select("doc_id", "content_hash", "norm_hash", "canonical_id",
        "n_copies", "is_duplicate")
      .orderBy("doc_id")
  }

  /** Guard for the deliberately-quadratic within-block verifiers: fail
    * fast when any block exceeds `maxBlock` members, naming the LSH
    * entry points — an unblocked 100-TB corpus must never silently run
    * an O(m²) join. One cheap narrow-key aggregate before the plan
    * executes. */
  private def requireBoundedBlocks(df: DataFrame, blockCol: String,
      maxBlock: Int, caller: String, entryPoint: String): Unit = {
    val worst = df.groupBy(col(blockCol)).agg(count(lit(1)).as("m"))
      .agg(coalesce(max(col("m")), lit(0L))).head().getLong(0)
    if (worst > maxBlock) throw new IllegalArgumentException(
      s"$caller is an exhaustive within-block VERIFIER: block " +
        s"'$blockCol' has $worst members (max $maxBlock), which would run " +
        s"a quadratic self-join. Use the unsupervised LSH entry point " +
        s"$entryPoint for corpora of this size, or raise maxBlock " +
        s"deliberately.")
  }

  /** Blocked token-set Jaccard near-dup pairs: within each `source` block,
    * docs sharing tokens are paired and scored |A∩B| / |A∪B|; pairs at or
    * above `threshold` survive. Set sizes ride along the explode-join so
    * the union size needs no second join.
    *
    * This is the EXHAUSTIVE within-block verifier (O(m²/blocks)):
    * [[graft.operators.MinHashLsh.exactPairs]] is the unsupervised scale
    * entry point. Blocks above `maxBlock` members fail fast. */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.9,
      maxBlock: Int = 10000): DataFrame = {
    val toks = documents.select(
      col("doc_id"), col("source"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    requireBoundedBlocks(documents.select(col("source")), "source", maxBlock,
      "Dedup.ngramJaccard", "MinHashLsh.exactPairs")
    // block self-join on `source` only; the intersection runs in-place on
    // the sorted token arrays (native O(n+m) merge kernel) — no token
    // explode, so the shuffle carries one row per doc per block instead
    // of one per (doc, token)
    val t100 = math.round(threshold * 100)
    val a = toks.as("a")
    val b = toks.as("b")
    // size-ratio prefilter inside the join condition: j ≥ θ forces
    // 100·min(na,nb) ≥ θ₁₀₀·max (necessary condition of the integer
    // predicate below), so the O(n+m) intersect kernel never runs on
    // pairs the set-size gap already rules out — output unchanged
    a.join(b,
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id")
          && col("a.n") * 100L >= lit(t100) * col("b.n")
          && col("b.n") * 100L >= lit(t100) * col("a.n"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        org.apache.spark.sql.graft.ColumnBridge
          .sortedIntersectCount(col("a.toks"), col("b.toks"))
          .cast("long").as("inter"))
      // threshold in the single-reference form inter·(100+θ₁₀₀) ≥
      // θ₁₀₀·(na+nb) — algebraically j ≥ θ, but in exact integer math so
      // boundary pairs (j = θ precisely) are included in both engines.
      // Catalyst pushes this into the join condition, and with one `inter`
      // reference the native intersect kernel runs once per pair, not twice
      .filter(col("inter") * lit(100L + t100)
        >= lit(t100) * (col("na") + col("nb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** (vec_id, t, bucket) rows: one LSH bucket id per hash table, computed
    * by the native EmbeddingLshBuckets kernel — integer-quantized
    * components (floor(x*10^4) longs), two-round-LCG signed-16-bit plane
    * weights, pure Long dot products, so the bucket bits are exact and
    * bit-identical to the correctness oracle's SQL twin
    * (SparkEntry.lshBucketSql). Only these narrow keys enter the
    * candidate self-join.
    *
    * Embedding near-dup pairs gated by these buckets mirror MinHashLsh
    * for text: a vector's candidates are the rows sharing a sign-pattern
    * bucket in any of `tables` hash tables, so the pairwise join is
    * bucket-local. */
  private[graft] def embeddingBuckets(embeddings: DataFrame, tables: Int = 8,
      planes: Int = 6): DataFrame =
    embeddings
      .select(col("vec_id"),
        org.apache.spark.sql.graft.ColumnBridge
          .embeddingLshBuckets(col("embedding"), tables, planes).as("bkts"))
      .select(col("vec_id"), col("bkts"),
        posexplode(col("bkts")).as(Seq("t", "bucket")))

  /** Corpus size at and below which the auto plane count stays at the
    * original 6-plane geometry — covers every oracle corpus, keeping
    * dd_embedding's DuckDB twin bit-exact. */
  private[graft] val PlaneAnchorRows = 1024L

  /** Plane growth per corpus doubling beyond [[PlaneAnchorRows]] (r14,
    * the CANDIDATE-anchored schedule). The r6–r13 rule held expected
    * bucket OCCUPANCY constant (+1 plane per doubling, the uniform-
    * bucket heuristic), but the r14 stage profile measured the candidate
    * stage — not output materialization, as r13 hypothesized — driving
    * the key's scaling slope: on this corpus's positively-correlated
    * background (mean pair cosine ≈ 0.3, heavy-tailed sign-pattern
    * buckets) candidates only shrink ~0.58× per TWO added planes (the
    * r8 measurement), so occupancy-constant planes leave candidate
    * volume growing ~n^1.26 (measured 310k → 11.05M per 10× rows).
    * 1.5 planes per doubling is the measured compromise: candidate
    * growth drops to ~2.6× per 10× data (sub-linear per vector) while
    * the j=0.9 operating point keeps ~0.68 recall at the 10⁵-row scale
    * (8 tables; true near-identical duplicates — θ ≈ 0, per-table
    * collision ≈ 1 at ANY plane count — are unaffected at every scale,
    * specced). The constant-per-vector coefficient (~2.5/doubling)
    * would cost j=0.9 recall 0.45 — too much for the default. */
  private[graft] val PlanesPerDoubling = 1.5

  /** Sentinel for "resolve the density cap from the corpus size"
    * (see [[resolveDensityCap]]) — the production default of the
    * embedding near-dup entry points since r17. */
  val AutoDensityCap: Int = -1

  /** The density-capped dial's default candidate budget per vector —
    * dd_embedding's registered operating point. The r16 three-point
    * study (EMB_DENSITY_r16.json, 20k/200k/600k vectors) measured this
    * cap holding candidate density flat at ~55–63/vector where the
    * uncapped auto-plane dial grows 645→1,349, at planted near-dup
    * recall 0.992–1.000 — 9.5× faster at the 600k point, where the
    * uncapped dial OOMs an 8 GB heap. */
  val DefaultDensityCap: Int = 128

  /** Corpus size above which [[AutoDensityCap]] engages
    * [[DefaultDensityCap]] (32× [[PlaneAnchorRows]]). Below it the auto
    * dial stays uncapped: every oracle corpus (≤ 20k vectors at sf1)
    * keeps the richer uncapped recall and its bit-exact DuckDB twin,
    * while any corpus in the regime where the uncapped dial's measured
    * ~2× per-decade candidate-density growth bites (the 200k/600k study
    * points sit just above) gets the linear-work cap without the
    * caller having to know the dial exists. */
  val CapAutoRows: Long = 32768L

  /** `densityCap` resolution: `> 0` is an explicit per-vector budget,
    * `0` explicitly disables capping (the oracle-twinned uncapped
    * semantics), and [[AutoDensityCap]] (the default) engages
    * [[DefaultDensityCap]] once the corpus passes [[CapAutoRows]] —
    * so the out-of-the-box dial is the one a 100-TB deployment should
    * run, not the one that is only safe at oracle sizes. */
  private[graft] def resolveDensityCap(densityCap: Int, n: Long): Int = {
    require(densityCap >= AutoDensityCap,
      s"densityCap must be > 0, 0 (uncapped) or AutoDensityCap (got $densityCap)")
    if (densityCap >= 0) densityCap
    else if (n > CapAutoRows) DefaultDensityCap
    else 0
  }

  /** Precomputed integer thresholds of the auto plane schedule: extra
    * plane k (beyond the 6-plane anchor) engages at n > PlaneThresholds
    * (k−1). Entry m (1-based) is ⌊1024·2^((m−1)/1.5)⌋ =
    * ⌊2^(10+2(m−1)/3)⌋, computed EXACTLY as the integer cube root of
    * 2^(2m+28) (so every third entry is the exact power of two
    * 2^(10+2(m−1)/3) and the rest are exact floors of the irrational
    * boundary — no double rounding anywhere). 57 entries take the
    * schedule to 63 planes, the most that fit a sign-packed BIGINT
    * bucket; beyond the last threshold (≈1.8e14 vectors) the schedule
    * CLAMPS at 63 (the pre-r18 log-form would have overflowed the
    * shift there). ScalePathSpec re-derives the table from BigInt cube
    * roots and pins it equal to the retired double-formula schedule
    * across the boundary sweep. */
  private[graft] val PlaneThresholds: Array[Long] = Array(
    1024L, 1625L, 2580L, 4096L, 6501L, 10321L, 16384L, 26007L, 41285L,
    65536L, 104031L, 165140L, 262144L, 416127L, 660561L, 1048576L,
    1664510L, 2642245L, 4194304L, 6658042L, 10568983L, 16777216L,
    26632170L, 42275935L, 67108864L, 106528681L, 169103740L, 268435456L,
    426114725L, 676414963L, 1073741824L, 1704458900L, 2705659852L,
    4294967296L, 6817835603L, 10822639409L, 17179869184L, 27271342415L,
    43290557638L, 68719476736L, 109085369661L, 173162230554L,
    274877906944L, 436341478645L, 692648922219L, 1099511627776L,
    1745365914582L, 2770595688878L, 4398046511104L, 6981463658331L,
    11082382755513L, 17592186044416L, 27925854633326L, 44329531022053L,
    70368744177664L, 111703418533304L, 177318124088212L)

  /** `planes = 0` (the default) resolves to 6 + (count of
    * [[PlaneThresholds]] entries below n) — the corpus-size-scaled
    * geometry, identical to the r14 formula
    * 6 + ⌈[[PlanesPerDoubling]]·log₂(n/1024)⌉ at every corpus size in
    * the table's range but decided by pure Long comparisons (r18: the
    * former double-op chain carried a theoretical ulp-of-a-ceil-boundary
    * divergence between engine and oracle; the integer table, consumed
    * verbatim by both sides, has no boundary to mis-round). A FIXED
    * plane count means in-bucket candidate volume grows quadratically
    * with the corpus (the r6 study measured 13× cost at 10× data for
    * fixed 6 planes); this schedule grows planes fast enough that
    * PER-VECTOR candidate work stays near-constant on the measured
    * bucket tail. Bucket geometry is part of an approximate-dedup op's
    * SEMANTICS (more planes → finer sign patterns → fewer low-cosine
    * candidates surface), so callers needing bit-stable output across
    * corpus sizes pass an explicit plane count; at the oracle sizes
    * (n ≤ [[PlaneAnchorRows]]) the auto value resolves to the original
    * 6, keeping dd_embedding's oracle bit-exact. */
  private[graft] def resolvePlanes(planes: Int, n: Long): Int =
    if (planes > 0) planes
    else if (n <= PlaneAnchorRows) 6
    else 6 + PlaneThresholds.count(n > _)

  /** LSH-blocked embedding near-dup pairs — the unsupervised scale path.
    * The auto plane count (`planes = 0`) needs the corpus size: pass
    * `corpusSize` when it is already known and the input pipeline is
    * expensive — with neither, `embeddings.count()` runs as an extra
    * action, which is a metadata-only scan for the common
    * materialized-parquet input but re-executes an un-cached upstream
    * pipeline (cache/checkpoint such an input first, or pass
    * `corpusSize`/an explicit `planes`).
    *
    * `densityCap > 0` bounds each vector's CANDIDATE GENERATION (see
    * [[capBuckets]]) — the density-capped dial for corpora where even
    * the auto plane schedule's ~2× per-decade candidate-density growth
    * (the r15 scale study's one super-linear production curve) is too
    * much. Recall becomes the capped contract: pairs outside both
    * endpoints' kept buckets are never considered. 0 generates from
    * every bucket — the oracle-twinned uncapped semantics. The default
    * is [[AutoDensityCap]]: uncapped at or under [[CapAutoRows]] rows,
    * [[DefaultDensityCap]] above (see [[resolveDensityCap]]). */
  def embeddingNearDupLsh(embeddings: DataFrame, threshold: Double = 0.3,
      tables: Int = 8, planes: Int = 0, maxBucket: Int = 4096,
      corpusSize: Long = 0L, densityCap: Int = AutoDensityCap): DataFrame =
    // materialize the verified survivors before the presentation sort so
    // the range sampler reads 24-byte rows instead of re-executing the
    // bucket join + verify lineage (the r14 dd_minhash_lsh profile fix)
    embeddingPairsUnsorted(embeddings, threshold, tables, planes,
        maxBucket, corpusSize, densityCap)
      .localCheckpoint(false)
      .orderBy("vec_a", "vec_b")

  /** Per-vector candidate-density cap over exploded LSH bucket rows
    * (vec_id, t, bucket): each vector keeps its SMALLEST buckets — in
    * ascending (bucket size, table) order — until the kept buckets'
    * candidate budget Σ(m−1) exceeds `cap`, with the single smallest
    * bucket always kept so no vector is orphaned. Generation from the
    * kept rows is then ≤ cap candidates per vector BY CONSTRUCTION (plus
    * the always-kept first bucket), making total candidate volume ≤
    * ~cap·n at ANY corpus size — the linear-work dial the auto plane
    * schedule alone cannot provide (it holds recall by letting density
    * grow ~2× per decade; r15 profile: 291→602 candidates/vector at
    * sf1→sf10).
    *
    * Why recall survives the cut: a true near-duplicate pair shares its
    * agreeing buckets, and a bucket's SIZE is a property of the bucket —
    * both endpoints therefore rank their shared buckets identically and
    * keep them together, while the buckets the cap drops first are
    * exactly the large, low-selectivity ones whose members are
    * overwhelmingly background. Planted-near-dup recall at the default
    * cap gates in tools/scaling.py via the bench recall telemetry.
    *
    * Cost shape: one (t, bucket) count window + one per-vector running
    * sum — two linear exchanges of 24-byte rows — in place of the
    * super-linear candidate tail they remove. */
  private[graft] def capBuckets(bucketRows: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"densityCap must be >= 1 (got $cap)")
    val wB = Window.partitionBy(col("t"), col("bucket"))
    val wV = Window.partitionBy(col("vec_id")).orderBy(col("m"), col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketRows
      .withColumn("m", count(lit(1)).over(wB))
      // rk and cum share the per-vector partition+order (frames differ)
      // — one projection → one Window operator above the m window (r20)
      .select(col("vec_id"), col("t"), col("bucket"),
        row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("m"), col("t")))
          .as("rk"),
        sum(col("m") - lit(1L)).over(wV).as("cum"))
      .filter(col("rk") === 1 || col("cum") <= cap)
      .select("vec_id", "t", "bucket")
  }

  /** The verified (vec_a, vec_b, cosine) stream of [[embeddingNearDupLsh]]
    * before its presentation sort — shared with [[embeddingNearDupTopM]],
    * which caps the OUTPUT instead of materializing the full pair
    * stream. private[graft] so PlanQualitySpec can pin the
    * kernel-bearing plan above the checkpoint boundary. */
  private[graft] def embeddingPairsUnsorted(embeddings: DataFrame,
      threshold: Double, tables: Int, planes: Int, maxBucket: Int,
      corpusSize: Long, densityCap: Int = 0): DataFrame = {
    // the corpus count (a full action) runs ONLY when auto resolution
    // needs it and the caller did not supply the size
    val src = embeddings
    // the corpus size feeds the auto plane schedule AND the verify-side
    // broadcast decision below; an explicit corpusSize skips the action
    val n = if (corpusSize > 0L) corpusSize else src.count()
    val resolvedPlanes = if (planes > 0) planes else resolvePlanes(0, n)
    // AutoDensityCap resolves HERE, where the corpus size is known: the
    // caller-facing default engages the linear-work cap only above
    // CapAutoRows, so oracle-size corpora keep uncapped semantics
    val resolvedCap = resolveDensityCap(densityCap, n)
    val bucketed = embeddingBuckets(src, tables, resolvedPlanes)
    // bucket-local pairing behind the same hot-bucket guard as the text
    // path: a degenerate sign-pattern bucket (e.g. a corpus of
    // near-constant vectors) pairs linearly, not quadratically — and
    // pairs are deduped shuffle-free at their first agreeing table.
    // Under a density cap the kept bucket rows are a per-vector SUBSET,
    // so first-agree dedup (which consults the FULL bucket arrays) would
    // wrongly suppress a pair whose earlier agreeing table one endpoint
    // dropped; the capped volume is ≤ ~cap·n by construction, so a
    // plain guarded distinct is both correct and linear there.
    val pairs = (if (resolvedCap > 0)
      MinHashLsh.guardedBucketPairs(
        capBuckets(bucketed.select("vec_id", "t", "bucket"), resolvedCap),
        Seq("t", "bucket"), "vec_id", maxBucket)
    else
      MinHashLsh.firstAgreeBucketPairs(bucketed, "bkts", "t",
        Seq("t", "bucket"), "vec_id", maxBucket, tables))
      .withColumnRenamed("id_a", "vec_a")
      .withColumnRenamed("id_b", "vec_b")
    // quantized once per VECTOR (scale-7 unscaled ints — same width as
    // the float vector), and the norm carried as its PRECOMPUTED
    // sqrt-double (one sqrt per vector, not two per pair): the per-pair
    // verify is then the fused quantized_cosine14 kernel — one primitive
    // int loop + one division, no per-pair Decimal allocation, yet
    // bit-identical to the cosineFromDec(quantizedDot(...)) chain the
    // DuckDB oracle replicates (exactness argument in DecimalDot).
    val e = src.select(
      col("vec_id"),
      VectorMath.quantize7(col("embedding")).as("q"),
      sqrt(VectorMath.normSqDec(col("embedding")).cast("double")).as("snrm"))
    // size-aware broadcast of the quantized verify payload — the same
    // heap-derived budget as the text-dedup verifies (MinHashLsh). With
    // neither hint nor gate, the 10 MB auto-broadcast threshold flips
    // this to a sort-merge join once the corpus passes ~30k vectors and
    // the CANDIDATE PAIR STREAM — the big side — shuffles twice with
    // per-row quantized payloads (the r14 third-scale-point study's
    // dd_embedding cliff). The decision needs the vector width only in
    // the middle zone: when a 4096-wide payload fits a QUARTER of the
    // budget the side broadcasts with no action at all (the 4× headroom
    // keeps even a freak 16k-dim corpus inside the budget, so the
    // job-free zone can never over-broadcast; it is also the
    // empty-corpus path — the former unconditional head() threw there),
    // and when even a 1-wide payload can't fit, no width can save it.
    // Only between the two bounds does a one-row job (null-safe) read
    // the true width.
    val budget = MinHashLsh.maxBroadcastVerifyBytes(src)
    val hiBound = n * (48L + 4L * 4096L)
    val sideBytes =
      if (hiBound * 4L <= budget) hiBound
      else if (n * 52L > budget) Long.MaxValue
      else src.where(col("embedding").isNotNull)
        .select(size(col("embedding"))).head(1) match {
          case Array(r) => n * (48L + 4L * r.getInt(0))
          case _ => Long.MaxValue // no non-null vectors: nothing verifies
        }
    val ea = MinHashLsh.maybeBroadcast(e.select(col("vec_id").as("vec_a"),
      col("q").as("q_a"), col("snrm").as("snrm_a")), sideBytes)
    val eb = MinHashLsh.maybeBroadcast(e.select(col("vec_id").as("vec_b"),
      col("q").as("q_b"), col("snrm").as("snrm_b")), sideBytes)
    pairs.join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        org.apache.spark.sql.graft.ColumnBridge.quantizedCosine14(
          col("q_a"), col("q_b"), col("snrm_a"), col("snrm_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The BOUNDED-OUTPUT form of embedding near-dup detection: the same
    * LSH gate and quantized-cosine verify as [[embeddingNearDupLsh]],
    * but each vector keeps only its `m` highest-cosine verified
    * neighbors — (vec_id, neighbor_id, cosine, rank) with rank 1..m by
    * (cosine desc, neighbor_id).
    *
    * This is the 100-TB serving shape. The raw pair stream's SIZE is a
    * property of the corpus, not the plan: at a background threshold the
    * accepted pairs are the cosine tail — near-quadratic in the
    * duplicates per block — so materializing and globally sorting them
    * grows faster than the corpus (the r8–r13 scaling studies' one
    * waived key, 3.3× measured at 10× data with the plan already
    * optimal). No downstream consumer of "what are this document's
    * near-duplicates?" needs that stream ranked globally; capping
    * per-doc output makes the materialized answer n·m rows at ANY
    * corpus size while the verify stage — the part that must see every
    * candidate — is unchanged. The full pair stream stays available as
    * [[embeddingNearDupLsh]] (same verify arithmetic, DuckDB-twinned),
    * and the two forms are specced equal on planted near-dups.
    *
    * Scale shape: the mirrored pair stream shuffles once on vec_id (24-
    * byte rows) into the per-vector top-m window; output is bounded, so
    * the presentation sort is too. */
  def embeddingNearDupTopM(embeddings: DataFrame, threshold: Double = 0.3,
      m: Int = 10, tables: Int = 8, planes: Int = 0, maxBucket: Int = 4096,
      corpusSize: Long = 0L, densityCap: Int = AutoDensityCap): DataFrame = {
    require(m >= 1, s"m must be >= 1 (got $m)")
    import org.apache.spark.sql.expressions.Window
    val pairs = embeddingPairsUnsorted(embeddings, threshold, tables,
      planes, maxBucket, corpusSize, densityCap)
    // near-duplication is symmetric: each verified pair is a neighbor
    // edge in both directions. The mirror is ONE generator pass over the
    // verified stream — each row explodes into its two directed edges in
    // the same stage, so the (unbounded) pair stream is never
    // materialized and never read twice (the former union-of-two-legs
    // needed an eager localCheckpoint of the full stream to avoid
    // re-running the bucket-join + verify lineage per leg).
    val mirrored = pairs
      .select(explode(array(
        struct(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"),
          col("cosine")),
        struct(col("vec_b").as("vec_id"), col("vec_a").as("neighbor_id"),
          col("cosine")))).as("e"))
      .select(col("e.vec_id"), col("e.neighbor_id"), col("e.cosine"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    mirrored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
      .orderBy("vec_id", "rank")
  }

  /** Directional containment near-dup pairs — |A∩B| / |A| ≥ `threshold`
    * over distinct word-`n`-gram shingle sets: the SUBSET-duplication
    * detector. A document quoted wholesale inside a larger one (news wire
    * + site chrome, a doc plus appended boilerplate) has Jaccard
    * |A∩B|/|A∪B| ≈ |A|/|B| — far below any near-dup threshold — so the
    * symmetric families (MinHash/SimHash) structurally miss it;
    * containment is the standard complement a training-data pipeline runs
    * beside them. Shingles (not single tokens) are the unit: on a
    * shared-vocabulary corpus token-SET containment is dense vocabulary
    * overlap (measured: ~58% of all ordered pairs at τ=0.8 on the test
    * corpus), while n-gram containment means B reproduces A's actual
    * phrasing — sparse, and the thing a dedup pass is after.
    *
    * EXACT by construction via prefix filtering (the PPJoin family): order
    * each doc's tokens by ascending global document frequency (rarest
    * first, ties on the token string) and emit only its first
    * n − ⌈τ·n⌉ + 1 tokens as probe keys. If |A∩B| ≥ τ|A| then fewer than
    * n − ⌈τ·n⌉ + 1 of A's tokens lie outside B, so by pigeonhole at least
    * one PREFIX token of A is in B — the candidate join (A-prefix tokens ×
    * B-all tokens) has zero false negatives, and the verify stage's exact
    * integer predicate (n_common·100 ≥ τ₁₀₀·n_a) decides. The DuckDB
    * oracle is therefore the plain exhaustive all-pairs form — bit-exact.
    *
    * Scale shape: one tokenization pass (materialized), a narrow df
    * aggregate, the per-doc prefix rank (one row_number window over
    * (token, df) rows), the candidate equi-join on prefix tokens, and
    * token-array verify joins only for surviving candidate ids. Probe
    * keys are each doc's RAREST tokens, so candidate volume tracks
    * rare-token co-occurrence, not corpus². Degenerate corpora (every doc
    * drawn from the same tiny vocabulary) make prefixes common tokens —
    * but such corpora are containment-duplicates of each other, so the
    * candidate volume is output-bound, not a silent blow-up. */
  def containment(documents: DataFrame, threshold: Double = 0.8,
      n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1] (got $threshold)")
    val t100 = math.round(threshold * 100)
    val toks = Contamination.gramSets(documents, n)
      .select(col("doc_id"), array_sort(col("grams")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      // LAZY (r20): verifyStats below is the first action and
      // materializes the tokenization inside its own job; the former
      // eager checkpoint paid a standalone job for the same blocks
      .localCheckpoint(false)
    val cand = containmentCandidates(toks, t100)
    // verify on sorted 64-bit GRAM-HASH arrays, not the ~30-char gram
    // strings (the dd_cluster recipe, r11): 8-byte elements and primitive
    // compares through the per-pair joins. Exactness is preserved, not
    // traded — hashInjectiveOnVocab proves the hash collision-free over
    // this corpus's gram vocabulary (one narrow aggregate), making the
    // hashed intersection THE gram intersection; on a vocabulary
    // collision the hashed count can only overcount (min-multiplicity
    // merge of a hash function's images), so it degrades to a
    // zero-false-negative prefilter and the string intersect re-verifies
    // the output-bound survivors. Payload sides broadcast size-aware
    // (the MinHashLsh heap-derived budget): under it, candidates flow through
    // the verify without a pair shuffle; past it the shuffle join is the
    // 100-TB shape.
    // sizing aggregate + injectivity proof share ONE action (r20; they
    // ran as two serial jobs before — MinHashLsh.verifyStats)
    val (nDocsStat, nToksStat, injective) = MinHashLsh.verifyStats(toks)
    val hashedBytes = nDocsStat * 32L + nToksStat * 8L
    val hashed = toks.select(col("doc_id"), col("n"),
      sort_array(org.apache.spark.sql.graft.ColumnBridge
        .tokenHashes64(col("toks"))).as("hsh"))
    val ha = MinHashLsh.maybeBroadcast(hashed.select(col("doc_id").as("doc_a"),
      col("hsh").as("hsh_a"), col("n").as("n_a")), hashedBytes)
    val hb = MinHashLsh.maybeBroadcast(hashed.select(col("doc_id").as("doc_b"),
      col("hsh").as("hsh_b"), col("n").as("n_b")), hashedBytes)
    // r21: per-row decision floor for the early-exit merge — the filter
    // below keeps n_common iff n_common·100 ≥ τ₁₀₀·n_a, i.e. iff
    // n_common ≥ ⌈τ₁₀₀·n_a/100⌉ (integral), so the kernel may bail once
    // the remaining elements cannot reach that floor: survivor counts
    // are bit-identical, non-survivors fail in both forms
    val needC = expr(s"CAST((${t100} * n_a + 99) DIV 100 AS BIGINT)")
    val hashVerified = cand.join(ha, "doc_a").join(hb, "doc_b")
      // size prefilter ahead of the intersect kernel: A∩B ≤ |B|, so
      // containment ≥ τ needs |B|·100 ≥ τ₁₀₀·|A| — pairs the size gap
      // rules out never run the O(n+m) merge
      .filter(col("n_b") * lit(100L) >= lit(t100) * col("n_a"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        org.apache.spark.sql.graft.ColumnBridge
          .sortedLongIntersectCountMin(col("hsh_a"), col("hsh_b"), needC)
          .cast("long").as("n_common"))
      .filter(col("n_common") * lit(100L) >= lit(t100) * col("n_a"))
    val verified = if (injective) {
      // collision-free gram vocabulary (the always case): the hashed
      // count IS the gram intersection
      hashVerified
    } else {
      // a gram-vocabulary collision somewhere: re-verify the surviving
      // (output-bound) pairs on the gram strings
      val a = toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
      val b = toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
      hashVerified.select("doc_a", "doc_b", "n_a", "n_b")
        .join(a, "doc_a").join(b, "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          org.apache.spark.sql.graft.ColumnBridge
            .sortedIntersectCount(col("toks_a"), col("toks_b"))
            .cast("long").as("n_common"))
        .filter(col("n_common") * lit(100L) >= lit(t100) * col("n_a"))
    }
    verified
      .select(col("doc_a").as("contained_id"), col("doc_b").as("container_id"),
        col("n_a"), col("n_b"), col("n_common"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a"))
      .orderBy("contained_id", "container_id")
  }

  /** dd_containment's candidate stage over sorted per-doc gram sets
    * (`doc_id`, `toks`, `n`): every distinct (doc_a, doc_b) that can reach
    * containment ≥ `t100`/100 of doc_a, by df-ranked prefix filtering with
    * the size and PPJoin positional prunes. ProfileText times this same
    * stage. */
  private[graft] def containmentCandidates(toks: DataFrame, t100: Long): DataFrame = {
    // the whole candidate stage runs on xxhash64(gram) LONG keys, never
    // the ~30-char gram strings: same gram ⇒ same hash, so no candidate
    // is ever lost, and a (vanishingly rare) cross-gram collision only
    // adds a candidate the exact verify rejects — results identical,
    // while the df join + window + candidate join shuffle/sort 8-byte
    // keys instead of strings (measured 4.7 s → ~1 s on the df join at
    // the 2.6M-gram sf1 corpus)
    val tokRows = toks.select(col("doc_id"), col("n"),
      explode(col("toks")).as("token"))
      .select(col("doc_id"), col("n"), xxhash64(col("token")).as("tok_h"))
    val dfTab = tokRows.groupBy("tok_h").agg(count(lit(1)).as("df"))
    // rebuild each doc's tokens ordered by (df, tok_h); keep the
    // n − ⌈τ·n⌉ + 1 rarest as probe keys (exact in double: values ≪ 2^53)
    // (rank via a row_number window, not a per-doc collect_list +
    // array_sort + slice rebuild: same one shuffle on doc_id, none of
    // the array churn — measured 3.9 s → 2.5 s at sf0.1)
    val prefLen = (col("n")
      - floor((lit(t100) * col("n") + lit(99L)) / lit(100.0)).cast("long")
      + lit(1L))
    val wPref = Window.partitionBy("doc_id").orderBy(col("df"), col("tok_h"))
    // every doc's tokens ranked in the ONE global (df, tok_h) order; both
    // candidate-join sides read this frame, so ranks are comparable across
    // docs. Deliberately NOT materialized: the df join + window runs once
    // per join side, but stays fully pipelined into the candidate join —
    // measured faster at both scales than a localCheckpoint barrier
    // (sf0.1 3.6→2.6 s), and the positional prune it feeds cuts the sf1
    // candidate stage ~35% (10.4→6.9 s same-session vs the rank-free form)
    val ranked = tokRows.join(dfTab, "tok_h")
      .withColumn("rn", row_number().over(wPref))
      .select("doc_id", "n", "tok_h", "rn") // df served its ordering role
    val prefix = ranked
      .filter(col("rn") <= prefLen)
      .select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("tok_h"), col("rn").as("rn_a"))
    // two exact candidate prunes INSIDE the join, before the distinct:
    //  - size bound: A∩B ≤ |B|, so containment ≥ τ needs |B|·100 ≥ τ₁₀₀·|A|
    //    (~25% of candidate volume on the salted sf1 corpus);
    //  - PPJoin positional bound: a token matching at 1-based ranks
    //    (rn_a, rn_b) caps the overlap at 1 + min(n_a−rn_a, n_b−rn_b) —
    //    every other common token sorts AFTER it on both sides in the
    //    shared global order. A pair with true overlap ≥ α = ⌈τ·n_a⌉
    //    always survives: its first common token (which prefix filtering
    //    guarantees is inside A's prefix) has all common tokens at ranks
    //    ≥ (rn_a, rn_b), so that match's bound ≥ α. Hash collisions only
    //    loosen the bound (extra "common" rows), never tighten it — zero
    //    false negatives, and the exact verify still decides.
    prefix
      .join(ranked.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("tok_h"), col("rn").as("rn_b")), "tok_h")
      .filter(col("doc_a") =!= col("doc_b") &&
        col("n_b") * lit(100L) >= lit(t100) * col("n_a") &&
        (lit(1L) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")))
          * lit(100L) >= lit(t100) * col("n_a"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Full exact dedup-cluster sweep at `threshold`, with exact-duplicate
    * collapse first: docs sharing a normalized token set are represented
    * by their min doc_id, the (much smaller) representative corpus runs
    * through MinHashLsh.exactPairs → ConnectedComponents, and members
    * inherit their representative's component. Exactness is preserved —
    * identical token sets have jaccard 1 with their representative, and a
    * cluster's min id is always a representative (it is the min of its
    * own norm group), so component ids match the uncollapsed run. On
    * corpora with heavy exact duplication this cuts the pairwise volume
    * by the square of the collapse ratio.
    *
    * `maxIter` bounds the component-propagation rounds: clusters whose
    * graph diameter exceeds it make the pass throw (strict convergence —
    * see ConnectedComponents.components). Near-dup clusters are dense so
    * the default is generous; raise it for corpora with long chains of
    * just-above-threshold neighbours. */
  def clusterExact(documents: DataFrame, threshold: Double = 0.9,
      maxIter: Int = 20): DataFrame = {
    // ONE tokenization pass feeds everything: the norm hash for exact-dup
    // collapse (md5 of the sorted distinct token array), the rep id via a
    // window min, AND — through exactPairsFromToks — the minhash
    // signatures and the token-verify joins. Materialized once; no stage
    // re-scans or re-tokenizes the corpus.
    val toks = clusterTokens(documents)
      // LAZY (r20): the banding guard inside exactPairsFromToks is the
      // first action and materializes this frame in the same job
      .localCheckpoint(false)
    val repToks = toks.filter(col("doc_id") === col("rep_id"))
      .select("doc_id", "toks", "n")
    val comps = ConnectedComponents.components(
      MinHashLsh.exactPairsFromToks(repToks, threshold), maxIter,
      // exactPairs' first-agree dedup emits each pair exactly once, so
      // the defensive edge distinct (a full shuffle) is skipped
      pairsDistinct = true)
    toks
      .join(comps.withColumnRenamed("id", "rep_id"), Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("rep_id")).as("component"))
      .withColumn("keep", col("doc_id") === col("component"))
      .orderBy("doc_id")
  }

  /** dd_cluster's tokenization: (doc_id, rep_id, toks, n), rep_id the
    * min doc_id among docs with the same sorted distinct token set (md5
    * norm hash). ProfileText times the cluster stages over this frame. */
  private[graft] def clusterTokens(documents: DataFrame): DataFrame =
    MinHashLsh.tokenize(documents)
      .withColumn("norm_hash",
        md5(concat_ws(" ", col("toks")).cast("binary")))
      .withColumn("rep_id",
        min(col("doc_id")).over(Window.partitionBy(col("norm_hash"))))
      .select("doc_id", "rep_id", "toks", "n")

  /** Cross-document repeated-substring spans — the POSITION-RESOLVED
    * form of substring-level dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": repeated ≥k-token
    * substrings are removed from training text, not whole documents).
    * tx_boilerplate answers WHICH grams are corpus templates and
    * dd_containment WHICH documents are quoted; this answers WHERE —
    * per document, the maximal token ranges covered by word k-grams
    * that also occur in some OTHER document, i.e. the exact spans a
    * span-removal pass would cut.
    *
    * Shape: positioned k-grams (ONE native word_ngrams pass, positions
    * from posexplode) → a gram-keyed window marks each occurrence whose
    * gram's doc ids are not all equal (min≠max over the partition — no
    * countDistinct) → gaps-and-islands merges duplicated positions whose
    * covered token ranges [pos, pos+k−1] overlap or abut into maximal
    * spans: a new island starts only when the gap between consecutive
    * duplicated positions exceeds k (lag + running sum — the simple
    * pos − row_number form would split positions p and p+2 into two
    * token-overlapping spans whose span_tokens double-count the
    * overlap). The window
    * form deliberately replaces the aggregate-then-join-back shape: one
    * gram-keyed exchange of the gram stream instead of a roll-up
    * shuffle PLUS a probe join PLUS a second gram generation (measured
    * 3.5 s → 1.2 s at sf1). The span window then partitions by doc over
    * only the duplicated positions. Intra-document repeats are
    * deliberately NOT spans (tx_repetition's signal): a gram counts as
    * shared only across distinct doc ids.
    *
    * Output: (doc_id, span_start, span_end, n_grams, span_tokens) with
    * token-inclusive bounds — span_end = last gram position + k − 1.
    * Spans never overlap: within a span the interval union is contiguous
    * (every gap ≤ k), so span_tokens is the exact count of tokens a
    * removal pass cuts, and summing span_tokens over a doc never
    * double-counts. */
  def repeatedSpans(documents: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val grams = documents.select(col("doc_id"),
      posexplode(org.apache.spark.sql.graft.ColumnBridge
        .wordNGrams(col("text"), k)).as(Seq("pos", "gram")))
    val gramW = Window.partitionBy(col("gram"))
    // min and max in ONE projection → one Window pass over the gram
    // partition (r20; the withColumn chain planned two)
    val dupPos = grams
      .select(col("doc_id"), col("pos"),
        min(col("doc_id")).over(gramW).as("lo"),
        max(col("doc_id")).over(gramW).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      // island break: previous covered range ends at lag(pos)+k−1, this
      // one starts at pos — disjoint-and-not-abutting iff the position
      // gap exceeds k (first row: lag is null → otherwise(0) → island 0)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > lit(k.toLong), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k.toLong - 1L)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"),
        (col("span_end") - col("span_start") + lit(1L)).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** Embedding-cosine near-dup pairs, blocked on `label` (coarse IVF-style
    * partition so the pairwise work is per-block, not corpus²) — the
    * EXHAUSTIVE within-block verifier; [[embeddingNearDupLsh]] is the
    * unsupervised scale entry point. Exact decimal dot products keep the
    * result oracle-comparable. Blocks above `maxBlock` members fail fast. */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.3,
      maxBlock: Int = 10000): DataFrame = {
    requireBoundedBlocks(embeddings.select(col("label")), "label", maxBlock,
      "Dedup.embeddingNearDup", "Dedup.embeddingNearDupLsh")
    // one quantized-long dot per pair decides directly — the old double
    // prefilter existed to spare the interpreted decimal chain, and the
    // native kernel made it redundant (same cost as the prefilter dot)
    val e = embeddings.select(
      col("vec_id"), col("label"),
      VectorMath.quantize7(col("embedding")).as("q"),
      VectorMath.normSqDec(col("embedding")).as("nrm"))
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"),
        VectorMath.cosineFromDec(
          VectorMath.quantizedDot(col("a.q"), col("b.q")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "label", "cosine")
      .orderBy("vec_a", "vec_b")
  }
}
