package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.{SessionScoped, Tables}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory and
  * §4 for the cross-engine determinism rules every query/oracle pair obeys.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Headline.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** One persisted IVF index per (session, sf dir): trained with
    * Ivf.topK's own defaults (cells ∝ √n, 8 Lloyd's rounds) and written as
    * the cell-partitioned layout, so the sim_ivf* keys measure PROBE cost
    * — the shape real callers run after saveIndex/openIndex — instead of
    * re-training k-means on every invocation. Beside each index, the
    * corpus row count captured while building it: index metadata a real
    * ANN service knows, so the auto-dial probe (sim_ivf_auto) passes it
    * instead of re-counting per invocation. */
  private val ivfIndexes = new SessionScoped(
    scala.collection.concurrent.TrieMap.empty[String, (Ivf.IvfIndex, Long)])

  /** One persisted MinHash signature index per (session, sf dir) (corpus
    * = doc_id % 5 != 0), so dd_incremental measures the ingest-batch
    * probe — sign the batch + one corpus-signature scan — not corpus
    * signing. */
  private val sigIndexes = new SessionScoped(
    scala.collection.concurrent.TrieMap.empty[String, IncrementalDedup.SigIndex])

  private[graft] def sigIndexFor(s: SparkSession, dir: String): IncrementalDedup.SigIndex =
    sigIndexes(s).getOrElseUpdate(dir, {
      val corpus = Tables.documents(s, dir)
        .filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0)
      val path = indexDir(s, "graft-sig-index")
      IncrementalDedup.saveSignatures(corpus, path)
      IncrementalDedup.openSignatures(s, path)
    })

  private[graft] def ivfIndexFor(s: SparkSession, dir: String): (Ivf.IvfIndex, Long) =
    ivfIndexes(s).getOrElseUpdate(dir, {
      val emb = Tables.embeddings(s, dir).localCheckpoint(true)
      val n = emb.count()
      val cells = math.max(2,
        math.ceil(math.sqrt(n.toDouble)).toInt)
      val cents = Ivf.kmeansCentroids(emb, cells, 8, inputMaterialized = true)
      val path = indexDir(s, "graft-ivf-index")
      Ivf.saveIndex(emb, cents, path)
      (Ivf.openIndex(s, path), n)
    })

  /** A fresh temp directory for a session index, deleted when the
    * session's SparkContext stops. */
  private def indexDir(s: SparkSession, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    deleteOnStop(s.sparkContext, dir)
    dir.toString
  }

  /** Register a listener that deletes `dir` on application end; returned
    * so a caller can fire or remove it. */
  private[graft] def deleteOnStop(sc: SparkContext, dir: java.io.File): SparkListener = {
    val l = new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
    sc.addSparkListener(l)
    l
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- benchmarking engine (SURVEY §2: bm_*) ---
    "bm_entity_metrics" -> ((s, dir) => Benchmarking.metricsFor(s, dir)),
    "bm_rating_dist" -> ((s, dir) =>
      Benchmarking.ratingDistribution(Benchmarking.metricsFor(s, dir))),
    "bm_group_summary" -> ((s, dir) =>
      Benchmarking.groupSummary(Benchmarking.metricsFor(s, dir))),
    "bm_portfolio_summary" -> ((s, dir) =>
      Benchmarking.portfolioSummary(Benchmarking.metricsFor(s, dir))),
    "bm_percentile" -> ((s, dir) =>
      Benchmarking.percentiles(Benchmarking.metricsFor(s, dir))),
    "bm_co2" -> ((s, dir) => Benchmarking.co2Bands(Benchmarking.metricsFor(s, dir))),
    "bm_recommendations" -> ((s, dir) =>
      Benchmarking.recommendations(Benchmarking.metricsFor(s, dir))),
    "bm_top_entities" -> ((s, dir) =>
      Benchmarking.topEntitiesPerGroup(Benchmarking.metricsFor(s, dir), 3)),
    "bm_representatives" -> ((s, dir) =>
      Benchmarking.representativeSubset(Benchmarking.metricsFor(s, dir), 8)
        .orderBy(org.apache.spark.sql.functions.col("is_selected").desc,
          org.apache.spark.sql.functions.col("c_custkey"))),
    // gold-layer boolean-share KPIs (medallion.py:194-230's hvac/solar-%
    // pattern): shares are sums of exact 0/1 doubles over a count, so the
    // division is engine-deterministic
    "bm_type_shares" -> ((s, dir) =>
      Medallion.typeShares(Benchmarking.metricsFor(s, dir))),
    // --- headline analytics (SURVEY §2: q_*) ---
    "q_pricing_summary" -> ((s, dir) =>
      Headline.pricingSummary(Tables.lineitem(s, dir))),
    "q_top_nations" -> ((s, dir) => Headline.topNationRevenue(s, dir, 10)),
    // --- time-series ETL (SURVEY §2: ts_*) ---
    "ts_clean" -> ((s, dir) => TimeSeries.clean(TimeSeries.base(s, dir))),
    "ts_interpolate" -> ((s, dir) => TimeSeries.interpolate(TimeSeries.base(s, dir))),
    "ts_rolling" -> ((s, dir) => TimeSeries.rollingFeatures(TimeSeries.base(s, dir))),
    "ts_lag_delta" -> ((s, dir) => TimeSeries.lagDelta(TimeSeries.base(s, dir))),
    "ts_resample" -> ((s, dir) => TimeSeries.resampleHourly(TimeSeries.base(s, dir))),
    "ts_sessionize" -> ((s, dir) => TimeSeries.sessionize(TimeSeries.base(s, dir))),
    // --- anomaly detection (SURVEY §2: ad_*) ---
    "ad_threshold" -> ((s, dir) =>
      AnomalyRules.thresholdAlerts(TimeSeries.rollingFeatures(TimeSeries.base(s, dir)))),
    "ad_consecutive" -> ((s, dir) => AnomalyRules.consecutiveRuns(TimeSeries.base(s, dir))),
    "ad_oscillation" -> ((s, dir) => AnomalyRules.oscillation(TimeSeries.base(s, dir))),
    "ad_zscore" -> ((s, dir) => AnomalyRules.zscoreAlerts(TimeSeries.base(s, dir))),
    // --- alert store / query surface (SURVEY §2: al_*) ---
    // r21: every al_* consumer that AGGREGATES or TakeOrdereds the alert
    // stream composes the UNSORTED rule cores — the sorted public forms
    // fed a rangepartitioning exchange + global sort that the consumer's
    // aggregate/TakeOrderedAndProject immediately destroyed, and
    // EliminateSorts does not remove an ordered EXCHANGE under an
    // aggregate (plan diff: al_summary 4 → 3 exchanges, the range
    // exchange+sort gone; same rows — counts and top-k are
    // order-insensitive, oracle-gated). ad_threshold keeps the sorted
    // form: its OUTPUT is the presentation-ordered alert stream.
    "al_filter" -> ((s, dir) =>
      Alerts.filterAlerts(
        AnomalyRules.thresholdAlertsUnsorted(
          TimeSeries.rollingFeaturesUnsorted(TimeSeries.base(s, dir))),
        1704844800000000L, 1705708800000000L, "high", 100)),
    "al_summary" -> ((s, dir) =>
      Alerts.summary(
        AnomalyRules.thresholdAlertsUnsorted(
          TimeSeries.rollingFeaturesUnsorted(TimeSeries.base(s, dir))))),
    "al_daily" -> ((s, dir) =>
      Alerts.daily(
        AnomalyRules.thresholdAlertsUnsorted(
          TimeSeries.rollingFeaturesUnsorted(TimeSeries.base(s, dir))))),
    "al_filter_rule" -> ((s, dir) => {
      val events = TimeSeries.base(s, dir)
      Alerts.filterAlerts(
        Pipeline.detectAll(events, TimeSeries.rollingFeaturesUnsorted(events)),
        startUs = Some(1704844800000000L), endUs = Some(1705708800000000L),
        ruleName = Some("zscore"), limit = 1000)
    }),
    "al_summary_range" -> ((s, dir) =>
      Alerts.summary(
        AnomalyRules.thresholdAlertsUnsorted(
          TimeSeries.rollingFeaturesUnsorted(TimeSeries.base(s, dir))),
        1704844800000000L, 1705708800000000L)),
    // detectAllShared: ONE materialized events pass feeds all four rules
    // (the exchanges stay per-rule — r7 audit — but the scan is shared)
    "al_summary_top" -> ((s, dir) =>
      Alerts.summaryTopEntities(Pipeline.detectAllShared(s, dir), 10)),
    "al_summary_rules" -> ((s, dir) =>
      Alerts.summaryByRule(Pipeline.detectAllShared(s, dir))),
    // the feature frame feeds BOTH join sides (the alert derivation and
    // the overlay) — materialize it once so the rolling window computes
    // one pass, not one per side (r20; the IsolationForest.scoreAll
    // pattern). UNSORTED: the join re-shuffles both sides anyway and the
    // key's own orderBy supplies the presentation order.
    "al_join_features" -> ((s, dir) => {
      // LAZY: the broadcast build of the alerts side is the first action
      // and materializes the feature blocks; the probe side reads them.
      // Keyed first, so the join keeps its partitions over a one-split read.
      val features = TimeSeries.rollingFeaturesUnsorted(TimeSeries.baseByKey(s, dir))
        .localCheckpoint(false)
      Alerts.joinFeatures(AnomalyRules.thresholdAlertsUnsorted(features), features)
    }),
    // --- dedup / similarity / text / multimodal (SURVEY §2: dd_/sim_/tx_/mm_) ---
    // NOTE: dd_ngram_jaccard / dd_embedding_exact (the deliberately-
    // quadratic within-block VERIFIERS, Dedup.ngramJaccard /
    // Dedup.embeddingNearDup) are spec-only since round 5 — they guard the
    // LSH paths in the test suite (ClusterIvfSpec, ScalePathSpec,
    // LlmOpsSpec) but no longer run as query keys, because their O(m²/
    // blocks) plans are exactly what the scale design exists to avoid.
    "dd_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    // directional subset-duplication (|A∩B|/|A| >= 0.8): prefix-filter
    // candidates are EXACT, so the oracle is the plain all-pairs form
    "dd_containment" -> ((s, dir) =>
      Dedup.containment(Tables.documents(s, dir))),
    // the BOUNDED-output serving form (r14): per-vector top-10 verified
    // neighbors — n·m output rows at any corpus size, where the raw pair
    // stream (embeddingNearDupLsh, same gate + verify arithmetic, also
    // replayed inside this key's oracle CTEs) is output-bound
    // near-quadratic by corpus construction (the retired 3.5x waiver).
    // SINCE r17 the registered key runs the DENSITY-CAPPED dial (cap =
    // Dedup.DefaultDensityCap): the r16 three-point study proved it
    // strictly better at scale (flat ~55-63 candidates/vector across
    // 20k→600k vectors vs the uncapped dial's 645→1,349, 9.5× faster at
    // 600k where uncapped OOMs an 8 GB heap, planted recall
    // 0.992-1.000), so it is the dial a 100-TB deployment runs. The
    // uncapped oracle-twinned semantics live on as dd_embedding_uncapped.
    // The full dial taxonomy (corpus size / recall contract / cost curve
    // / oracle status per dial) is the one-table summary in
    // docs/indexes.md §"Which dial when".
    "dd_embedding" -> ((s, dir) => Dedup.embeddingNearDupTopM(
      Tables.embeddings(s, dir), densityCap = Dedup.DefaultDensityCap)),
    // the uncapped auto-plane twin (the pre-r17 dd_embedding semantics):
    // every candidate bucket generates, so recall is the plane
    // schedule's contract alone — the dial for corpora small enough
    // that its ~2×/decade candidate-density growth is affordable
    "dd_embedding_uncapped" -> ((s, dir) => Dedup.embeddingNearDupTopM(
      Tables.embeddings(s, dir), densityCap = 0)),
    // explicit anchor-dial twin (r15): planes pinned to the oracle's 6,
    // so the key is oracle-green at ANY sf — the guarded correctness run
    // (forced broadcast budget, sf0.1) uses it to prove the shuffle-mode
    // verify bit-matches; the default-dial key above stays the benched
    // scale form (its auto plane schedule resolves to 6 only at the
    // sf0.01 gate's n <= 1024)
    "dd_embedding_anchor" -> ((s, dir) =>
      Dedup.embeddingNearDupTopM(Tables.embeddings(s, dir), planes = 6)),
    // LEDGER NOTE (r17): the r16 key dd_embedding_capped is retired —
    // its density-capped dial (candidate GENERATION bounded at <=
    // Dedup.DefaultDensityCap per vector via Dedup.capBuckets, total
    // candidate volume ~cap·n at any corpus size) is now dd_embedding
    // itself, and dd_embedding_uncapped above holds the former
    // dd_embedding semantics. Planted-recall telemetry for the capped
    // dial rides every bench (RecallProbe) and gates in tools/scaling.py.
    "sim_topk" -> ((s, dir) => Similarity.bruteForceTopK(Tables.embeddings(s, dir), 0L, 20)),
    // frame-sampling plumbing: fixed windows at a regular stride, digested
    // per frame so the oracle rebuilds them from the payload text
    "mm_frames" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Multimodal.frameSample(
        Multimodal.binaryColumnsUnsorted(Tables.documents(s, dir))).toDF()
        .orderBy("doc_id", "frame_no")
    }),
    // cross-document repeated frames: only digests shuffle, never payloads
    "mm_frame_dedup" -> ((s, dir) =>
      Multimodal.frameDedup(Multimodal.binaryColumnsUnsorted(Tables.documents(s, dir)))),
    // resize = adjacent-bin re-aggregation of the count histogram
    "mm_resize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val mm = Multimodal.binaryColumnsUnsorted(Tables.documents(s, dir))
      // raw integer bin counts straight from the decode batch — exact at
      // any document size (no float round-trip)
      val counts = Multimodal.extractFeatures(mm, 16).toDF()
        .select(col("doc_id"), col("n_bytes"), col("counts"))
      Multimodal.resizeFeatures(counts, "counts", 4)
        .select(col("doc_id"),
          md5(concat_ws(",", transform(col("counts_resized"),
            x => x.cast("long").cast("string"))).cast("binary")).as("resized_digest"),
          aggregate(col("counts_resized"), lit(0.0d), (a, b) => a + b)
            .cast("long").as("total"))
        .orderBy("doc_id")
    }),
    "tx_tokens" -> ((s, dir) => TextAnalysis.tokenStats(Tables.documents(s, dir))),
    // sequence packing (concat-and-chunk): per-shard token prefix sums
    // assign each doc its training sequence(s); shard-parallel, total
    // order within shard → bit-reproducible (oracle: same window SQL)
    "tx_pack" -> ((s, dir) =>
      operators.Packing.packSequences(Tables.documents(s, dir))),
    // per-document overlapping chunking (r15) — the long-doc half of the
    // packing story: budget 64 / overlap 16 so the gate corpus (~100+
    // tokens/doc) genuinely multi-chunks; pure per-row explode+slice
    "tx_chunk" -> ((s, dir) =>
      operators.Packing.chunkDocuments(Tables.documents(s, dir),
        budget = 64, overlap = 16)),
    "tx_quality" -> ((s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir))),
    "tx_langid" -> ((s, dir) => TextAnalysis.languageId(Tables.documents(s, dir))),
    "tx_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir))),
    "tx_ngram_freq" -> ((s, dir) =>
      TextAnalysis.ngramFrequencies(Tables.documents(s, dir), 2, 50)),
    "tx_normalize" -> ((s, dir) => TextAnalysis.normalize(Tables.documents(s, dir))),
    "tx_pii" -> ((s, dir) => TextAnalysis.piiScan(Tables.documents(s, dir))),
    "tx_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir))),
    // corpus-bigram LM fluency proxy: mean corpus frequency of the doc's
    // bigrams (integers + one division — the log-free CCNet analog)
    "tx_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir))),
    // per-doc top-3 tf·idf salient terms (linear idf — log-free so the
    // score is two IEEE ops and the oracle bit-exact)
    "tx_tfidf" -> ((s, dir) =>
      TextAnalysis.salientTerms(Tables.documents(s, dir))),
    "tx_corpus_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(Tables.documents(s, dir))),
    // the composed curation gate: quality + repetition + PII in ONE scan
    "tx_curate" -> ((s, dir) => TextAnalysis.curate(Tables.documents(s, dir))),
    "tx_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplate(Tables.documents(s, dir), topK = 1000)),
    // deterministic stratified sampling: src0 at 50%, src1 dropped,
    // everything else at the 10% default — the mixture-weighting pass
    "ds_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir),
        Map("src0" -> 50, "src1" -> 0), defaultPct = 10)),
    // deterministic train/val/test carve: fixed Lehmer residue ranges per
    // split, so the holdout set is reproducible cross-run and cross-engine
    "ds_split" -> ((s, dir) =>
      Sampling.splitAssignments(Tables.documents(s, dir))),
    // deterministic global shuffle into 16 training shards: the Lehmer
    // bijection is the permutation, the only exchange is the
    // partition-by-shard the shard write needs anyway
    "ds_shuffle" -> ((s, dir) =>
      Sampling.shuffleShards(Tables.documents(s, dir), nShards = 16)),
    // target-proportion mixture: src0:src2:rest-of-corpus at 50:30:20
    // relative weight, acceptance rates derived from per-source counts
    // (bottleneck source taken whole), corpus never shuffles
    "ds_mix" -> ((s, dir) =>
      Sampling.mixToTarget(Tables.documents(s, dir),
        Map("src0" -> 50, "src2" -> 30, "src4" -> 20))),
    // the token-unit mixture (real LLM recipes weight token MASS, not
    // doc counts): per-source supply = Σ tokenCount, T*/takes/rates in
    // the same integer arithmetic, membership the same per-row Lehmer
    // residue test — corpus never shuffles
    "ds_mix_tokens" -> ((s, dir) =>
      Sampling.mixToTokenTarget(Tables.documents(s, dir),
        Map("src0" -> 50, "src2" -> 30, "src4" -> 20))),
    // epoch/repetition planning: 150-row budget at 50:30:20, repetition
    // capped at 3 epochs — one output row per (doc, epoch); the fixed
    // budget makes the semantics scale-independent (like a topK)
    "ds_epochs" -> ((s, dir) =>
      Sampling.epochPlan(Tables.documents(s, dir),
        Map("src0" -> 50, "src2" -> 30, "src4" -> 20),
        budget = 150L, maxEpochs = 3)),
    // the composed assembly capstone: curate → mix → epochs → shuffle →
    // pack behind ONE entry point (Pipeline.assembleDataset) — each
    // stage the same operator its staged key runs; the oracle replays
    // the whole recipe (integer arithmetic after the curation gate)
    "ds_assemble" -> ((s, dir) =>
      operators.Pipeline.assembleDataset(Tables.documents(s, dir),
        Map("src0" -> 50, "src2" -> 30, "src4" -> 20),
        budget = 150L, maxEpochs = 3, nShards = 8, packBudget = 64L)),
    // decontamination sweep: every 97th doc plays the held-out benchmark
    // set; the rest of the corpus scores its distinct 3-gram containment
    // against the broadcast benchmark gram array (no corpus shuffle);
    // decontaminate auto-picks scan vs scanJoin on the benchmark size
    "dd_contamination" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, dir)
      Contamination.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), n = 3, threshold = 0.5)
    }),
    "mm_binary" -> ((s, dir) => Multimodal.binaryColumnsChecked(Tables.documents(s, dir))),
    // the REAL mapPartitions batch-decode path (stub kernel): the raw
    // integer bin counts are digested directly, so the oracle reproduces
    // them exactly from the payload bytes at any document size
    "mm_features" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val mm = Multimodal.binaryColumnsUnsorted(Tables.documents(s, dir))
      Multimodal.extractFeatures(mm, 16).toDF()
        .select(col("doc_id"), col("n_bytes"),
          md5(concat_ws(",", transform(col("counts"), c => c.cast("string")))
            .cast("binary")).as("feat_digest"))
        .orderBy("doc_id")
    }),
    // --- scale-path approximate ops + forest + streaming (rows-only
    //     except st_window_agg; cross-checked behaviorally in specs) ---
    "dd_minhash_lsh" -> ((s, dir) =>
      MinHashLsh.candidatePairs(Tables.documents(s, dir), threshold = 0.95)),
    // the hub-star guard EXERCISED against the oracle (r15 ask #4):
    // maxBucket = 64 is under this corpus's real bucket sizes (up to
    // ~104 at sf0.01, ~1015 at sf0.1), so oversized buckets degrade to
    // hub-star pairing on REAL data here — the DuckDB twin replicates
    // the hub semantics (bucket-minimum star, union, distinct) exactly
    "dd_minhash_lsh_hub" -> ((s, dir) =>
      MinHashLsh.candidatePairs(Tables.documents(s, dir), threshold = 0.95,
        maxBucket = 64)),
    "dd_simhash" -> ((s, dir) => SimHash.nearDupPairs(Tables.documents(s, dir))),
    "sim_ann_lsh" -> ((s, dir) => AnnLsh.topK(Tables.embeddings(s, dir), 0L, 10)),
    // unfiltered scoring surface: deterministic row set (one per rolling-
    // features row) so the DuckDB oracle pins rows+schema and the exact
    // id/ts/value columns; model-derived columns are engine-specific
    // (bounded by LlmOpsSpec/ScalePathSpec recall+determinism specs)
    "ad_isolation_forest" -> ((s, dir) => IsolationForest.scoreAll(s, dir)),
    "st_window_agg" -> ((s, dir) =>
      graft.streaming.StreamingAlerts.windowedCountsBatch(s, dir)),
    "st_session" -> ((s, dir) =>
      graft.streaming.StreamingAlerts.sessionCountsBatch(s, dir)),
    "st_dedup" -> ((s, dir) =>
      TimeSeries.base(s, dir)
        .groupBy(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_type"))
        .agg(
          org.apache.spark.sql.functions.min(
            org.apache.spark.sql.functions.col("ts_us")).as("first_ts_us"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_events"))
        .orderBy("user_id", "event_type")),
    "tx_tokens_regex" -> ((s, dir) =>
      TextAnalysis.regexTokenStats(Tables.documents(s, dir))),
    // clusters over the UNSUPERVISED scale path: exact-dup collapse →
    // banded-LSH candidates → exact verify at j >= 0.9 → min-label
    // components — no blocked quadratic join anywhere in the plan.
    // Oracle since r8: every stage is LCG/integer-exact, and the DuckDB
    // twin runs the components as a recursive-CTE closure (cluster
    // equality with an exhaustive pair scan remains specced in
    // ClusterIvfSpec)
    "dd_cluster" -> ((s, dir) => Dedup.clusterExact(Tables.documents(s, dir), 0.9)),
    // position-resolved substring dedup: maximal token spans covered by
    // word 5-grams shared with ANOTHER document — the exact ranges a
    // span-removal pass cuts (Lee et al. 2022); gaps-and-islands merge
    "dd_spans" -> ((s, dir) => Dedup.repeatedSpans(Tables.documents(s, dir))),
    // incremental ingest dedup: every 5th doc arrives as the "new batch"
    // and is probed against the persisted signature index of the rest
    // (batch broadcast, one corpus-signature scan, estimate decides).
    // Oracle since r8's LCG hash family: the DuckDB twin rebuilds the
    // bipartite probe — shared band bucket + agreement est >= 0.9 —
    // bit-exactly (equality vs the brute-force bipartite form + append
    // round-trip remain specced)
    "dd_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      IncrementalDedup.dedupAgainst(sigIndexFor(s, dir),
          Tables.documents(s, dir).filter(col("doc_id") % 5 === 0), 0.9)
        .orderBy("doc_id")
    }),
    // probes a PREBUILT partition-pruned index (trained+persisted once per
    // session per sf dir): the measured cost is the probe — a pruned
    // nprobe-cell scan — not in-call k-means training. Same parameters as
    // Ivf.topK uses (cells ∝ √n, 8 Lloyd's rounds, nprobe from the r14
    // recall-anchored default ⌈0.27·cells⌉ — background recall holds at
    // any corpus size; the constant-row budgetNprobe dial is the
    // bounded-cost opt-in).
    "sim_ivf" -> ((s, dir) => Ivf.topKIndexed(ivfIndexFor(s, dir)._1, 0L, 10)),
    // batched probes: the ANN-service shape (one distributed pass for a
    // whole query set) exercised as benched keys so their one-pass plans
    // regress loudly; row-identity vs per-query probes is specced
    "sim_ann_batch" -> ((s, dir) =>
      AnnLsh.topKBatch(Tables.embeddings(s, dir), (0L until 64L), k = 5)),
    "sim_ivf_batch" -> ((s, dir) =>
      Ivf.topKBatch(Tables.embeddings(s, dir),
        ivfIndexFor(s, dir)._1.centroids, (0L until 64L), k = 5)),
    // the measured recall floor as a query key: default constant-row
    // probe, per-query wide escalation where the answer measured as
    // background (AdaptiveAnn). Probe membership depends on the
    // escalation decision, so this is a rows+schema key (no SQL oracle);
    // AdaptiveAnnSpec pins the plan and the escalation contract.
    "sim_ivf_auto" -> ((s, dir) => {
      val (idx, n) = ivfIndexFor(s, dir)
      operators.AdaptiveAnn.ivfTopKBatchAuto(Tables.embeddings(s, dir),
        idx.centroids, (0L until 64L), k = 5, corpusSize = n)
    }),
    "ts_range_window" -> ((s, dir) =>
      TimeSeries.rangeFeatures(TimeSeries.base(s, dir))),
    "ts_asof" -> ((s, dir) =>
      TimeSeries.asofLastPurchase(TimeSeries.base(s, dir))),
    "q_monthly_trend" -> ((s, dir) => Headline.monthlyTrend(Tables.orders(s, dir))),
    "q_approx_distinct" -> ((s, dir) =>
      Headline.approxDistinct(Tables.lineitem(s, dir))),
    "q_approx_quantile" -> ((s, dir) =>
      Headline.approxQuantiles(Tables.lineitem(s, dir))),
    "q_semi_anti" -> ((s, dir) =>
      Headline.activityCoverage(Tables.customer(s, dir), Tables.orders(s, dir))),
    "ad_all_rules" -> ((s, dir) => Pipeline.detectAllShared(s, dir)),
    // custom physical operator (heap top-k; rows-only — heap tie-breaks
    // are arrival-order; set-equality vs the window form is specced)
    // the custom bounded-heap operator with its total order (intensity
    // desc, c_custkey): deterministic under any partitioning, so the
    // row_number window is an exact DuckDB oracle (bit-exact key)
    "q_topk_custom" -> ((s, dir) =>
      org.apache.spark.sql.graft.TopKPerKeyApi.topKPerKey(
        Benchmarking.metricsFor(s, dir), Seq("c_mktsegment"), "intensity", 3,
        tieBreak = Some("c_custkey"))
        .select("c_mktsegment", "c_custkey", "intensity")
        .orderBy("c_mktsegment", "c_custkey")),
  )

  /** DuckDB twin of VectorMath.dotDouble (the FloatDotProduct kernel):
    * strict left-to-right double accumulation of exact float→double
    * element products. DuckDB's list_sum folds sequentially, so the sum
    * — and any cosine built from it in the kernel's op shape — is
    * bit-identical to the JVM loop (verified against adversarial
    * mixed-magnitude inputs and the sf0.01 dumps). */
  private def dotDoubleSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** DuckDB twin of VectorMath.dotDec over two array columns. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST(CAST($a[i] AS DOUBLE) AS DECIMAL(9,7)) * CAST(CAST($b[i] AS DOUBLE) AS DECIMAL(9,7))))"

  /** DuckDB twin of Dedup.lshWeight∘lshBucket: table `t`'s plane-`p` dot
    * with the floor(x·10⁴) integer-quantized vector `iv` (pure Long
    * arithmetic on both engines, so the sign bit can never diverge).
    * `p` is a literal plane index or a lambda variable. */
  private def lshDotSql(p: String): String =
    s"list_sum(list_transform(generate_series(1, len(iv)), i -> iv[i] * " +
      s"((((((t*1000003 + $p*8191 + (i-1)) * 1103515245 + 12345) % 2147483648) " +
      s"* 1103515245 + 12345) % 2147483648) % 65536 - 32768)))"

  private def lshBucketSql(planes: Int): String =
    (0 until planes)
      .map(p => s"(CASE WHEN ${lshDotSql(p.toString)} >= 0 THEN ${1L << (planes - 1 - p)} ELSE 0 END)")
      .mkString(" + ")

  /** The floor(x·10⁴) integer-quantized embeddings every LSH twin buckets
    * (CTE base: vec_id, iv). */
  private val quantizedCte: String =
    """base AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS iv
      |  FROM embeddings)""".stripMargin

  /** Shared DuckDB CTE mirroring Benchmarking.entityMetrics — the SQL twin
    * of the Spark plan, op-for-op, so doubles match bit-for-bit. */
  private val metricsCte: String =
    """WITH m AS (
      |  SELECT c_custkey, c_mktsegment, n_orders, total_spend,
      |         total_spend / greatest(n_orders, 1) AS intensity,
      |         CASE WHEN n_orders = 0 THEN 'NoData'
      |              WHEN total_spend / greatest(n_orders, 1) < 200000 THEN 'Excellent'
      |              WHEN total_spend / greatest(n_orders, 1) < 250000 THEN 'Good'
      |              WHEN total_spend / greatest(n_orders, 1) < 300000 THEN 'Average'
      |              ELSE 'Poor' END AS rating,
      |         total_spend / greatest(c_acctbal, CAST(1.0 AS DOUBLE)) AS spend_per_occupant,
      |         CAST(1999 - year(first_order) AS INTEGER) AS entity_age
      |  FROM (
      |    SELECT c_custkey, c_mktsegment, c_acctbal,
      |           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
      |           CAST(/*bounded-agg: per-entity sum — each customer keeps
      |             its original order set under ScaleUp replication, so
      |             this sum is scale-INVARIANT (max ~3e8 cents, far under
      |             2^53) and the direct decimal->double cast is exact at
      |             any sf (SURVEY §4)*/
      |             coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend,
      |           min(o_orderdate) AS first_order
      |    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |    GROUP BY 1, 2, 3))""".stripMargin

  /** Events base: µs event time (matches Spark's ns→µs truncation). */
  private val eventsCte: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |         event_type, value
      |  FROM events)""".stripMargin

  /** SQL twin of TimeSeries.rollingFeatures (subquery named f). */
  private val rollingCte: String =
    """f AS (
      |  SELECT event_id, user_id, ts_us, event_type, value,
      |         CAST(sum(vdec) OVER w3 AS DOUBLE) / count(1) OVER w3 AS mean_3,
      |         coalesce(sqrt(greatest(
      |           (CAST(sum(vdec * vdec) OVER w3 AS DOUBLE)
      |             - CAST(sum(vdec) OVER w3 AS DOUBLE)
      |               * CAST(sum(vdec) OVER w3 AS DOUBLE) / count(1) OVER w3)
      |           / (CASE WHEN count(1) OVER w3 > 1 THEN count(1) OVER w3 - 1 END),
      |           0.0)), 0.0) AS std_3,
      |         CAST(sum(vdec) OVER w12 AS DOUBLE) / count(1) OVER w12 AS mean_12,
      |         coalesce(sqrt(greatest(
      |           (CAST(sum(vdec * vdec) OVER w12 AS DOUBLE)
      |             - CAST(sum(vdec) OVER w12 AS DOUBLE)
      |               * CAST(sum(vdec) OVER w12 AS DOUBLE) / count(1) OVER w12)
      |           / (CASE WHEN count(1) OVER w12 > 1 THEN count(1) OVER w12 - 1 END),
      |           0.0)), 0.0) AS std_12
      |  FROM (SELECT e.*, CAST(value AS DECIMAL(18,2)) AS vdec FROM e)
      |  WINDOW w3 AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      |         w12 AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))""".stripMargin

  /** Events plus their rolling features (e, f). */
  private val featuresCtes: String = s"$eventsCte,\n$rollingCte"

  /** e, f and the SQL twin of AnomalyRules.thresholdAlerts over f (a). */
  private val thresholdCtes: String =
    s"""$featuresCtes,
       |a AS (
       |  SELECT event_id, user_id, ts_us, event_type, value,
       |         'value' AS metric,
       |         value / 150.0 AS score,
       |         'threshold_high' AS rule_name,
       |         CASE WHEN value > 250 THEN 'high' ELSE 'medium' END AS severity
       |  FROM f WHERE value > 150 AND mean_3 > 100)""".stripMargin

  /** SQL twins of the other three rules (CTE chains over e). Each ends in
    * its alert rows — ak, ao, az — in the union shape of `a` plus the
    * event value and the rule's own measure. */
  private val consecutiveCtes: String =
    """c AS (SELECT e.*, CASE WHEN value > 100 THEN 1 ELSE 0 END AS exceeds FROM e),
      |r AS (SELECT c.*,
      |             row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |               - row_number() OVER (PARTITION BY user_id, exceeds ORDER BY ts_us, event_id) AS grp
      |      FROM c),
      |k AS (SELECT r.*, CAST(count(*) OVER (PARTITION BY user_id, grp) AS BIGINT) AS run_len
      |      FROM r WHERE exceeds = 1),
      |ak AS (SELECT event_id, user_id, ts_us, value, run_len, 'value' AS metric,
      |              CAST(run_len AS DOUBLE) AS score, 'consecutive_drift' AS rule_name,
      |              CASE WHEN value > 200 THEN 'high' ELSE 'medium' END AS severity
      |       FROM k WHERE run_len >= 3)""".stripMargin

  private val oscillationCtes: String =
    """d AS (SELECT e.*, value - lag(value) OVER wu AS delta FROM e
      |      WINDOW wu AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (SELECT d.*, CASE WHEN sign(delta) <> sign(lag(delta) OVER wu) THEN 1 ELSE 0 END AS chg FROM d
      |      WINDOW wu AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |o AS (SELECT s.*,
      |             CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_changes
      |      FROM s),
      |ao AS (SELECT event_id, user_id, ts_us, value, n_changes, 'value' AS metric,
      |              CAST(n_changes AS DOUBLE) AS score, 'oscillating_control' AS rule_name,
      |              'medium' AS severity
      |       FROM o WHERE n_changes > 8)""".stripMargin

  private val zscoreCtes: String =
    """st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |              sum(CAST(value AS DECIMAL(18,2))) AS s1,
      |              sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
      |       FROM e GROUP BY user_id),
      |z AS (SELECT user_id, CAST(s1 AS DOUBLE) / n AS mean_v,
      |             sqrt(greatest(
      |               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
      |               / (CASE WHEN n > 1 THEN n - 1 END), 0.0)) AS std_v
      |      FROM st),
      |az AS (SELECT event_id, user_id, ts_us, value, 'value' AS metric, zscore AS score,
      |              'zscore' AS rule_name,
      |              CASE WHEN abs(zscore) > 3.5 THEN 'high' ELSE 'medium' END AS severity
      |       FROM (SELECT e.*, (value - mean_v) / (CASE WHEN std_v > 0 THEN std_v END) AS zscore
      |             FROM e JOIN z ON e.user_id = z.user_id)
      |       WHERE abs(zscore) > 2.5)""".stripMargin

  /** Every rule's CTEs plus au, the twin of Pipeline.detectAll: the four
    * rules' alert rows in one union. */
  private val allAlertsCtes: String = {
    val cols = "event_id, user_id, ts_us, metric, score, rule_name, severity"
    s"""$thresholdCtes,
       |$consecutiveCtes,
       |$oscillationCtes,
       |$zscoreCtes,
       |au AS (
       |  ${Seq("a", "ak", "ao", "az").map(t => s"SELECT $cols FROM $t").mkString("\n  UNION ALL ")})""".stripMargin
  }

  private val twelveHoursUs = 43200000000L

  /** Twin of the gap sessionization behind ts_sessionize and st_session
    * (CTE s: e plus a running per-user session_id). A session starts at
    * a user's first event or after a gap of at least `breakUs` µs. */
  private def sessionCtes(breakUs: Long): String =
    s"""s AS (
       |  SELECT *,
       |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us >= $breakUs THEN 1 ELSE 0 END AS new_sess
       |        FROM (SELECT e.*, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
       |              FROM e)))""".stripMargin

  /** The word n-gram windows of TextAnalysis's gram kernel over `text`:
    * short docs yield one truncated gram in both engines (the
    * word_ngrams contract). */
  private def gramsSql(n: Int): String =
    s"list_transform(generate_series(0, greatest(len(string_split(text, ' ')) - $n, 0)), " +
      s"i -> array_to_string((string_split(text, ' '))[i+1:i+$n], ' '))"

  /** Twin of TextAnalysis.withQuality over documents (CTE q adds
    * n_tokens, alpha_ratio, stop_ratio, score and quality_band). The
    * score keeps the Spark side's associativity shape; the band tests
    * the computed score. */
  private val qualityCte: String =
    """q AS (
      |  SELECT *, CASE WHEN score >= 0.8 THEN 'high'
      |                 WHEN score >= 0.6 THEN 'medium' ELSE 'low' END AS quality_band
      |  FROM (SELECT *, 0.5 * alpha_ratio + 0.3 * (1.0 - stop_ratio)
      |                    + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS score
      |  FROM (SELECT *, CAST(alpha AS DOUBLE) / n_chars_calc AS alpha_ratio,
      |                 CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
      |  FROM (SELECT *,
      |         CAST(length(text) AS BIGINT) AS n_chars_calc,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha,
      |         CAST(len(list_filter(string_split(text, ' '),
      |                  t -> t IN ('the','a','of','to','and','in'))) AS BIGINT) AS n_stop
      |        FROM documents))))""".stripMargin

  /** Twin of TextAnalysis.withRepetition over `src` (CTE rp adds toks,
    * grams, n_2grams, the two mode counts, their fractions and
    * `repetitive`): integer mode counts and single divisions, so
    * bit-identical cross-engine. */
  private def repetitionCte(src: String): String = {
    def top(xs: String) =
      s"CAST(list_max(list_transform(list_distinct($xs), y -> len(list_filter($xs, x -> x = y)))) AS BIGINT)"
    s"""rp AS (
       |  SELECT *, (top_2gram_fraction > 0.18 OR top_token_fraction > 0.3) AS repetitive
       |  FROM (SELECT *, CAST(top_token_count AS DOUBLE) / len(toks) AS top_token_fraction,
       |                 CAST(top_2gram_count AS DOUBLE) / n_2grams AS top_2gram_fraction
       |  FROM (SELECT *, CAST(len(grams) AS BIGINT) AS n_2grams,
       |               ${top("toks")} AS top_token_count,
       |               ${top("grams")} AS top_2gram_count
       |  FROM (SELECT *, string_split(text, ' ') AS toks, ${gramsSql(2)} AS grams
       |        FROM $src))))""".stripMargin
  }

  /** TextAnalysis.piiPatterns in their redaction order (url, email, ip,
    * phone): the Java/RE2-agreeing regex subset. */
  private val piiPatterns = Seq(
    ("url", """https?://[^ ]+""", "<URL>"),
    ("email", """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}""", "<EMAIL>"),
    ("ip", """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}""", "<IP>"),
    ("phone", """[0-9]{3}-[0-9]{3}-[0-9]{4}""", "<PHONE>"))

  /** Twin of TextAnalysis.withPiiCounts over `src` (CTE pii adds the
    * four n_<class> match counts and n_pii). */
  private def piiCte(src: String): String = {
    val counts = piiPatterns.map { case (name, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n               ")
    s"""pii AS (
       |  SELECT *, n_url + n_email + n_ip + n_phone AS n_pii
       |  FROM (SELECT *, $counts
       |        FROM $src))""".stripMargin
  }

  /** Twin of Sampling.sampleKey: the Lehmer/MINSTD key of `id` — plain
    * BIGINT arithmetic, so sampled subsets and shuffles are
    * bit-identical cross-engine. */
  private def lehmerSql(id: String): String = s"($id * 48271) % 2147483647"

  /** Twin of Sampling's 50:30:20 weight CASE over `src` (CTE base: the
    * rows of the named sources plus their weight wgt; W = 100). */
  private def weightedCte(src: String): String =
    s"""base AS (
       |  SELECT * FROM (
       |    SELECT *, CASE WHEN source = 'src0' THEN CAST(50 AS BIGINT)
       |                   WHEN source = 'src2' THEN CAST(30 AS BIGINT)
       |                   WHEN source = 'src4' THEN CAST(20 AS BIGINT) END AS wgt
       |    FROM $src)
       |  WHERE wgt IS NOT NULL)""".stripMargin

  /** Twin of Sampling.mixToTarget's integer arithmetic over base, with
    * per-source supply `supply` (count(*) for documents, sum(n_tokens)
    * for tokens). `//` is DuckDB integer division, matching Spark's
    * `div` on positive longs: T* = min(n·W // w), take = w·T* // W,
    * rate_ppm = take·10⁶ // n. CTE mixed: the Lehmer-residue members
    * with their rate_ppm. */
  private def mixCtes(supply: String): String =
    s"""mcounts AS (
       |  SELECT source, wgt, CAST($supply AS BIGINT) AS n_source
       |  FROM base GROUP BY source, wgt),
       |mrates AS (
       |  SELECT source, ((wgt * t_star) // 100) * 1000000 // n_source AS rate_ppm
       |  FROM mcounts, (SELECT min(n_source * 100 // wgt) AS t_star FROM mcounts)),
       |mixed AS (
       |  SELECT b.*, r.rate_ppm
       |  FROM base b JOIN mrates r ON b.source = r.source
       |  WHERE ${lehmerSql("b.doc_id")} % 1000000 < r.rate_ppm)""".stripMargin

  /** Twin of Sampling.epochPlan over `src` (rows carrying source and
    * wgt), in the same integer arithmetic: take = min(w·budget // W,
    * n·maxEpochs), full epochs take // n, and a partial epoch at rate
    * (take % n)·10⁶ // n by Lehmer residue. CTE inst holds one row per
    * (doc, epoch); generate_series(1, 0) is empty in DuckDB, matching the
    * Spark side's n_ep >= 1 guard. */
  private def epochCtes(src: String, budget: Long, maxEpochs: Int): String =
    s"""eplan AS (
       |  SELECT source, take_n // n_source AS full_ep,
       |         (take_n % n_source) * 1000000 // n_source AS rate_ppm
       |  FROM (SELECT source, n_source, least(wgt * $budget // 100, n_source * $maxEpochs) AS take_n
       |        FROM (SELECT source, wgt, CAST(count(*) AS BIGINT) AS n_source
       |              FROM $src GROUP BY source, wgt))),
       |inst AS (
       |  SELECT *, unnest(generate_series(1, n_ep)) AS epoch
       |  FROM (SELECT s.*, p.full_ep + CASE WHEN ${lehmerSql("s.doc_id")} % 1000000
       |                                          < p.rate_ppm THEN 1 ELSE 0 END AS n_ep
       |        FROM $src s JOIN eplan p ON s.source = p.source)
       |  WHERE n_ep >= 1)""".stripMargin

  /** Twin of Sampling.shuffleInstances over `src` (CTE shuf adds
    * shuffle_key, shard and pos): the Lehmer key of `id` is the
    * permutation, pos the row number within its shard under the
    * (key, id) total order the Spark window uses. */
  private def shuffleCte(src: String, id: String, nShards: Int): String =
    s"""shuf AS (
       |  SELECT *, shuffle_key % $nShards AS shard,
       |         row_number() OVER (PARTITION BY shuffle_key % $nShards
       |                            ORDER BY shuffle_key, $id) AS pos
       |  FROM (SELECT *, ${lehmerSql(id)} AS shuffle_key FROM $src))""".stripMargin

  /** Twin of Packing.assignSequences over `src` rows carrying (shard,
    * n_tokens), ordered within a shard by `order` (CTE packd adds
    * start_tok, seq_id, seq_offset, n_seqs): a shard-local token prefix
    * sum in integer arithmetic, so bit-reproducible. */
  private def packCte(src: String, order: String, budget: Long): String =
    s"""packd AS (
       |  SELECT *, CAST(start_tok // $budget AS BIGINT) AS seq_id,
       |         CAST(start_tok % $budget AS BIGINT) AS seq_offset,
       |         CAST((start_tok + n_tokens - 1) // $budget
       |           - start_tok // $budget + 1 AS BIGINT) AS n_seqs
       |  FROM (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY $order)
       |                      - n_tokens AS BIGINT) AS start_tok
       |        FROM $src))""".stripMargin

  /** Byte-exact twin of Multimodal.extractFeatures(16) (CTE c: doc_id,
    * n_bytes, counts). A byte's %16 bucket is the low nibble of its hex
    * rendering (see mm_features). */
  private val hexCountsCte: String =
    """c AS (
      |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |         list_transform(generate_series(0, 15), b ->
      |           len(list_filter(regexp_extract_all(hex(encode(text)), '..'),
      |               p -> right(p, 1) = substring('0123456789ABCDEF', b + 1, 1)))) AS counts
      |  FROM documents)""".stripMargin

  /** Byte-exact twin of Multimodal.frameSample (CTE f: doc_id, byte
    * offset ob, frame_md5): frames start every 64 bytes, and a 16-byte
    * frame at byte offset ob is the 32-char hex slice at 2·ob+1. */
  private val framesCte: String =
    """f AS (
      |  SELECT doc_id, ob, md5(substring(h, CAST(ob AS INTEGER) * 2 + 1, 32)) AS frame_md5
      |  FROM (SELECT doc_id,
      |               unnest(generate_series(0, greatest(octet_length(encode(text)) - 1, 0), 64)) AS ob,
      |               hex(encode(text)) AS h
      |        FROM documents))""".stripMargin

  /** The shared hs → sigs → banded CTE chain at the given banding (128
    * hashes split into `bands` bands of 128/bands rows) — the bit-exact
    * DuckDB twin of MinHashLsh.signatures + bandBuckets, possible
    * because every stage is ENGINE-NEUTRAL by construction (TokenHashes's
    * doc): 31-poly token hash mod 2³¹−1, the SAME 128 Carter-Wegman
    * (a,b) constants embedded as literals, and the seeded-LCG band fold. */
  private def minhashCtes(bands: Int, prelude: String = "",
      src: String = "documents", recursive: Boolean = false): String = {
    val p = 2147483647L
    val a = org.apache.spark.sql.graft.TokenHashes.BandMixA
    val rows = 128 / bands
    val rec = if (recursive) "RECURSIVE " else ""
    val sigExprs = graft.operators.MinHashLsh.cwParams(128).map {
      case (ai, bi) =>
        s"list_min(list_transform(hs, h -> ($ai * h + $bi) % $p))"
    }.mkString(",\n      ")
    // sigs/banded are each referenced 2-3x downstream (candidate join +
    // both sides of the estimate join); MATERIALIZED stops DuckDB's
    // inlining from recomputing the 128-hash signature chain per
    // reference (~3x off the dd_cluster twin's sf1 run)
    s"""WITH $rec$prelude hs AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(list_distinct(string_split(text, ' ')), t ->
       |      CASE WHEN length(t) = 0 THEN 0
       |           ELSE list_reduce(
       |             list_transform(generate_series(1, length(t)),
       |               i -> unicode(substr(t, i, 1))::BIGINT),
       |             (acc, c) -> (acc * 31 + c) % $p)
       |      END) AS hs
       |  FROM $src),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id, [
       |      $sigExprs
       |    ] AS sig FROM hs),
       |banded AS MATERIALIZED (
       |  SELECT doc_id, band,
       |    list_reduce([band::BIGINT] || sig[band*$rows+1 : band*$rows+$rows],
       |      (acc, v) -> (acc * $a + v) % $p) AS bucket
       |  FROM sigs CROSS JOIN (SELECT unnest(range($bands)) AS band))""".stripMargin
  }

  /** The narrow-row signature-agreement estimate over the candidate pairs
    * of CTE cand2 (columns `a`, `b`), shared by dd_minhash_lsh,
    * dd_incremental and dd_cluster. No signature list crosses a join
    * (the list-payload form spilled tens of GB at sf10); instead, exact
    * integer arithmetic:
    *
    *  1. `chunks`: each signature cut into 128/`width` chunks of `width`
    *     positions, each chunk packed EXACTLY into one integer (31 bits
    *     per position: BIGINT up to 2 positions, HUGEINT beyond) — chunk
    *     equality iff all its positions are equal, no hashing.
    *  2. `cm`: per-pair count of equal chunks, kept from `floor` up. A
    *     pair at estimate ≥ θ has at most m = ⌊128·(1−θ)⌋ mismatched
    *     positions, which spoil at most m chunks, so floor = chunks − m
    *     is lossless.
    *  3. `mm`/`rep`: pairs below `repairBelow` equal chunks re-count
    *     their spoiled chunks position by position (`pos`).
    *  4. `est`: matches = width·cm + repaired, so est = matches / 128 is
    *     the identical IEEE value (integer cast, power-of-two divide).
    *
    * A key that outputs the estimate repairs every pair (repairBelow
    * above the chunk count); one that only filters on it can let pairs
    * whose width·cm alone passes skip the repair join. */
  private def chunkEstimateCtes(width: Int, floor: Int, a: String, b: String,
      repairBelow: Int): String = {
    val ty = if (width <= 2) "BIGINT" else "HUGEINT"
    val cv = (2 to width).foldLeft(s"sig[ci*$width+1]::$ty") { (acc, j) =>
      s"($acc) * 2147483648 + sig[ci*$width+$j]"
    }
    s"""chunks AS MATERIALIZED (
       |  SELECT doc_id, ci, $cv AS cv
       |  FROM sigs CROSS JOIN (SELECT unnest(range(${128 / width})) AS ci)),
       |cm AS MATERIALIZED (
       |  SELECT c.$a, c.$b, count(*) AS cm
       |  FROM cand2 c
       |  JOIN chunks ca ON ca.doc_id = c.$a
       |  JOIN chunks cb ON cb.doc_id = c.$b
       |    AND cb.ci = ca.ci AND cb.cv = ca.cv
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $floor),
       |pos AS MATERIALIZED (
       |  SELECT doc_id, (i-1)//$width AS ci, i, sig[i] AS v
       |  FROM sigs CROSS JOIN (SELECT unnest(range(1, 129)) AS i)),
       |mm AS (
       |  SELECT m.$a, m.$b, ca.ci
       |  FROM cm m
       |  JOIN chunks ca ON ca.doc_id = m.$a
       |  LEFT JOIN chunks cb ON cb.doc_id = m.$b
       |    AND cb.ci = ca.ci AND cb.cv = ca.cv
       |  WHERE m.cm < $repairBelow AND cb.doc_id IS NULL),
       |rep AS (
       |  SELECT mm.$a, mm.$b, count(*) FILTER (WHERE pa.v = pb.v) AS r
       |  FROM mm
       |  JOIN pos pa ON pa.doc_id = mm.$a AND pa.ci = mm.ci
       |  JOIN pos pb ON pb.doc_id = mm.$b AND pb.i = pa.i
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT m.$a, m.$b, $width * m.cm + coalesce(r.r, 0) AS matches
       |  FROM cm m LEFT JOIN rep r ON r.$a = m.$a AND r.$b = m.$b)""".stripMargin
  }

  /** dd_minhash_lsh twin. `cand2` keeps pairs colliding in >= 2 of the 8
    * bands — lossless for 0.95 by pigeonhole: est >= 0.95 allows <= 6
    * mismatched positions, so >= 2 of the 8 16-row bands match in FULL,
    * and a fully-matching band's bucket collides. The same 6 mismatches
    * spoil <= 6 of the 32 4-position chunks (floor 26). DISTINCT pairs
    * ≡ the Spark side's first-agree dedup; hub-star degradation cannot
    * fire at oracle scale (bucket cap 4096 > corpus). */
  private lazy val minhashOracleSql: String =
    s"""${minhashCtes(8)},
       |cand2 AS MATERIALIZED (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= 2),
       |${chunkEstimateCtes(width = 4, floor = 26, "doc_a", "doc_b", repairBelow = 33)}
       |SELECT doc_a, doc_b, matches::DOUBLE / 128 AS jaccard_est
       |FROM est
       |WHERE matches::DOUBLE / 128 >= 0.95
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The HUB-MODE minhash twin (dd_minhash_lsh_hub): same banding, but
    * candidate generation replicates the hot-bucket guard exactly at
    * maxBucket = 64 — buckets of ≤64 members pair all-pairs, oversized
    * buckets pair every member with the bucket-minimum hub only, and the
    * union is distinct (first-agree dedup ≡ DISTINCT over (a, b)). The
    * hub is always the smallest id, so doc_a < doc_b holds on both
    * branches. */
  private lazy val minhashHubOracleSql: String = {
    s"""${minhashCtes(8)},
       |mstat AS (
       |  SELECT band, bucket, count(*) AS m, min(doc_id) AS hub
       |  FROM banded GROUP BY band, bucket),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x
       |  JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id
       |  JOIN mstat s ON s.band = x.band AND s.bucket = x.bucket
       |  WHERE s.m <= 64
       |  UNION
       |  SELECT s.hub AS doc_a, x.doc_id AS doc_b
       |  FROM banded x
       |  JOIN mstat s ON s.band = x.band AND s.bucket = x.bucket
       |  WHERE s.m > 64 AND x.doc_id <> s.hub)
       |SELECT doc_a, doc_b,
       |  len(list_filter(range(1, 129), i -> sa.sig[i] = sb.sig[i]))::DOUBLE / 128
       |    AS jaccard_est
       |FROM cand
       |JOIN sigs sa ON sa.doc_id = cand.doc_a
       |JOIN sigs sb ON sb.doc_id = cand.doc_b
       |WHERE len(list_filter(range(1, 129), i -> sa.sig[i] = sb.sig[i]))::DOUBLE / 128 >= 0.95
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Dynamic-planes form of [[lshBucketSql]]: the same two-round-LCG
    * plane weights and sign-bit packing, but with the PLANE COUNT read
    * from a `pl` CTE column (`planes`) instead of unrolled at build
    * time — so the oracle tracks Dedup.resolvePlanes at ANY scale
    * factor. Nested lambdas (outer plane index `p`, inner component
    * `i`) keep the arithmetic identical to the unrolled form; the
    * weight for bit p is 2^(planes−1−p) via a BIGINT shift. */
  private val dynLshBucketSql: String =
    s"list_sum(list_transform(generate_series(0, planes - 1), p -> " +
      s"CASE WHEN ${lshDotSql("p")} >= 0 " +
      "THEN (CAST(1 AS BIGINT) << (planes - 1 - p)) ELSE 0 END))"

  /** CTE twin of Dedup.resolvePlanes(0, n): 6 + the count of
    * Dedup.PlaneThresholds entries strictly below the corpus size — the
    * SAME 57-value integer table, inlined as a VALUES list, decided by
    * pure BIGINT comparisons on both sides (r18: replaces the
    * ceil(ln·/ln2) double chain whose ceil boundary carried a
    * theoretical ulp divergence; an integer table has no boundary to
    * mis-round). The ≤1024-row anchor needs no CASE: 1024 is the first
    * threshold, so the count is 0 there — exactly the Scala guard. */
  private val embPlanesCte: String = {
    val values = graft.operators.Dedup.PlaneThresholds
      .map(t => s"($t)").mkString(", ")
    s"""pl AS (
       |  SELECT 6 + CAST((SELECT count(*) FROM (VALUES $values) AS thr(v)
       |                   WHERE cnt > v) AS INTEGER) AS planes
       |  FROM (SELECT count(*) AS cnt FROM embeddings))""".stripMargin
  }

  /** Builder for the bounded top-m embedding near-dup twins. The bucket
    * expression is either the unrolled static form (the anchor key's
    * frozen 6-plane dial) or [[dynLshBucketSql]] joined to
    * [[embPlanesCte]] (the default dial — tracks the auto plane schedule
    * at every sf, closing the r15 verdict's scale-dial/oracle gap).
    * `densityCap > 0` inserts the capped candidate CTEs — the SQL twin
    * of Dedup.capBuckets: per-(t, bucket) sizes, each vector's buckets
    * ranked ascending (size, t), kept while the running Σ(m−1) stays
    * within the cap (first bucket always kept). */
  private def embeddingTopMSql(dynamicPlanes: Boolean,
      densityCap: Int): String = {
    val bucketExpr = if (dynamicPlanes) dynLshBucketSql else lshBucketSql(6)
    val bkFrom =
      if (dynamicPlanes)
        "(SELECT vec_id, iv, unnest(generate_series(0, 7)) AS t FROM base) CROSS JOIN pl"
      else
        "(SELECT vec_id, iv, unnest(generate_series(0, 7)) AS t FROM base)"
    val planesCte = if (dynamicPlanes) embPlanesCte + ",\n" else ""
    // bk/keptb/n/kept are each referenced twice (both sides of the
    // pairing self-join / the mirror union) — MATERIALIZED stops the
    // bucket expression and norm chain from evaluating per reference
    // (r18; the anchor twin's sf1 run previously spilled to disk-full)
    val prCte =
      if (densityCap > 0)
        s"""msz AS MATERIALIZED (
           |  SELECT t, bucket, count(*) AS m FROM bk GROUP BY 1, 2),
           |keptb AS MATERIALIZED (
           |  SELECT vec_id, t, bucket FROM (
           |    SELECT b.vec_id, b.t, b.bucket,
           |           row_number() OVER (PARTITION BY b.vec_id
           |             ORDER BY s.m, b.t) AS rk,
           |           sum(s.m - 1) OVER (PARTITION BY b.vec_id
           |             ORDER BY s.m, b.t
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |    FROM bk b JOIN msz s ON s.t = b.t AND s.bucket = b.bucket)
           |  WHERE rk = 1 OR cum <= $densityCap),
           |pr AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM keptb a JOIN keptb b
           |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),""".stripMargin
      else
        """pr AS (
          |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          |  FROM bk a JOIN bk b
          |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),""".stripMargin
    s"""WITH $planesCte$quantizedCte,
       |bk AS MATERIALIZED (
       |  SELECT vec_id, t, $bucketExpr AS bucket
       |  FROM $bkFrom),
       |$prCte
       |n AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nrm
       |  FROM embeddings),
       |c AS (
       |  SELECT vec_a, vec_b,
       |         CAST(${dotSql("a.embedding", "b.embedding")} AS DOUBLE)
       |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cosine
       |  FROM pr JOIN n a ON pr.vec_a = a.vec_id JOIN n b ON pr.vec_b = b.vec_id),
       |kept AS MATERIALIZED (
       |  SELECT vec_a, vec_b, cosine FROM c WHERE cosine >= 0.3),
       |mir AS (
       |  SELECT vec_a AS vec_id, vec_b AS neighbor_id, cosine FROM kept
       |  UNION ALL
       |  SELECT vec_b AS vec_id, vec_a AS neighbor_id, cosine FROM kept)
       |SELECT vec_id, neighbor_id, cosine, rank FROM (
       |  SELECT mir.*, CAST(row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM mir)
       |WHERE rank <= 10
       |ORDER BY vec_id, rank""".stripMargin
  }

  /** dd_embedding_uncapped's twin (dd_embedding's until r17) — dynamic
    * planes, so the oracle tracks the auto
    * plane schedule at EVERY scale factor (at the sf0.01 gate's n ≤ 1024
    * it resolves to the same 6 planes as before; at sf0.1's n = 10,000
    * it resolves to 11, where the former static-6 SQL diverged — the
    * exact gap the r15 verdict's sf0.1 oracle ask exists to close). */
  private lazy val embeddingTopMOracleSql: String =
    embeddingTopMSql(dynamicPlanes = true, densityCap = 0)

  /** dd_embedding_anchor's twin — the frozen 6-plane dial at every sf
    * (the guarded shuffle-mode correctness run's bit-checkable key). */
  private lazy val embeddingTopMAnchorOracleSql: String =
    embeddingTopMSql(dynamicPlanes = false, densityCap = 0)

  /** dd_embedding's twin (dd_embedding_capped's in r16, promoted with
    * the key in r17) — dynamic planes plus the density-cap CTEs at the
    * production cap. */
  private lazy val embeddingTopMCappedOracleSql: String =
    embeddingTopMSql(dynamicPlanes = true,
      densityCap = graft.operators.Dedup.DefaultDensityCap)


  /** DuckDB twin of the full IVF pipeline behind sim_ivf / sim_ivf_batch:
    * Lloyd's k-means REPLAYED in SQL — Lehmer-key init (the engine-neutral
    * seed Ivf.kmeansCentroids uses), then `iters` unrolled rounds of
    * (assignment, mean) CTEs, then the probe.
    *
    * Why every stage reproduces bit-for-bit (SURVEY §4 machinery):
    *  - assignment = argmax of dot(vec, cᵢ)·invNormᵢ with ties to the
    *    smaller index: both engines run the same ascending-index
    *    left-to-right double chain (list_sum folds sequentially — the
    *    proven dotDoubleSql shape), so `row_number() ORDER BY score DESC,
    *    cell` equals the kernel's strict-> scan.
    *  - means: components quantize through the scale-7 decimal cast the
    *    dd_embedding oracle already proves engine-equal, sums are exact
    *    integers (unscaled ×10⁷ as HUGEINT), and the HALF_UP scale-7
    *    division is the pure integer form (2S+c)÷(2c) — matching the
    *    driver's BigDecimal.divide(count, 7, HALF_UP) digit for digit.
    *  - float round-trip: CAST(mu AS DOUBLE)/1e7 is two exact/correctly-
    *    rounded ops (mu < 2⁵³), equal to BigDecimal.doubleValue; the REAL
    *    cast is the same double→float rounding on both engines.
    *  - the probe is the sim_ann-proven cosineDouble chain + row-number
    *    windows with the (cosine DESC, vec_id) tie-break.
    * Cells that lose all members keep their previous centroid (the LEFT
    * JOIN + coalesce mirrors the Spark loop's no-member branch).
    *
    * Every CTE is `AS MATERIALIZED` (r18): each round references the
    * previous round's `cent` CTE twice (the assignment AND the
    * carry-forward join), so DuckDB's default inlining re-evaluates the
    * whole upstream chain per reference — 2^iters expansions of the
    * n×cells assignment. That is why this twin finished at sf0.1 but
    * spilled tens of GB without terminating at sf1 in r17.
    * Materialization evaluates each round exactly once (the semantics
    * are identical); the sf1 twin completes in minutes. */
  private def ivfCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH prm AS MATERIALIZED (
        |  SELECT CAST(greatest(2, ceil(sqrt(count(*)))) AS INTEGER) AS cells
        |  FROM embeddings),
        |np AS MATERIALIZED (
        |  SELECT greatest(1, CAST(ceil(cells * CAST(0.27 AS DOUBLE))
        |           AS INTEGER)) AS np
        |  FROM prm),
        |cent0 AS MATERIALIZED (
        |  SELECT CAST(row_number() OVER (
        |           ORDER BY ${lehmerSql("vec_id")}, vec_id) - 1
        |         AS INTEGER) AS cell,
        |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cd
        |  FROM embeddings
        |  QUALIFY row_number() OVER (
        |            ORDER BY ${lehmerSql("vec_id")}, vec_id)
        |          <= (SELECT cells FROM prm)),
        |qs AS MATERIALIZED (
        |  SELECT vec_id,
        |         list_transform(embedding, v ->
        |           CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(9,7)) * 10000000
        |                AS HUGEINT)) AS q
        |  FROM embeddings),""".stripMargin)
    def assignCte(name: String, cent: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             (list_sum(list_transform(generate_series(1, len(e.embedding)),
         |                j -> CAST(e.embedding[j] AS DOUBLE) * c.cd[j]))
         |              * (CASE WHEN list_sum(list_transform(c.cd, x -> x * x)) > 0
         |                      THEN 1.0 / sqrt(list_sum(list_transform(c.cd, x -> x * x)))
         |                      ELSE 0.0 END)) DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN $cent c)
         |  WHERE rn = 1)""".stripMargin
    for (r <- 1 to iters) {
      sb.append("\n").append(assignCte(s"a$r", s"cent${r - 1}")).append(",")
      sb.append(s"""
         |sc$r AS MATERIALIZED (
         |  SELECT a.cell, t.j, sum(q.q[t.j]) AS sv,
         |         CAST(count(*) AS HUGEINT) AS c
         |  FROM a$r a JOIN qs q USING (vec_id),
         |       unnest(generate_series(1, len(q.q))) AS t(j)
         |  GROUP BY a.cell, t.j),
         |m$r AS MATERIALIZED (
         |  SELECT cell,
         |         list(CASE WHEN sv >= 0 THEN (2 * sv + c) // (2 * c)
         |                   ELSE -((2 * (-sv) + c) // (2 * c)) END
         |              ORDER BY j) AS mu
         |  FROM sc$r GROUP BY cell),
         |cent$r AS MATERIALIZED (
         |  SELECT p.cell,
         |         coalesce(list_transform(m.mu, u ->
         |           CAST(CAST(CAST(u AS DOUBLE) / 10000000 AS REAL) AS DOUBLE)),
         |           p.cd) AS cd
         |  FROM cent${r - 1} p LEFT JOIN m$r m USING (cell)),""".stripMargin)
    }
    // final assignment against the learned centroids = the saved layout
    sb.append("\n").append(assignCte("afin", s"cent$iters"))
    sb.toString
  }

  /** SQL twin of SimHash.nearDupPairs (maxDist = 6). The two-chunk
    * pigeonhole blocking has EXACT coverage (a pair at Hamming ≤ d
    * agrees on ≥2 of d+2 chunks), so the Spark output equals the plain
    * all-pairs filter `bit_count(xor(fp_a, fp_b)) <= 6` — the oracle
    * needs only the fingerprints, which are engine-neutral by
    * construction (TokenHashes.hash64: wrapping 31-poly + splitmix64;
    * reproduced here in HUGEINT mod-2⁶⁴ arithmetic, 64-bit multiplies
    * decomposed into 32-bit halves to stay inside HUGEINT range). Vote
    * rule: bit set iff strictly more than half the token hashes have it
    * set (ties → 0), bit i of the hash (LSB-indexed) landing at fp bit
    * 63−i — exactly the kernel + MSB-first fold on the Spark side. */
  private lazy val simhashOracleSql: String = {
    val m64 = "18446744073709551616" // 2^64
    // (z * c) mod 2^64 with c split into 32-bit halves so no product
    // exceeds ~2^96 (HUGEINT holds < 2^127)
    def mulMod64(z: String, c: Long): String = {
      val bh = (c >>> 32) & 0xFFFFFFFFL
      val bl = c & 0xFFFFFFFFL
      s"((($z) * $bl) % $m64 + ((($z) * $bh) % 4294967296) * 4294967296) % $m64"
    }
    // xor-shift on the unsigned view, back to HUGEINT for the next stage
    def xs(z: String, s: Int): String =
      s"xor(($z)::UBIGINT, ($z)::UBIGINT >> $s)::HUGEINT"
    s"""WITH polys AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(string_split(text, ' ')), t ->
       |      CASE WHEN length(t) = 0 THEN 0::HUGEINT
       |           ELSE list_reduce(
       |             list_transform(generate_series(1, length(t)),
       |               i -> unicode(substr(t, i, 1))::HUGEINT),
       |             (acc, c) -> (acc * 31 + c) % $m64)
       |      END) AS ps
       |  FROM documents),
       |z1 AS (SELECT doc_id,
       |  list_transform(ps, x -> (x + 11400714819323198485) % $m64) AS zs FROM polys),
       |z2 AS (SELECT doc_id,
       |  list_transform(zs, z -> ${mulMod64(xs("z", 30), 0xBF58476D1CE4E5B9L)}) AS zs FROM z1),
       |z3 AS (SELECT doc_id,
       |  list_transform(zs, z -> ${mulMod64(xs("z", 27), 0x94D049BB133111EBL)}) AS zs FROM z2),
       |hh AS (SELECT doc_id,
       |  list_transform(zs, z -> xor(z::UBIGINT, z::UBIGINT >> 31)) AS hs FROM z3),
       |tok AS (SELECT doc_id, unnest(hs) AS h FROM hh),
       |votes AS (
       |  SELECT tok.doc_id, b.i,
       |         count(*) FILTER (WHERE ((tok.h >> b.i) & 1::UBIGINT) = 1) AS ones,
       |         count(*) AS n
       |  FROM tok CROSS JOIN (SELECT unnest(range(64)) AS i) b
       |  GROUP BY tok.doc_id, b.i),
       |fp AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN 2 * ones > n THEN (1::UBIGINT << (63 - i))
       |             ELSE 0::UBIGINT END)::UBIGINT AS fp
       |  FROM votes GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The IVF probe for queries 0 until `nq` over [[ivfCtes]] (CTE top:
    * q_id, vec_id, label, cosine, rank ≤ `k`): per-query cell ranks
    * over the learned centroids, the nprobe best cells fanned out
    * through the final assignment, one top-k window per query under
    * the (cosine DESC, vec_id) total order — the arithmetic of
    * Ivf.topKIndexed and Ivf.topKBatch alike. */
  private def ivfProbeCtes(nq: Int, k: Int): String = {
    val qq = dotDoubleSql("qb.qe", "qb.qe")
    val ee = dotDoubleSql("e.embedding", "e.embedding")
    val eq = dotDoubleSql("e.embedding", "qb.qe")
    s"""${ivfCtes(8)},
       |qb AS (SELECT vec_id AS q_id, embedding AS qe
       |       FROM embeddings WHERE vec_id >= 0 AND vec_id < $nq),
       |crb AS (
       |  SELECT q_id, cell FROM (
       |    SELECT qb.q_id, c.cell,
       |           row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |             (list_sum(list_transform(generate_series(1, len(c.cd)),
       |                j -> c.cd[j] * CAST(qb.qe[j] AS DOUBLE)))
       |              / (sqrt(list_sum(list_transform(c.cd, x -> x * x)))
       |                 * sqrt($qq))) DESC, c.cell) AS rn
       |    FROM qb CROSS JOIN cent8 c)
       |  WHERE rn <= (SELECT np FROM np)),
       |hits AS (
       |  SELECT qb.q_id, e.vec_id, e.label,
       |         $eq / (sqrt($ee) * sqrt($qq)) AS cosine
       |  FROM embeddings e
       |  JOIN afin USING (vec_id)
       |  JOIN crb ON crb.cell = afin.cell
       |  JOIN qb ON qb.q_id = crb.q_id
       |  WHERE e.vec_id <> qb.q_id),
       |top AS (
       |  SELECT * FROM (
       |    SELECT hits.*, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cosine DESC, vec_id) AS rn FROM hits)
       |  WHERE rn <= $k)""".stripMargin
  }

  /** The sim_ivf_batch twin, shared by sim_ivf_auto (see its entry). */
  private lazy val ivfBatchOracleSql: String =
    s"""${ivfProbeCtes(64, 5)}
       |SELECT q_id, vec_id, label, cosine FROM top
       |ORDER BY q_id, cosine DESC, vec_id""".stripMargin

  /** The AnnLsh probe for queries 0 until `nq` (CTE top: q_id, vec_id,
    * label, cosine, rank ≤ `k`). AnnLsh's plane family (tables 64..87;
    * 5 planes — anchorPlanes(24) = 5 at ANY corpus) buckets through the
    * shared integer-LCG twin (lshBucketSql, as dd_embedding); the double
    * cosine re-rank through the sequential-double twin (dotDoubleSql) in
    * the kernel's exact op shape. */
  private def annProbeCtes(nq: Int, k: Int): String =
    s"""WITH $quantizedCte,
       |bk AS (
       |  SELECT vec_id, t, ${lshBucketSql(5)} AS bucket
       |  FROM (SELECT vec_id, iv, unnest(generate_series(64, 87)) AS t FROM base)),
       |qb AS (SELECT vec_id AS q_id, t, bucket FROM bk WHERE vec_id >= 0 AND vec_id < $nq),
       |cand AS (
       |  SELECT DISTINCT qb.q_id, b.vec_id
       |  FROM bk b JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
       |  WHERE b.vec_id <> qb.q_id),
       |qe AS (SELECT vec_id AS q_id, embedding AS q_emb,
       |              ${dotDoubleSql("embedding", "embedding")} AS q_nrm
       |       FROM embeddings WHERE vec_id >= 0 AND vec_id < $nq),
       |scored AS (
       |  SELECT c.q_id, e.vec_id, e.label,
       |         ${dotDoubleSql("e.embedding", "q_emb")}
       |           / (sqrt(${dotDoubleSql("e.embedding", "e.embedding")}) * sqrt(q_nrm)) AS cosine
       |  FROM cand c JOIN embeddings e USING (vec_id) JOIN qe ON c.q_id = qe.q_id),
       |top AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cosine DESC, vec_id) AS rn FROM scored)
       |  WHERE rn <= $k)""".stripMargin

  /** For each key in `queries`, the DuckDB SQL twin that runs on the same
    * parquet tables (the two key sets are equal; OracleTwinSpec pins
    * that, and that the rendered map passes tools/lint_oracle.py). Most
    * twins are hash-exact: row count, schema and every value match the
    * Spark result. sim_ivf_auto, q_approx_distinct, q_approx_quantile
    * and ad_isolation_forest compute engine-specific estimates, so their
    * twins pin row count and schema only (see their entries). */
  def oracleSql: Map[String, String] = Map(
    "dd_minhash_lsh" -> minhashOracleSql,
    "dd_minhash_lsh_hub" -> minhashHubOracleSql,
    "dd_simhash" -> simhashOracleSql,
    // the full IVF pipeline replayed in SQL (ivfCtes: Lehmer init + 8
    // unrolled Lloyd's rounds), probed for query 0's top-10
    "sim_ivf" ->
      s"""${ivfProbeCtes(1, 10)}
         |SELECT vec_id, label, cosine FROM top
         |ORDER BY cosine DESC, vec_id""".stripMargin,

    // batched twin: row-identical to 64 single probes by the same
    // (cosine DESC, vec_id) total order
    "sim_ivf_batch" -> ivfBatchOracleSql,

    // rows+schema contract for the adaptive dial (same pattern as the
    // sketch keys at the q_approx_* entries below): sim_ivf_auto returns
    // one top-k row set per query — a constant 64 queries x k=5 = 320
    // rows in the exact (q_id, vec_id, label, cosine) batch schema — but
    // probe MEMBERSHIP depends on the per-query escalation decision
    // (background queries re-probe wide), so a bit-exact cross-engine
    // hash is impossible by design. The batch oracle pins the
    // deterministic part machine-checkably (row count, column
    // names/dtypes); the escalation contract itself (recall floor,
    // splice identity, advisory) is pinned by AdaptiveAnnSpec. Expected
    // driver record: rows_match+schema_match true, hash_match false (or
    // true on corpora where nothing escalates).
    "sim_ivf_auto" -> ivfBatchOracleSql,

    // the full clusterExact pipeline mirrored stage for stage: exact-dup
    // collapse to norm-set representatives (min doc_id per sorted distinct
    // token list), 16-band candidates over reps, the est >= 0.75 prefilter
    // in its exact integer form (m >= 96 of 128), the exact integer
    // jaccard >= 0.9 verify, then min-label connected components via a
    // recursive-CTE transitive closure (Spark's propagation loop and the
    // closure both converge to min-id-in-component).
    //
    // The estimate uses 2-POSITION chunks: m >= 96 allows <= 32
    // mismatches, which could spoil all 32 4-chunks (a vacuous floor),
    // but spoil at most 32 of the 64 2-chunks, so `cm >= 32` is a
    // lossless prefilter that cuts at est ~0.7. This key's OUTPUT never
    // exposes the estimate, so pairs with cm >= 48 pass on 2·cm alone
    // and skip the repair join (repairBelow = 48); true near-dup pairs
    // (cm ~64) never touch it.
    //
    // The verify counts the exact set intersection as a grouped join
    // over the EXPLODED (doc_id, token) table (toks is list_distinct
    // upstream, so count(*) == len(list_intersect)): the est >= 0.75
    // graph is dense (sf0.1: 1.27M pairs over 3,935 reps), and dragging
    // two token LISTS through every pair cost 60 GB RSS at sf0.1. Pairs
    // with zero overlap drop out of the inner join and could never pass
    // the 0.9 threshold anyway.
    "dd_cluster" -> {
      // t0/r0/reps are each read 2-3x downstream (the verify join reads
      // reps twice, the final projection reads r0 again) — MATERIALIZED
      // keeps the token-sort pass single-evaluation
      val prelude =
        """t0 AS MATERIALIZED (
          |  SELECT doc_id, text,
          |         list_sort(list_distinct(string_split(text, ' '))) AS toks
          |  FROM documents),
          |r0 AS MATERIALIZED (
          |  SELECT doc_id, toks,
          |         min(doc_id) OVER (PARTITION BY toks) AS rep_id
          |  FROM t0),
          |reps AS MATERIALIZED (
          |  SELECT r0.doc_id, r0.toks, CAST(len(r0.toks) AS BIGINT) AS n,
          |         t0.text
          |  FROM r0 JOIN t0 ON t0.doc_id = r0.doc_id
          |  WHERE r0.doc_id = r0.rep_id),""".stripMargin
      s"""${minhashCtes(16, prelude, "reps", recursive = true)},
         |cand2 AS MATERIALIZED (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |${chunkEstimateCtes(width = 2, floor = 32, "doc_a", "doc_b", repairBelow = 48)},
         |estp AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM est WHERE matches >= 96),
         |tokn AS MATERIALIZED (
         |  SELECT doc_id, unnest(toks) AS t FROM reps),
         |inter AS (
         |  SELECT e.doc_a, e.doc_b, count(*) AS c
         |  FROM estp e
         |  JOIN tokn ta ON ta.doc_id = e.doc_a
         |  JOIN tokn tb ON tb.doc_id = e.doc_b AND tb.t = ta.t
         |  GROUP BY 1, 2),
         |ver AS (
         |  SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN reps a ON a.doc_id = i.doc_a
         |  JOIN reps b ON b.doc_id = i.doc_b
         |  WHERE i.c * 190 >= 90 * (a.n + b.n)),
         |sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM ver
         |  UNION ALL SELECT doc_b, doc_a FROM ver),
         |reach AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |comp AS (
         |  SELECT src AS rep_id, least(src, min(dst)) AS comp
         |  FROM reach GROUP BY src)
         |SELECT r0.doc_id,
         |       coalesce(comp.comp, r0.rep_id) AS component,
         |       r0.doc_id = coalesce(comp.comp, r0.rep_id) AS keep
         |FROM r0 LEFT JOIN comp ON comp.rep_id = r0.rep_id
         |ORDER BY r0.doc_id""".stripMargin
    },

    // bipartite twin of dedupAgainst over the persisted signature index
    // (16 bands — saveSignatures' default): batch docs (doc_id%5=0) match
    // corpus docs (%5<>0) sharing any band bucket with agreement >= 0.9;
    // dup_of = smallest match, match_est = largest estimate, LEFT JOIN
    // keeps unmatched batch docs with nulls — exactly the Spark output.
    // est >= 0.9 allows <= 12 mismatched positions, so >= 4 of the 16
    // 8-row bands collide in full (cand2 HAVING >= 4, lossless) and
    // >= 20 of the 32 4-chunks match.
    "dd_incremental" ->
      s"""${minhashCtes(16)},
         |cand2 AS MATERIALIZED (
         |  SELECT x.doc_id AS q_id, y.doc_id AS c_id
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.bucket = y.bucket
         |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 4),
         |${chunkEstimateCtes(width = 4, floor = 20, "q_id", "c_id", repairBelow = 33)},
         |f AS (
         |  SELECT q_id, min(c_id) AS dup_of, max(matches::DOUBLE / 128) AS match_est
         |  FROM est
         |  WHERE matches::DOUBLE / 128 >= 0.9
         |  GROUP BY q_id)
         |SELECT d.doc_id, f.dup_of IS NOT NULL AS is_duplicate,
         |       f.dup_of, f.match_est
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN f ON f.q_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "ts_clean" ->
      s"""$eventsCte
         |SELECT event_id, user_id, ts_us, value_filled FROM (
         |  SELECT event_id, user_id, ts_us,
         |         last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
         |                    IGNORE NULLS)
         |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
         |  FROM e)
         |WHERE value_filled IS NOT NULL
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    // one fixed associativity shape shared with the Spark side:
    // pv + ((nv - pv) * (CAST(dt) / CAST(dT))) — parens matter, a+b*c/d
    // would parse as a+((b*c)/d) and double-round differently
    "ts_interpolate" ->
      s"""$eventsCte,
         |r AS (
         |  SELECT event_id, user_id, ts_us,
         |         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS raw
         |  FROM e),
         |n AS (
         |  SELECT event_id, user_id, ts_us, raw,
         |         last_value(raw IGNORE NULLS)
         |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |         last_value(CASE WHEN raw IS NOT NULL THEN ts_us END IGNORE NULLS)
         |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |         first_value(raw IGNORE NULLS)
         |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |         first_value(CASE WHEN raw IS NOT NULL THEN ts_us END IGNORE NULLS)
         |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM r)
         |SELECT event_id, user_id, ts_us,
         |       CASE WHEN raw IS NOT NULL THEN raw
         |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |              CASE WHEN nt = pt THEN pv
         |                   ELSE pv + ((nv - pv) *
         |                     (CAST(ts_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))) END
         |            ELSE coalesce(pv, nv) END AS value_interp,
         |       raw IS NULL AS is_interpolated
         |FROM n
         |WHERE CASE WHEN raw IS NOT NULL THEN raw
         |           WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv
         |           ELSE coalesce(pv, nv) END IS NOT NULL
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ts_rolling" ->
      s"""$featuresCtes
         |SELECT * FROM f ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ts_lag_delta" ->
      s"""$eventsCte
         |SELECT event_id, user_id, ts_us, value,
         |       lag(value) OVER wu AS value_lag1,
         |       value - lag(value) OVER wu AS delta
         |FROM e
         |WINDOW wu AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ts_resample" ->
      s"""$eventsCte
         |SELECT bucket_us, event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(vdec) AS DOUBLE) AS total_value,
         |       CAST(sum(vdec) AS DOUBLE) / count(*) AS avg_value,
         |       min(value) AS min_value,
         |       max(value) AS max_value
         |FROM (SELECT ts_us - (ts_us % 3600000000) AS bucket_us, event_type, value,
         |             CAST(value AS DECIMAL(18,2)) AS vdec
         |      FROM e)
         |GROUP BY bucket_us, event_type
         |ORDER BY bucket_us, event_type""".stripMargin,

    // TimeSeries.sessionize opens a session after a gap of MORE than
    // 12 h, i.e. at >= 12 h + 1 µs on the integer µs clock
    "ts_sessionize" ->
      s"""$eventsCte,
         |${sessionCtes(twelveHoursUs + 1)}
         |SELECT user_id, session_id,
         |       min(ts_us) AS session_start_us,
         |       max(ts_us) AS session_end_us,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "ad_threshold" ->
      s"""$thresholdCtes
         |SELECT * FROM a ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ad_consecutive" ->
      s"""$eventsCte,
         |$consecutiveCtes
         |SELECT event_id, user_id, ts_us, value, run_len, rule_name, severity
         |FROM ak ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ad_oscillation" ->
      s"""$eventsCte,
         |$oscillationCtes
         |SELECT event_id, user_id, ts_us, value, n_changes, rule_name, severity
         |FROM ao ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ad_zscore" ->
      s"""$eventsCte,
         |$zscoreCtes
         |SELECT event_id, user_id, ts_us, value, score AS zscore, rule_name, severity
         |FROM az ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ad_all_rules" ->
      s"""$allAlertsCtes
         |SELECT * FROM au ORDER BY rule_name, user_id, ts_us, event_id""".stripMargin,

    "al_filter" ->
      s"""$thresholdCtes
         |SELECT * FROM a
         |WHERE ts_us >= 1704844800000000 AND ts_us < 1705708800000000
         |  AND severity = 'high'
         |ORDER BY ts_us DESC, event_id
         |LIMIT 100""".stripMargin,

    "al_summary" ->
      s"""$thresholdCtes
         |SELECT severity, event_type, user_id, CAST(count(*) AS BIGINT) AS n
         |FROM a
         |GROUP BY GROUPING SETS ((severity), (event_type), (user_id))
         |ORDER BY severity NULLS FIRST, event_type NULLS FIRST, user_id NULLS FIRST""".stripMargin,

    "al_daily" ->
      s"""$thresholdCtes
         |SELECT ts_us // 86400000000 AS epoch_day, CAST(count(*) AS BIGINT) AS n
         |FROM a GROUP BY 1 ORDER BY epoch_day""".stripMargin,

    "al_filter_rule" ->
      s"""$allAlertsCtes
         |SELECT * FROM au
         |WHERE rule_name = 'zscore'
         |  AND ts_us >= 1704844800000000 AND ts_us < 1705708800000000
         |ORDER BY ts_us DESC, event_id
         |LIMIT 1000""".stripMargin,

    "al_summary_range" ->
      s"""$thresholdCtes
         |SELECT severity, event_type, user_id, CAST(count(*) AS BIGINT) AS n
         |FROM a
         |WHERE ts_us >= 1704844800000000 AND ts_us < 1705708800000000
         |GROUP BY GROUPING SETS ((severity), (event_type), (user_id))
         |ORDER BY severity NULLS FIRST, event_type NULLS FIRST, user_id NULLS FIRST""".stripMargin,

    "al_summary_rules" ->
      s"""$allAlertsCtes
         |SELECT severity, rule_name, user_id, CAST(count(*) AS BIGINT) AS n
         |FROM au
         |GROUP BY GROUPING SETS ((severity), (rule_name), (user_id))
         |ORDER BY severity NULLS FIRST, rule_name NULLS FIRST, user_id NULLS FIRST""".stripMargin,

    "al_summary_top" ->
      s"""$allAlertsCtes
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_alerts
         |FROM au
         |GROUP BY user_id
         |ORDER BY n_alerts DESC, user_id
         |LIMIT 10""".stripMargin,

    "al_join_features" ->
      s"""$thresholdCtes
         |SELECT a.event_id, a.user_id, f.ts_us, f.value, f.mean_12, f.std_12,
         |       a.severity, a.score
         |FROM a JOIN f ON a.event_id = f.event_id AND a.user_id = f.user_id
         |ORDER BY a.event_id""".stripMargin,

    "dd_exact" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS content_hash,
        |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS norm_hash
        |  FROM documents)
        |SELECT doc_id, content_hash, norm_hash,
        |       min(doc_id) OVER (PARTITION BY norm_hash) AS canonical_id,
        |       CAST(count(*) OVER (PARTITION BY norm_hash) AS BIGINT) AS n_copies,
        |       doc_id <> min(doc_id) OVER (PARTITION BY norm_hash) AS is_duplicate
        |FROM d ORDER BY doc_id""".stripMargin,

    "dd_embedding" -> embeddingTopMCappedOracleSql,
    "dd_embedding_uncapped" -> embeddingTopMOracleSql,
    "dd_embedding_anchor" -> embeddingTopMAnchorOracleSql,

    "sim_ann_lsh" ->
      s"""${annProbeCtes(1, 10)}
         |SELECT vec_id, label, cosine FROM top
         |ORDER BY cosine DESC, vec_id""".stripMargin,

    "sim_ann_batch" ->
      s"""${annProbeCtes(64, 5)}
         |SELECT q_id, vec_id, label, cosine FROM top
         |ORDER BY q_id, cosine DESC, vec_id""".stripMargin,

    "sim_topk" ->
      s"""WITH q AS (
         |  SELECT embedding AS q_emb, ${dotSql("embedding", "embedding")} AS q_nrm
         |  FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label,
         |       CAST(${dotSql("embedding", "q_emb")} AS DOUBLE)
         |         / (sqrt(CAST(${dotSql("embedding", "embedding")} AS DOUBLE))
         |            * sqrt(CAST(q_nrm AS DOUBLE))) AS cosine
         |FROM embeddings CROSS JOIN q
         |WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 20""".stripMargin,

    "tx_pack" -> {
      val docs = "(SELECT doc_id, CAST(doc_id % 32 AS INT) AS shard, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)"
      s"""WITH ${packCte(docs, "doc_id", 2048)}
         |SELECT doc_id, shard, n_tokens, start_tok, seq_id, seq_offset, n_seqs
         |FROM packd ORDER BY doc_id""".stripMargin
    },
    // chunk count in the same INTEGER form as the Spark side
    // (⌈max(n−overlap,1)/step⌉ via (x + step−1) // step); list slices
    // are 1-based inclusive and clamp in both engines, and the re-join
    // over single-space tokens reproduces exact source substrings
    "tx_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |        greatest((greatest(len(toks) - 16, 1) + 47) // 48, 1) AS n_chunks
        |      FROM d)
        |SELECT c.doc_id,
        |       CAST(t.chunk_no AS BIGINT) AS chunk_no,
        |       array_to_string(c.toks[t.chunk_no*48+1 : t.chunk_no*48+64], ' ') AS chunk_text,
        |       CAST(len(c.toks[t.chunk_no*48+1 : t.chunk_no*48+64]) AS BIGINT) AS n_tokens
        |FROM c, unnest(generate_series(0, c.n_chunks - 1)) AS t(chunk_no)
        |ORDER BY doc_id, chunk_no""".stripMargin,
    "tx_tokens" ->
      """SELECT doc_id, n_chars,
        |       CAST(length(text) AS BIGINT) AS n_chars_calc,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx_quality" ->
      s"""WITH $qualityCte
         |SELECT doc_id, n_tokens, alpha_ratio, stop_ratio, score, quality_band
         |FROM q ORDER BY doc_id""".stripMargin,

    "st_dedup" ->
      s"""$eventsCte
         |SELECT user_id, event_type, min(ts_us) AS first_ts_us,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM e GROUP BY user_id, event_type
         |ORDER BY user_id, event_type""".stripMargin,

    "tx_ngram_freq" ->
      s"""WITH g AS (SELECT unnest(${gramsSql(2)}) AS ngram FROM documents)
         |SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM g GROUP BY ngram
         |ORDER BY n_occurrences DESC, ngram
         |LIMIT 50""".stripMargin,

    "tx_tokens_regex" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
        |       CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe_chunks,
        |       CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_nonspace
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ts_range_window" ->
      s"""$eventsCte
         |SELECT event_id, user_id, ts_us, value,
         |       CAST(sum(vdec) OVER wr AS DOUBLE) / count(1) OVER wr AS mean_range,
         |       CAST(count(1) OVER wr AS BIGINT) AS n_range
         |FROM (SELECT e.*, CAST(value AS DECIMAL(18,2)) AS vdec FROM e)
         |WINDOW wr AS (PARTITION BY user_id ORDER BY ts_us
         |              RANGE BETWEEN 900000000 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ts_asof" ->
      s"""$eventsCte
         |SELECT event_id, user_id, ts_us, event_type, value,
         |       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_value
         |FROM e ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_semi_anti" ->
      """SELECT * FROM (
        |  SELECT 'with_orders' AS category, CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  UNION ALL
        |  SELECT 'without_orders' AS category, CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |ORDER BY category""".stripMargin,

    // --- rows+schema contracts for the sketch/model keys ---
    // These three keys compute engine-specific estimates (HLL sketch, KLL
    // sketch, isolation forest), so a bit-exact cross-engine hash is
    // impossible BY NATURE — the oracle instead pins the deterministic
    // part machine-checkably: the exact row set, the column names/dtypes,
    // and (ad_isolation_forest) the exact id/ts/value columns. Estimate
    // quality is bounded separately: approx keys by the ≤5% / ≤1%-rank
    // tolerance specs in AnalyticsExtrasSpec, the forest by LlmOpsSpec /
    // ScalePathSpec fault-recall + determinism. Expected driver record:
    // rows_match+schema_match true, hash_match false (by design).
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS approx_parts,
        |       count(DISTINCT l_partkey) AS exact_parts,
        |       count(DISTINCT l_orderkey) AS approx_orders,
        |       count(DISTINCT l_orderkey) AS exact_orders
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_approx_quantile" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       quantile_cont(l_extendedprice, 0.5) AS p50,
        |       quantile_cont(l_extendedprice, 0.9) AS p90,
        |       quantile_cont(l_extendedprice, 0.99) AS p99
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "ad_isolation_forest" ->
      s"""$featuresCtes
         |SELECT event_id, user_id, ts_us, value,
         |       0.0 AS if_score, FALSE AS is_anomaly, 'none' AS severity
         |FROM f ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_monthly_trend" ->
      """WITH g AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |         CAST(month(o_orderdate) AS INTEGER) AS m,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT y, m, revenue, n_orders,
        |       (revenue - lag(revenue) OVER wm)
        |         / (CASE WHEN lag(revenue) OVER wm <> 0.0 THEN lag(revenue) OVER wm END) AS mom_growth
        |FROM g
        |WINDOW wm AS (ORDER BY y, m)
        |ORDER BY y, m""".stripMargin,

    "st_window_agg" ->
      s"""$eventsCte
         |SELECT ts_us - (ts_us % 600000000) AS window_start_us, event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       max(value) AS max_value
         |FROM e GROUP BY 1, 2
         |ORDER BY window_start_us, event_type""".stripMargin,

    // session_window boundary contract: NEW session when gap >= 12h
    // (Spark merges only next < end); session_end = last event + gap
    "st_session" ->
      s"""$eventsCte,
         |${sessionCtes(twelveHoursUs)}
         |SELECT user_id,
         |       min(ts_us) AS session_start_us,
         |       max(ts_us) + $twelveHoursUs AS session_end_us,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_start_us""".stripMargin,

    "mm_binary" ->
      """SELECT doc_id,
        |       md5(text) AS payload_md5,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       upper(hex(encode(substring(text, 1, 8)))) AS header_hex,
        |       'text/utf-8' AS modality,
        |       CAST(CAST(octet_length(encode(text)) AS BIGINT) % 7 AS DOUBLE) / 7.0 AS fake_feature
        |FROM documents ORDER BY doc_id""".stripMargin,

    // mm_features / mm_frames / mm_resize twins are BYTE-exact: the
    // Spark side operates on UTF-8 payload bytes, and ScaleUp's salted
    // corpora carry multi-byte characters. This DuckDB build has no
    // blob-level md5/substring, so the byte view is reached through
    // hex(encode(text)): two hex chars per byte, a byte's %16 bucket is
    // its LOW NIBBLE (the pair's second hex char), and a frameLen-byte
    // window at byte offset ob is the 2·frameLen-char hex slice at
    // 2·ob+1 — matching the engine's hex-rendered frame digest
    // (Multimodal.frameSample).
    "mm_features" ->
      s"""WITH $hexCountsCte
         |SELECT doc_id, n_bytes,
         |       md5(array_to_string(counts, ',')) AS feat_digest
         |FROM c ORDER BY doc_id""".stripMargin,

    "mm_frames" ->
      s"""WITH $framesCte
         |SELECT doc_id,
         |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ob) - 1 AS INTEGER) AS frame_no,
         |       CAST(ob AS BIGINT) AS off_bytes,
         |       frame_md5
         |FROM f ORDER BY doc_id, frame_no""".stripMargin,

    "mm_frame_dedup" ->
      s"""WITH $framesCte
         |SELECT frame_md5,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_occurrences,
         |       min(doc_id) AS first_doc
         |FROM f GROUP BY frame_md5
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY frame_md5""".stripMargin,

    "mm_resize" ->
      s"""WITH $hexCountsCte
         |SELECT doc_id,
         |       md5(array_to_string(list_transform(generate_series(0, 3), j ->
         |         counts[4*j+1] + counts[4*j+2] + counts[4*j+3] + counts[4*j+4]), ',')) AS resized_digest,
         |       n_bytes AS total
         |FROM c ORDER BY doc_id""".stripMargin,

    "tx_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id,
        |       md5(norm_text) AS norm_md5,
        |       CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tokens_norm
        |FROM n ORDER BY doc_id""".stripMargin,

    // same match-then-redact order in both engines, so the redacted
    // bytes (and their md5) are identical
    "tx_pii" -> {
      val redacted = piiPatterns.foldLeft("text") { case (t, (_, pat, rep)) =>
        s"regexp_replace($t, '$pat', '$rep', 'g')"
      }
      s"""WITH ${piiCte("documents")}
         |SELECT doc_id, n_email, n_phone, n_ip, n_url, n_pii, md5($redacted) AS redacted_md5
         |FROM pii ORDER BY doc_id""".stripMargin
    },

    // distinct-per-doc gram votes → count roll-up, same windows as the
    // contamination oracle
    "tx_boilerplate" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct(${gramsSql(3)})) AS gram FROM documents)
         |SELECT gram, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
         |FROM g GROUP BY gram
         |HAVING count(*) >= 5
         |ORDER BY n_docs DESC, gram
         |LIMIT 1000""".stripMargin,

    "tx_repetition" ->
      s"""WITH ${repetitionCte("documents")}
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, n_2grams,
         |       top_token_count, top_2gram_count, top_token_fraction,
         |       top_2gram_fraction, repetitive
         |FROM rp ORDER BY doc_id""".stripMargin,

    "tx_corpus_stats" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |         CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, total_tokens, total_chars,
        |       CAST(n_docs AS DOUBLE) / (SELECT sum(n_docs) FROM cells) AS doc_share
        |FROM cells ORDER BY source, lang""".stripMargin,

    // the curation gate: TextAnalysis.curate's stage chain
    // withPiiCounts ∘ withRepetition ∘ withQuality, in one pass
    "tx_curate" ->
      s"""WITH $qualityCte,
         |${repetitionCte("q")},
         |${piiCte("rp")}
         |SELECT doc_id, score, quality_band, repetitive, n_pii,
         |       (score >= 0.6 AND NOT repetitive) AS keep
         |FROM pii ORDER BY doc_id""".stripMargin,

    "ds_sample" ->
      s"""WITH k AS (
         |  SELECT doc_id, source, n_chars,
         |         ${lehmerSql("doc_id")} AS sample_key,
         |         CASE WHEN source = 'src0' THEN 50
         |              WHEN source = 'src1' THEN 0
         |              ELSE 10 END AS sample_pct
         |  FROM documents)
         |SELECT doc_id, source, n_chars, sample_key, sample_pct
         |FROM k WHERE sample_key % 100 < sample_pct
         |ORDER BY doc_id""".stripMargin,

    // bigram build shared with tx_ngram_freq's twin; sum/count are
    // integers, the mean one double division
    "tx_lm_score" ->
      s"""WITH g AS (SELECT doc_id, unnest(${gramsSql(2)}) AS gram FROM documents),
         |m AS (SELECT gram, CAST(count(*) AS BIGINT) AS gram_freq FROM g GROUP BY gram)
         |SELECT g.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(m.gram_freq) AS BIGINT) AS sum_freq,
         |       CAST(sum(m.gram_freq) AS DOUBLE) / count(*) AS avg_gram_freq
         |FROM g JOIN m USING (gram)
         |GROUP BY g.doc_id
         |ORDER BY g.doc_id""".stripMargin,

    // exhaustive twin of the prefix-filtered containment join (the prefix
    // candidates have zero false negatives, so the full inverted-index
    // join is the same set); the threshold is the shared integer
    // predicate, exact in both engines. Docs pair through an exploded
    // (doc, shingle) self-join + group-count: per-doc shingles are
    // distinct, so the join count IS the intersection size, and
    // zero-overlap pairs cannot pass n_common >= 0.8·n_a — Σ df(shingle)²
    // work instead of the all-pairs n²·|toks|, which ran 6+ hours at sf1.
    // No prefix trick is used, so the oracle stays independent of the
    // engine's PPJoin candidate generation.
    "dd_containment" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
         |  FROM (SELECT doc_id, list_sort(list_distinct(${gramsSql(3)})) AS toks FROM documents)),
         |x AS MATERIALIZED (
         |  SELECT doc_id, unnest(toks) AS tok FROM t),
         |p AS MATERIALIZED (
         |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |         CAST(count(*) AS BIGINT) AS n_common
         |  FROM x a JOIN x b ON a.tok = b.tok AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.contained_id, p.container_id,
         |       ta.n AS n_a, tb.n AS n_b, p.n_common,
         |       CAST(p.n_common AS DOUBLE) / ta.n AS containment
         |FROM p
         |JOIN t ta ON ta.doc_id = p.contained_id
         |JOIN t tb ON tb.doc_id = p.container_id
         |WHERE p.n_common * 100 >= 80 * ta.n
         |ORDER BY contained_id, container_id""".stripMargin,

    // tf in-row over the token list, df via distinct (doc, term) counts,
    // linear idf N/df — score shape tf * (N / df) shared with the Spark
    // side (parens matter: one divide then one multiply)
    "tx_tfidf" ->
      """WITH tr AS (
        |  SELECT doc_id, t.term,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x = t.term)) AS BIGINT) AS tf
        |  FROM documents, unnest(list_distinct(string_split(text, ' '))) AS t(term)),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tr GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |s AS (
        |  SELECT tr.doc_id, tr.term, tr.tf, d.df,
        |         CAST(tr.tf AS DOUBLE) * (n.n_docs / CAST(d.df AS DOUBLE)) AS tfidf
        |  FROM tr JOIN d USING (term) CROSS JOIN n),
        |r AS (SELECT s.*, CAST(row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, term) AS INTEGER) AS rank FROM s)
        |SELECT doc_id, rank, term, tf, df, tfidf
        |FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // the Lehmer key walked through cumulative split thresholds:
    // test = residues 0-1, val = 2-3, train = the rest
    "ds_split" ->
      s"""WITH k AS (SELECT doc_id, source, ${lehmerSql("doc_id")} AS sample_key FROM documents)
         |SELECT doc_id, source, sample_key,
         |       CASE WHEN sample_key % 100 < 2 THEN 'test'
         |            WHEN sample_key % 100 < 4 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM k ORDER BY doc_id""".stripMargin,

    "ds_shuffle" ->
      s"""WITH ${shuffleCte("documents", "doc_id", 16)}
         |SELECT doc_id, source, shuffle_key AS sample_key, shard, pos
         |FROM shuf ORDER BY doc_id""".stripMargin,

    "ds_epochs" ->
      s"""WITH ${weightedCte("documents")},
         |${epochCtes("base", budget = 150, maxEpochs = 3)}
         |SELECT doc_id, source, ${lehmerSql("doc_id")} AS sample_key, epoch
         |FROM inst ORDER BY doc_id, epoch""".stripMargin,

    "ds_mix" ->
      s"""WITH ${weightedCte("documents")},
         |${mixCtes("count(*)")}
         |SELECT doc_id, source, n_chars, ${lehmerSql("doc_id")} AS sample_key, rate_ppm
         |FROM mixed ORDER BY doc_id""".stripMargin,

    // the token-unit twin of ds_mix: per-source supply is the token sum
    // (len(string_split) — the tokenCount twin)
    "ds_mix_tokens" ->
      s"""WITH ${weightedCte(
           "(SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)")},
         |${mixCtes("sum(n_tokens)")}
         |SELECT doc_id, source, n_tokens, ${lehmerSql("doc_id")} AS sample_key, rate_ppm
         |FROM mixed ORDER BY doc_id""".stripMargin,

    // the same positioned 5-gram windows as the Spark kernel (short docs
    // yield one truncated gram at pos 0), shared ⇔ min(doc)≠max(doc),
    // spans via the lag + running-sum gaps-and-islands grouping (a new
    // island only when the position gap exceeds k=5, so token-overlapping
    // or abutting gram runs merge into one maximal span)
    "dd_spans" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        |         array_to_string((string_split(text, ' '))[u.i+1:u.i+5], ' ') AS gram
        |  FROM documents,
        |       unnest(generate_series(0, greatest(len(string_split(text, ' ')) - 5, 0))) AS u(i)),
        |s AS (
        |  SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |d0 AS (
        |  SELECT g.doc_id, g.pos,
        |         CASE WHEN g.pos - lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) > 5
        |              THEN 1 ELSE 0 END AS brk
        |  FROM g JOIN s USING (gram)),
        |d AS (
        |  SELECT doc_id, pos,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM d0),
        |sp AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
        |         CAST(count(*) AS BIGINT) AS n_grams
        |  FROM d GROUP BY doc_id, grp)
        |SELECT doc_id, span_start, span_end, n_grams,
        |       span_end - span_start + 1 AS span_tokens
        |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    // the full assembly recipe built from the staged twins' pieces, as
    // Pipeline.assembleDataset is built from the staged operators: the
    // curation gate keeps documents, the mixture picks the proportioned
    // subset, the epoch plan explodes (doc, epoch) instances, the Lehmer
    // key of instance_id = doc_id·(maxEpochs+1) + epoch shuffles them
    // into 8 shards, and the prefix sum packs 64-token sequences
    "ds_assemble" ->
      s"""WITH $qualityCte,
         |${repetitionCte("q")},
         |${weightedCte("(SELECT doc_id, source, n_tokens FROM rp WHERE score >= 0.6 AND NOT repetitive)")},
         |${mixCtes("count(*)")},
         |${epochCtes("mixed", budget = 150, maxEpochs = 3)},
         |${shuffleCte("(SELECT *, doc_id * 4 + epoch AS instance_id FROM inst)", "instance_id", 8)},
         |${packCte("shuf", "pos", 64)}
         |SELECT doc_id, source, epoch, instance_id, shard, pos, n_tokens,
         |       start_tok, seq_id, seq_offset, n_seqs
         |FROM packd ORDER BY doc_id, epoch""".stripMargin,

    // distinct 3-gram containment vs the benchmark docs (doc_id % 97 = 0):
    // same token windows as the Spark side, LEFT JOIN + count(b.gram) =
    // array_intersect
    "dd_contamination" ->
      s"""WITH g AS (SELECT doc_id, list_distinct(${gramsSql(3)}) AS grams FROM documents),
         |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
         |corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
         |hits AS (
         |  SELECT c.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(count(b.gram) AS BIGINT) AS n_overlap
         |  FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
         |  GROUP BY c.doc_id)
         |SELECT doc_id, n_grams, n_overlap,
         |       CAST(n_overlap AS DOUBLE) / n_grams AS contamination,
         |       CAST(n_overlap AS DOUBLE) / n_grams >= 0.5 AS contaminated
         |FROM hits ORDER BY doc_id""".stripMargin,

    // languageId's stopword-hit scoring is pure integer counting + one
    // double division, and its struct-greatest argmax is exactly "highest
    // score, then lexicographically-largest code" — both engines reproduce
    // it bit-for-bit (oracle since r5; the accuracy property stays specced
    // on synthetic multilingual text in LlmOpsSpec)
    "tx_langid" ->
      """WITH p(cand, words) AS (VALUES
        |  ('en', ['the','and','of','to','is','in','that','it']),
        |  ('de', ['der','die','und','das','ist','nicht','ein','zu']),
        |  ('es', ['el','la','que','de','los','es','una','por']),
        |  ('fr', ['le','la','les','et','est','une','que','des']),
        |  ('zh', ['的','是','了','在','我','有','他','不'])),
        |t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang, cand,
        |         CAST(len(list_filter(toks, x -> list_contains(words, x))) AS DOUBLE)
        |           / len(toks) AS score
        |  FROM t CROSS JOIN p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, cand DESC) AS rn FROM s)
        |SELECT doc_id, lang, cand AS predicted_lang, score AS lang_score
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "tx_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ' '),
        |           t -> list_reduce(
        |                  list_prepend(CAST(0 AS BIGINT),
        |                    list_transform(string_split(t, ''),
        |                      c -> CAST(ascii(c) AS BIGINT))),
        |                  (acc, c) -> (acc * 131 + c) % 1000003)) AS th,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, greatest(n - 3, 0)),
        |           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1:i+3]),
        |                  (acc, h) -> (acc * 8191 + h) % 1000003)) AS sh
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(
        |           list_transform(generate_series(0, greatest(len(sh) - 4, 0)),
        |             i -> list_min(sh[i+1:i+4])))) AS fp
        |  FROM s)
        |SELECT doc_id, md5(array_to_string(fp, ',')) AS fp_digest,
        |       CAST(len(fp) AS BIGINT) AS fp_size
        |FROM f ORDER BY doc_id""".stripMargin,
    "bm_entity_metrics" ->
      s"""$metricsCte
         |SELECT c_custkey, c_mktsegment, n_orders, total_spend, intensity, rating,
         |       spend_per_occupant, entity_age
         |FROM m ORDER BY c_custkey""".stripMargin,

    "bm_rating_dist" ->
      s"""$metricsCte
         |SELECT rating, CAST(count(*) AS BIGINT) AS n FROM m
         |GROUP BY rating ORDER BY rating""".stripMargin,

    "bm_group_summary" ->
      s"""$metricsCte,
         |r AS (
         |  SELECT m.*,
         |         row_number() OVER (PARTITION BY c_mktsegment
         |                            ORDER BY total_spend, c_custkey) AS rn,
         |         CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS cnt
         |  FROM m),
         |g AS (
         |  SELECT c_mktsegment,
         |         CAST(count(*) AS BIGINT) AS n_entities,
         |         sum(CAST(total_spend AS DECIMAL(18,2))) AS s1,
         |         sum(CAST(total_spend AS DECIMAL(18,2))
         |             * CAST(total_spend AS DECIMAL(18,2))) AS s2,
         |         min(CASE WHEN rn = (cnt + 1) // 2 THEN total_spend END) AS med_lo,
         |         min(CASE WHEN rn = cnt // 2 + 1 THEN total_spend END) AS med_hi
         |  FROM r GROUP BY 1)
         |SELECT c_mktsegment, n_entities,
         |       CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS total_spend,
         |       CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_entities AS avg_spend,
         |       (med_lo + med_hi) / 2.0 AS median_spend,
         |       CAST(CAST(sqrt(greatest(
         |         (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
         |           - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
         |             * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_entities)
         |           / nullif(n_entities - 1, 0),
         |         0.0)) AS DECIMAL(18,2)) AS DOUBLE) AS std_spend
         |FROM g ORDER BY c_mktsegment""".stripMargin,

    "bm_portfolio_summary" ->
      s"""$metricsCte,
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS total_entities,
         |         CAST(sum(n_orders) AS BIGINT) AS total_activity,
         |         sum(CAST(total_spend AS DECIMAL(18,2))) AS spend_dec,
         |         CAST(sum(CASE WHEN rating IN ('Excellent','Good') THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
         |         CAST(sum(CASE WHEN rating = 'Poor' THEN 1 ELSE 0 END) AS BIGINT) AS n_poor
         |  FROM m)
         |SELECT total_entities, total_activity,
         |       CAST(CAST(spend_dec AS VARCHAR) AS DOUBLE) AS total_spend,
         |       CAST(CAST(spend_dec AS VARCHAR) AS DOUBLE) / total_activity AS weighted_avg_intensity,
         |       CAST(CAST(spend_dec AS VARCHAR) AS DOUBLE) * CAST(0.00022 AS DOUBLE) AS portfolio_co2_tons,
         |       CAST(n_top AS DOUBLE) * 100.0 / total_entities AS top_performer_pct,
         |       CAST(n_poor AS DOUBLE) * 100.0 / total_entities AS needs_improvement_pct
         |FROM a""".stripMargin,

    "bm_percentile" ->
      s"""$metricsCte
         |SELECT c_custkey, c_mktsegment, intensity,
         |       percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY intensity) AS pct_rank
         |FROM m ORDER BY c_custkey""".stripMargin,

    "bm_co2" ->
      s"""$metricsCte
         |SELECT c_custkey, intensity,
         |       intensity * CAST(0.22 AS DOUBLE) AS co2_intensity,
         |       CASE WHEN intensity * CAST(0.22 AS DOUBLE) < 44000 THEN 'excellent'
         |            WHEN intensity * CAST(0.22 AS DOUBLE) < 55000 THEN 'good'
         |            WHEN intensity * CAST(0.22 AS DOUBLE) < 66000 THEN 'average'
         |            ELSE 'poor' END AS co2_band
         |FROM m ORDER BY c_custkey""".stripMargin,

    "bm_recommendations" ->
      s"""$metricsCte
         |SELECT c_custkey, rating,
         |       unnest(CASE
         |         WHEN rating = 'Poor' THEN ['Consider LED lighting upgrades',
         |                                    'Review HVAC system efficiency',
         |                                    'Implement building automation system']
         |         WHEN rating = 'Average' THEN ['Review HVAC system efficiency',
         |                                       'Implement building automation system']
         |         WHEN rating = 'Good' THEN ['Consider LED lighting upgrades']
         |         ELSE CAST([] AS VARCHAR[]) END) AS recommendation
         |FROM m ORDER BY c_custkey, recommendation""".stripMargin,

    // TopKPerKey's (ord desc, unique id) total order makes the heap
    // output deterministic and exactly the row_number window's rows
    "q_topk_custom" ->
      s"""$metricsCte,
         |r AS (
         |  SELECT c_mktsegment, c_custkey, intensity,
         |         row_number() OVER (PARTITION BY c_mktsegment
         |                            ORDER BY intensity DESC, c_custkey) AS rn
         |  FROM m)
         |SELECT c_mktsegment, c_custkey, intensity FROM r WHERE rn <= 3
         |ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "bm_top_entities" ->
      s"""$metricsCte,
         |r AS (
         |  SELECT c_mktsegment, c_custkey, intensity, rating,
         |         CAST(row_number() OVER (PARTITION BY c_mktsegment
         |                                 ORDER BY intensity DESC, c_custkey) AS INTEGER) AS rank_in_segment
         |  FROM m)
         |SELECT c_mktsegment, rank_in_segment, c_custkey, intensity, rating
         |FROM r WHERE rank_in_segment <= 3
         |ORDER BY c_mktsegment, rank_in_segment""".stripMargin,

    "bm_type_shares" ->
      s"""$metricsCte
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_entities,
         |       CAST(sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |         / count(*) AS active_share,
         |       CAST(sum(CASE WHEN rating IN ('Excellent','Good') THEN 1 ELSE 0 END) AS DOUBLE)
         |         / count(*) AS top_rated_share
         |FROM m GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "bm_representatives" ->
      s"""$metricsCte,
         |fpt AS (
         |  SELECT m.*, row_number() OVER (PARTITION BY rating, c_mktsegment
         |                                 ORDER BY c_custkey) AS rn_type
         |  FROM m),
         |sel AS (
         |  SELECT c_custkey,
         |         row_number() OVER (PARTITION BY rating ORDER BY c_custkey) AS rn_rating
         |  FROM fpt WHERE rn_type = 1),
         |s2 AS (SELECT c_custkey, TRUE AS is_selected FROM sel WHERE rn_rating <= 2)
         |SELECT m.c_custkey, c_mktsegment, rating, intensity,
         |       coalesce(is_selected, FALSE) AS is_selected
         |FROM m LEFT JOIN s2 USING (c_custkey)
         |ORDER BY is_selected DESC, c_custkey
         |LIMIT 8""".stripMargin,

    // decimal sums convert to double through VARCHAR (the exact decimal
    // string) — the twin of ExactCast.decToDouble: DuckDB's direct
    // DECIMAL→DOUBLE double-rounds (int128→double, then /10^scale)
    // where Spark single-rounds, a real 1-ulp divergence once the
    // scaled sum passes 2^53 (sum_charge at sf1, the r18 finding)
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |       CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(17,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |       CAST(CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(17,4))
        |         * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(22,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
        |       CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_top_nations" ->
      """SELECT n_name, r_name,
        |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name, r_name
        |ORDER BY revenue DESC, n_name
        |LIMIT 10""".stripMargin,
  )
}
