package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Plan-shape assertions — the would-this-survive-100TB audit as living
  * documentation. Each test pins a property of the physical plan that the
  * scale design (SURVEY.md §5) depends on; a regression that silently
  * introduces an extra shuffle, loses a pushdown, or drops a broadcast
  * fails here, not on a cluster.
  *
  * Over the test session every sf0.001 table is one file split, and
  * `Tables.table` returns it as one partition, so those plans need no
  * exchange. The tests that pin an exchange plan it over
  * [[TestSpark.multiSplit]], where the tables are several splits each as
  * they are at scale, and check the one-split form beside it.
  */
class PlanQualitySpec extends AnyFunSuite {
  import TestSpark.{multiSplit, sf, spark}

  /** Physical plan WITHOUT cache substitution: another suite caching a
    * matching subtree (e.g. ScalePathSpec caches rollingFeatures) would
    * otherwise splice an InMemoryRelation into this plan, whose AQE dump
    * prints Initial+Final sections and double-counts exchanges — the
    * assertions here are about the real plan, not cache artifacts. */
  private def plan(df: DataFrame): String = {
    spark.sharedState.cacheManager.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan(Headline.pricingSummary(Tables.lineitem(spark, sf)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("pricing summary prunes to the referenced columns only") {
    val p = plan(Headline.pricingSummary(Tables.lineitem(spark, sf)))
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_partkey"), "scan reads unused column l_partkey:\n" + p)
    assert(!p.contains("l_suppkey"), "scan reads unused column l_suppkey:\n" + p)
  }

  test("nation revenue broadcasts both dimension tables") {
    val p = plan(Headline.topNationRevenue(spark, sf, 10))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("top-k queries collapse to TakeOrderedAndProject (no global sort)") {
    val pTopk = plan(Similarity.bruteForceTopK(Tables.embeddings(spark, sf), 0L, 20))
    assert(pTopk.contains("TakeOrderedAndProject"), pTopk)
    val alerts = AnomalyRules.thresholdAlerts(
      TimeSeries.rollingFeatures(TimeSeries.base(spark, sf)))
    val pFilter = plan(Alerts.filterAlerts(alerts, 0L, Long.MaxValue, "high", 100))
    assert(pFilter.contains("TakeOrderedAndProject"), pFilter)
  }

  test("group summary reuses one exchange for window + aggregate on the same key") {
    val p = plan(Benchmarking.groupSummary(Benchmarking.metricsFor(spark, sf)))
    // window partitioned by c_mktsegment and the groupBy on the same key
    // must not introduce a second hash-partitioning exchange on that key
    val exchanges = "Exchange hashpartitioning\\(c_mktsegment".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges segment exchanges:\n$p")
  }

  test("zscore stats side is broadcast, not shuffled") {
    val p = plan(AnomalyRules.zscoreAlerts(TimeSeries.base(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("rolling features compute both frames in a single window exchange") {
    val p = plan(TimeSeries.rollingFeatures(TimeSeries.base(spark, sf)))
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges user_id exchanges:\n$p")
  }

  test("native kernels appear in the similarity plans (no interpreted HOF)") {
    // the exact verify runs the quantized-long kernel pair: quantization
    // per VECTOR (below the pair join), the long dot per pair — and no
    // interpreted aggregate(zip_with) chain anywhere in the plan
    val pEmb = plan(Dedup.embeddingNearDup(Tables.embeddings(spark, sf)))
    assert(pEmb.contains("decimal_quantize7") && pEmb.contains("quantized_dot14"), pEmb)
    assert(!pEmb.contains("lambdafunction"), pEmb)
    // top-m mirrors in ONE generator pass (r15): the verified PAIR
    // stream is never materialized (no checkpoint scan with the
    // (vec_a, vec_b, cosine) schema — the bucket-stage checkpoints
    // below it are a different, bounded payload) and there is exactly
    // one mirror generator, not a union of two re-computed legs
    val pTopM = plan(Dedup.embeddingNearDupTopM(Tables.embeddings(spark, sf)))
    assert(!"ExistingRDD\\[vec_a".r.findFirstIn(pTopM).isDefined,
      s"top-m still materializes the pair stream:\n$pTopM")
    val mirrors = "Generate explode\\(array\\(struct\\(vec_id".r
      .findAllIn(pTopM).length
    assert(mirrors === 1, s"$mirrors mirror generators:\n$pTopM")
    // signatures are checkpointed before banding, so the signature kernel
    // lives in the (eager) signature stage plan and the match-count kernel
    // in the verify plan downstream of the checkpoint
    val pSig = plan(MinHashLsh.signatures(Tables.documents(spark, sf)))
    assert(pSig.contains("minhash_signature"), pSig)
    // the estimate stage carries the match-count kernel and broadcasts
    // the ~1KB/doc signature payload (r14: the pair stream never
    // shuffles into the estimate join under the broadcast budget)
    val pMh = plan(MinHashLsh.candidatePairsUnsorted(
      Tables.documents(spark, sf), 128, 8, 0.9, 4096))
    assert(pMh.contains("long_array_match_count"), pMh)
    assert(pMh.contains("BroadcastHashJoin"), pMh)
    assert(!pMh.contains("SortMergeJoin"), pMh)
    // the public form's sort reads the CHECKPOINTED survivor rows, so
    // the range sampler cannot re-execute the join lineage (the r14
    // dd_minhash_lsh profile fix)
    val pPub = plan(MinHashLsh.candidatePairs(Tables.documents(spark, sf)))
    assert(pPub.contains("ExistingRDD"), pPub)
    assert(!pPub.contains("long_array_match_count"), pPub)
    // the density-capped dial (r16): same verify kernels, and the cap
    // stage is two linear window passes — never a cartesian or a
    // pair-stream re-computation
    val pCap = plan(Dedup.embeddingPairsUnsorted(
      Tables.embeddings(spark, sf), 0.3, 8, 0, 4096, 0L, 128))
    assert(pCap.contains("quantized_cosine14"), pCap)
    assert(!pCap.contains("CartesianProduct"), pCap)
    // four linear window passes: bucket-size count, the per-vector
    // (rank, running-sum) pair, and the hub guard's size window — each a
    // 24-byte-row exchange, nothing keyed on a pair
    val capWindows = "Window \\[".r.findAllIn(pCap).length
    assert(capWindows <= 4, s"$capWindows window passes in capped plan:\n$pCap")
  }

  test("LSH candidate streams are never distinct-shuffled on the normal corpus") {
    // first-agree dedup replaces the distinct over the (quadratic-ish)
    // candidate pair stream; with no oversized buckets there must be NO
    // aggregate anywhere in the pairing plans — a HashAggregate here
    // means the shuffle-free path regressed
    val docs = Tables.documents(spark, sf)
    val pSim = plan(SimHash.nearDupPairs(docs))
    assert(!pSim.contains("HashAggregate"),
      "dd_simhash candidate stream is aggregated:\n" + pSim)
    assert(pSim.contains("bit_count"), pSim)
    val sigs = MinHashLsh.signatures(docs).localCheckpoint(true)
    val pBand = plan(MinHashLsh.bandedPairs(sigs, 128, 16))
    assert(!pBand.contains("HashAggregate"),
      "banded candidate stream is aggregated:\n" + pBand)
  }

  test("scale-path dedup plans contain no unblocked pairwise join") {
    val docs = Tables.documents(spark, sf)
    val pPairs = plan(MinHashLsh.exactPairs(docs, 0.9))
    assert(!pPairs.contains("CartesianProduct")
      && !pPairs.contains("BroadcastNestedLoopJoin"), pPairs)
    // the kernel-bearing stage sits below the r14 survivor checkpoint
    // (the public form's top plan is just the presentation sort over the
    // checkpointed rows), so the pin reads the pre-checkpoint stage
    val pEmb = plan(Dedup.embeddingPairsUnsorted(
      Tables.embeddings(spark, sf), 0.3, 8, 0, 4096, 0L))
    assert(!pEmb.contains("CartesianProduct")
      && !pEmb.contains("BroadcastNestedLoopJoin"), pEmb)
    // pair verify runs the fused cosine kernel (one int loop + one division
    // per pair), not the per-pair Decimal cosineFromDec chain
    assert(pEmb.contains("quantized_cosine14"), pEmb)
  }

  test("sequence packing windows on the shard key, never a single global partition") {
    val p = plan(Packing.packSequences(Tables.documents(multiSplit, sf)))
    // the prefix-sum exchange must hash-partition on shard — a
    // SinglePartition exchange here means the whole corpus serializes
    // through one task's prefix sum at 100 TB
    assert(p.contains("hashpartitioning(shard"), p)
    assert("windowspecdefinition\\(shard".r.findFirstIn(p).nonEmpty,
      s"prefix-sum window is not partitioned by shard:\n$p")
    // one-split documents: the window still partitions by shard, in the
    // read's one partition, with no exchange
    val one = plan(Packing.packSequences(Tables.documents(spark, sf)))
    assert("windowspecdefinition\\(shard".r.findFirstIn(one).nonEmpty, one)
    assert(!one.contains("Exchange"), one)
  }

  test("containment candidate stage joins on hashed gram longs, not gram strings") {
    val p = plan(Dedup.containment(Tables.documents(multiSplit, sf)))
    // the df join + candidate join must key on xxhash64(gram): string
    // keys shuffle/sort ~30-char grams and dominated the stage (r10)
    assert(p.contains("xxhash64"), p)
    assert("hashpartitioning\\(tok_h".r.findFirstIn(p).nonEmpty,
      s"candidate exchanges are not keyed on the gram hash:\n$p")
    // one-split documents: still the gram-hash keys, with no hash exchange
    val one = plan(Dedup.containment(Tables.documents(spark, sf)))
    assert(one.contains("xxhash64"), one)
    assert(!one.contains("Exchange hashpartitioning"), one)
  }

  test("ANN index buckets come from the native kernel, not interpreted HOFs") {
    val p = plan(AnnLsh.topK(Tables.embeddings(spark, sf), 0L, 10))
    assert(p.contains("embedding_lsh_buckets"), p)
  }

  test("IVF probe assigns cells with the native kernel and broadcasts the cell list") {
    val p = plan(Ivf.topK(Tables.embeddings(spark, sf), 0L, 10, nprobe = 3))
    assert(p.contains("nearest_centroid"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("incremental dedup broadcasts the batch and never shuffles corpus signatures") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("incplan").toString
    IncrementalDedup.saveSignatures(docs.filter(col("doc_id") % 5 =!= 0), dir)
    val idx = IncrementalDedup.openSignatures(spark, dir)
    val p = plan(IncrementalDedup.dedupAgainst(idx,
      docs.filter(col("doc_id") % 5 === 0)))
    // the bucket join must be broadcast (batch side) — a SortMergeJoin
    // here means the stored corpus signatures were shuffled per batch
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "corpus signatures shuffled for the bucket join:\n" + p)
    // no distinct over the candidate stream: the only aggregate is the
    // per-batch-doc dup roll-up (group by the batch id)
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs <= 4, s"unexpected aggregation stages ($aggs):\n" + p)
  }

  test("text analysis is shuffle-free (narrow per-row plan)") {
    val p = plan(TextAnalysis.qualityScore(Tables.documents(spark, sf)))
    // only the final presentation orderBy may exchange; no hash shuffles
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("pii scan and deterministic sampling are shuffle-free per-row plans") {
    val docs = Tables.documents(spark, sf)
    val pPii = plan(TextAnalysis.piiScan(docs))
    assert(!pPii.contains("Exchange hashpartitioning"), pPii)
    val pSample = plan(Sampling.stratifiedSample(docs, Map("src0" -> 50)))
    assert(!pSample.contains("Exchange hashpartitioning"), pSample)
    // sampling predicate is pure per-row arithmetic: no join, no agg
    assert(!pSample.contains("Join"), pSample)
  }

  test("split assignment is a join-free per-row plan") {
    val pSplit = plan(Sampling.splitAssignments(Tables.documents(spark, sf)))
    assert(!pSplit.contains("Exchange hashpartitioning"), pSplit)
    assert(!pSplit.contains("Join"), pSplit)
  }

  test("lm score and tfidf shuffle narrow gram/term rows, never text") {
    val docs = Tables.documents(spark, sf)
    // both are word-count-family plans: the exchanges must carry (id,
    // gram/term, counts) rows only — the text column stays at the scan
    val pLm = plan(TextAnalysis.lmScore(docs))
    assert(!pLm.contains("CartesianProduct"), pLm)
    // the gram build is the native word_ngrams kernel, not the HOF chain
    assert(pLm.contains("word_ngrams"), pLm)
    // Zipf-proofing (r15): NO count-over-gram window — a window
    // partitioned by raw gram has no partial aggregation, so one
    // Zipf-hot gram lands its every occurrence on one task at scale.
    // The model is a partial-agg groupBy joined back under the heap
    // budget — on this corpus the model broadcasts and the probe never
    // shuffles by gram at all.
    assert(!pLm.contains("Window"), pLm)
    assert(pLm.contains("BroadcastHashJoin"), pLm)
    val pTf = plan(TextAnalysis.salientTerms(docs))
    assert(!pTf.contains("CartesianProduct"), pTf)
    // N rides as a broadcast single-row side, never a shuffle
    assert(pTf.contains("BroadcastNestedLoopJoin"), pTf)
  }

  test("containment join is prefix-gated: no cartesian, no text in the shuffles") {
    val p = plan(Dedup.containment(Tables.documents(spark, sf)))
    assert(!p.contains("CartesianProduct"), p)
    // the verify stage runs the native sorted-intersect kernel on the
    // 64-bit gram-hash arrays (r11) — not an interpreted array_intersect,
    // and not the gram-string form (that is the collision fallback only)
    assert(p.contains("sorted_long_intersect_count"), p)
    // gram STRING arrays never enter an exchange: the hashed payloads
    // broadcast (or shuffle 8-byte elements past the budget)
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("toks#"), s"gram strings in a shuffle:\n$p")
  }

  test("repetition signals stay per-row; corpus stats shuffle once with a broadcast total") {
    val docs = Tables.documents(spark, sf)
    val pRep = plan(TextAnalysis.repetitionSignals(docs))
    assert(!pRep.contains("Exchange hashpartitioning"), pRep)
    val pStats = plan(TextAnalysis.corpusStats(docs))
    // one corpus scan, one cell roll-up exchange; the share denominator
    // is a window over the (tiny) aggregated cells, never a second pass
    val exchanges = "Exchange hashpartitioning".r.findAllIn(pStats).length
    assert(exchanges <= 1, s"$exchanges hash exchanges:\n$pStats")
    val scans = "Scan parquet".r.findAllIn(pStats).length
    assert(scans === 1, s"$scans corpus scans:\n$pStats")
  }

  test("frame dedup and boilerplate shuffle narrow rows, never payload/text") {
    val docs = Tables.documents(multiSplit, sf)
    val pFrames = plan(Multimodal.frameDedup(Multimodal.binaryColumns(docs)))
    // the digest roll-up shuffles Frame rows (doc_id + digest); the binary
    // payload is projected away inside the mapPartitions stage
    val exFrames = pFrames.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exFrames.contains("payload"), pFrames)
    val pBp = plan(TextAnalysis.boilerplate(docs))
    // one count roll-up exchange, carrying (gram, partial counts) only
    val hashEx = "Exchange hashpartitioning".r.findAllIn(pBp).length
    assert(hashEx === 1, s"$hashEx hash exchanges:\n$pBp")
    val exBp = pBp.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exBp.contains("text#"), pBp)
    // one-split documents: the roll-ups need no exchange
    val oneDocs = Tables.documents(spark, sf)
    val oneFrames = plan(Multimodal.frameDedup(Multimodal.binaryColumns(oneDocs)))
    assert(!oneFrames.contains("Exchange hashpartitioning"), oneFrames)
    val oneBp = plan(TextAnalysis.boilerplate(oneDocs))
    assert(!oneBp.contains("Exchange"), oneBp)
  }

  test("the detector union reads the events table exactly once (shared scan)") {
    // detectAllShared: one materialized rolling-features pass feeds all
    // four rules — the executed union plan must contain ZERO parquet
    // scans (every branch reads the checkpointed blocks)
    spark.sharedState.cacheManager.clearCache()
    val p = Pipeline.detectAllShared(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 0, s"$scans parquet scans in the shared detector union:\n$p")
    // and it is row-identical to the unshared composition
    val events = TimeSeries.base(spark, sf)
    val unshared = Pipeline.detectAll(events, TimeSeries.rollingFeatures(events))
    val shared = Pipeline.detectAllShared(spark, sf)
    assert(shared.exceptAll(unshared).isEmpty &&
      unshared.exceptAll(shared).isEmpty)
  }

  test("al_summary_top rides the shared detector scan and a heap top-10, not a full sort") {
    // the hottest-entities truncation over the all-rules union: the
    // events read must be the ONE detectAllShared materialized pass
    // (zero parquet scans in the executed plan), and the top-10 must
    // plan as TakeOrderedAndProject (per-partition heap + k-row driver
    // merge over the aggregated frame) — a global Sort here would pay
    // an exchange of every entity's count at corpus scale
    spark.sharedState.cacheManager.clearCache()
    val p = graft.operators.Alerts.summaryTopEntities(
      Pipeline.detectAllShared(spark, sf), 10)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"parquet scans in the al_summary_top plan (shared scan bypassed):\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    // no GLOBAL sort anywhere: rangepartitioning is its exchange
    // signature (the detector branches' partition-LOCAL window sorts —
    // "Sort …, false" — are required and exchange-free). Before the r13
    // unsorted-core fix each rule branch carried its presentation sort
    // through the union: four rangepartitioning exchanges per summary.
    assert(!p.contains("rangepartitioning"),
      s"global sort inside the summary plan:\n$p")
  }

  test("the composed curation gate fuses into one scan with no exchange") {
    val p = plan(TextAnalysis.curate(Tables.documents(spark, sf)))
    assert(!p.contains("Exchange hashpartitioning"), p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"$scans corpus scans:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("contamination scan broadcasts the benchmark and never shuffles the corpus") {
    val docs = Tables.documents(spark, sf)
    val p = plan(Contamination.scan(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0)))
    // the single-row benchmark gram array rides a broadcast nested-loop
    // join; corpus rows score per-row — the only exchanges are the
    // benchmark side's own (tiny) aggregation and the presentation sort
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val corpusShuffles = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(corpusShuffles === 0, s"corpus doc_id shuffle present:\n$p")
  }

  test("global shuffle windows on the shard key with a pruned scan") {
    val p = plan(Sampling.shuffleShards(Tables.documents(multiSplit, sf), 16))
    // the ONLY hash exchange is the partition-by-shard the shard write
    // needs anyway; the window must never collapse to a single partition
    assert(p.contains("hashpartitioning(shard"), p)
    assert("windowspecdefinition\\(shard".r.findFirstIn(p).nonEmpty,
      s"position window is not partitioned by shard:\n$p")
    assert(!p.contains("text#"), "shuffle reads the text column:\n" + p)
    // one-split documents: the shard window runs in the one partition
    val one = plan(Sampling.shuffleShards(Tables.documents(spark, sf), 16))
    assert("windowspecdefinition\\(shard".r.findFirstIn(one).nonEmpty, one)
    assert(!one.contains("Exchange hashpartitioning"), one)
  }

  test("mixture construction broadcasts the rates and never shuffles the corpus") {
    val p = plan(Sampling.mixToTarget(Tables.documents(spark, sf),
      Map("src0" -> 50, "src2" -> 30, "src4" -> 20)))
    // per-source counts roll up map-side; the tiny rates frame broadcasts
    // back; the corpus's only exchange is the presentation sort
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val corpusShuffles = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(corpusShuffles === 0, s"corpus doc_id shuffle present:\n$p")
    assert(!p.contains("text#"), "mixture reads the text column:\n" + p)
  }

  test("epoch plan broadcasts the per-source plan; epochs explode scan-side") {
    val p = plan(Sampling.epochPlan(Tables.documents(spark, sf),
      Map("src0" -> 50, "src2" -> 30, "src4" -> 20), budget = 150L,
      maxEpochs = 3))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val corpusShuffles = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(corpusShuffles === 0, s"corpus doc_id shuffle present:\n$p")
    assert(p.contains("Generate explode"), "epoch rows are not a scan-side explode:\n" + p)
  }

  // ---- determinism lint (r19, verdict ask #5) --------------------------
  // SURVEY §4 rule 1 as a living check: a DECIMAL aggregate converted to
  // DOUBLE by a direct cast single-rounds in Spark but double-rounds in
  // DuckDB once the scaled integer passes 2^53, so every UNBOUNDED decimal
  // roll-up must route through ExactCast.decToDouble (the string hop,
  // whose analyzed form is Cast(Cast(agg, String), Double) and therefore
  // never matches here). Bounded-window sums keep the direct cast by
  // contract — window aggregates live under WindowExpression, which is
  // explicitly excluded. The oracle-SQL side of the same rule is
  // tools/lint_oracle.py.
  private def directDecimalAggCasts(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, WindowExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val analyzed = df.queryExecution.analyzed
    // exprIds of decimal-typed aggregate RESULTS, so a cast applied in a
    // Project above the Aggregate is caught too; plain group keys are not
    // collected — casting a single decimal VALUE is one exact rounding
    val aggIds = analyzed.collect { case a: Aggregate =>
      a.aggregateExpressions.collect {
        case al: Alias if al.dataType.isInstanceOf[DecimalType] &&
            al.child.exists(_.isInstanceOf[AggregateExpression]) =>
          al.exprId
      }
    }.flatten.toSet
    val hits = scala.collection.mutable.ListBuffer[String]()
    analyzed.foreach { node =>
      node.expressions.foreach(_.foreach {
        case c: Cast if c.dataType == DoubleType =>
          c.child match {
            case ar: AttributeReference if aggIds.contains(ar.exprId) =>
              hits += c.sql
            case ch if ch.dataType.isInstanceOf[DecimalType] &&
                ch.exists(_.isInstanceOf[AggregateExpression]) &&
                !ch.exists(_.isInstanceOf[WindowExpression]) =>
              hits += c.sql
            case _ => ()
          }
        case _ => ()
      })
    }
    hits.toList
  }

  /** Direct decimal-agg->double casts that are BOUNDED BY THE DATA MODEL
    * and therefore exact-safe at any corpus size (ExactCast's contract:
    * the string hop is for UNBOUNDED roll-ups). Every entry here is a
    * per-high-cardinality-key aggregate whose GROUP SIZE is
    * scale-invariant — the corpus grows by adding entities (ScaleUp
    * salts new buildings/customers/docs), never by growing one entity's
    * history — so the summed magnitude at sf1000 equals the magnitude
    * verified hash-exact at sf0.01/sf0.1/sf1. A NEW key (or a new cast
    * in an old key) fails the lint below until it either routes through
    * decToDouble or earns a waiver here with the same boundedness
    * argument.
    *
    *  - s1/s2: per-(entity, rule) z-score sufficient statistics over
    *    that entity's OWN readings (AnomalyRules.zscore).
    *  - __spend_dec: per-entity order spend (Benchmarking.entityMetrics,
    *    the r20 pre-aggregate-before-join shape); orders-per-customer is
    *    constant across SF in the TPC-H model.
    *    The CORPUS-scale re-roll-ups of these per-entity values are the
    *    r18 decToDouble sites (Benchmarking.scala decToDouble calls in
    *    groupSummary/portfolioSummary) — not waived.
    *  - v_dec/vdec: per-(entity, resample-bucket) / per-session sums —
    *    windows of fixed span over one entity's readings.
    */
  private val boundedDecimalCastWaivers: Map[String, Set[String]] = {
    val zscoreStats = Set("CAST(s1 AS DOUBLE)", "CAST(s2 AS DOUBLE)")
    val entitySpend = Set("CAST(__spend_dec AS DOUBLE)")
    Map(
      "ad_all_rules" -> zscoreStats,
      "ad_zscore" -> zscoreStats,
      "al_filter_rule" -> zscoreStats,
      "al_summary_rules" -> zscoreStats,
      "al_summary_top" -> zscoreStats,
      "bm_co2" -> entitySpend,
      "bm_entity_metrics" -> entitySpend,
      "bm_group_summary" -> entitySpend,
      "bm_percentile" -> entitySpend,
      "bm_portfolio_summary" -> entitySpend,
      "bm_rating_dist" -> entitySpend,
      "bm_recommendations" -> entitySpend,
      "bm_representatives" -> entitySpend,
      "bm_top_entities" -> entitySpend,
      "bm_type_shares" -> entitySpend,
      "q_topk_custom" -> entitySpend,
      "st_session" -> Set("CAST(vdec AS DOUBLE)"),
      "ts_resample" -> Set("CAST(v_dec AS DOUBLE)"),
      "ts_sessionize" -> Set("CAST(v_dec AS DOUBLE)"))
  }

  test("no registered key casts an unbounded decimal aggregate straight to double") {
    spark.sharedState.cacheManager.clearCache()
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) => name -> directDecimalAggCasts(fn(spark, sf)).toSet
    }
    val offenders = flagged.flatMap { case (name, casts) =>
      val unwaived = casts -- boundedDecimalCastWaivers.getOrElse(name, Set.empty)
      if (unwaived.nonEmpty) Some(s"$name: ${unwaived.mkString("; ")}") else None
    }
    assert(offenders.isEmpty,
      "direct decimal-aggregate->double casts with no boundedness waiver " +
        "(use ExactCast.decToDouble, or document why the group size is " +
        "scale-invariant; SURVEY §4 rule 1):\n" + offenders.mkString("\n"))
    // and the waiver table cannot rot: every waived cast must still exist
    val byKey = flagged.toMap
    val stale = boundedDecimalCastWaivers.toSeq.flatMap { case (name, waived) =>
      val missing = waived -- byKey.getOrElse(name, Set.empty)
      if (missing.nonEmpty) Some(s"$name: ${missing.mkString("; ")}") else None
    }
    assert(stale.isEmpty, "stale waivers (cast no longer present — drop " +
      "the entry):\n" + stale.mkString("\n"))
  }

  test("the decimal-cast lint fires on a planted direct cast") {
    // the parquet columns are physical doubles — the engine constructs
    // decimals for exact accumulation, so the planted shapes do too
    val li = Tables.lineitem(spark, sf)
      .withColumn("price_dec", col("l_extendedprice").cast("decimal(18,2)"))
    // the exact shape that diverged at sf1 in r17: an unbounded decimal
    // roll-up cast directly — inline in the Aggregate...
    val inline = li.groupBy(col("l_returnflag"))
      .agg(sum(col("price_dec")).cast("double").as("bad"))
    assert(directDecimalAggCasts(inline).nonEmpty)
    // ...and one Project above it (the lint must see through the attr)
    val above = li.groupBy(col("l_returnflag"))
      .agg(sum(col("price_dec")).as("s"))
      .select(col("s").cast("double").as("bad"))
    assert(directDecimalAggCasts(above).nonEmpty)
    // while the decToDouble form and a bounded-window cast stay clean
    val good = li.groupBy(col("l_returnflag"))
      .agg(graft.functions.ExactCast.decToDouble(sum(col("price_dec"))).as("ok"))
    assert(directDecimalAggCasts(good).isEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey").orderBy("l_orderkey").rowsBetween(-23, 0)
    val windowed = li.select(sum(col("price_dec")).over(w).cast("double").as("ok"))
    assert(directDecimalAggCasts(windowed).isEmpty)
  }
}
