package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorMath
import graft.operators.{AdaptiveAnn, AnnLsh, Ivf}
import graft.sources.Tables

/** Sampled ANN recall telemetry for the bench: recall@k of the two
  * approximate indexes (hyperplane LSH, learned IVF) against batched
  * brute-force ground truth over `nq` queries spread across the corpus.
  *
  * Emitted with every BENCH json so parameter drift (tables / planes /
  * nprobe / cell count) is visible round over round instead of silently
  * trading recall for speed. Ground truth is ONE distributed pass
  * (broadcast query set + per-query window top-k), so the probe adds
  * seconds, not a per-query scan storm.
  */
object RecallProbe {

  /** Recall@k per index family at four dials plus planted corpora. The
    * points pin the whole recall/cost surface against drift:
    *
    *  - the DEFAULTS (r14: LSH 24 tables × anchor planes, IVF
    *    `wideNprobe` — both constant candidate FRACTIONS) are the probes
    *    the keys bench; recall must now HOLD across scale factors (the
    *    r13 run showed the former constant-budget defaults decaying
    *    0.70 → 0.28 / 0.79 → 0.52 at 10× — the r14 re-anchoring exists
    *    because of these telemetry points);
    *  - the `_wide` points pin the same fraction dial explicitly
    *    (= default since r14; kept so cross-round telemetry stays
    *    comparable);
    *  - the `_budget` points pin the bounded-cost dial (constant rows /
    *    occupancy per probe — the pre-r14 default and AdaptiveAnn's
    *    first pass): expect THEM to fall with corpus growth, by design;
    *  - `_default_cost_x` = default secs / budget secs, the measured
    *    price of recall anchoring (the scaling gate's ≤1.5× check);
    *    `_auto_cost_x` = auto secs / budget secs, the escalation price.
    *
    * On this synthetic corpus the top-10 neighbors sit at the ~0.3
    * cosine BACKGROUND (no neighbor structure), so background recall is
    * bounded by neighbor concentration and cost — a property of the
    * data, not the index. The `_planted` points measure the regime ANN
    * indexes exist for: 10 deterministic near-duplicates (±2% component
    * jitter) of every query appended to the corpus, so each query's
    * true top-10 IS concentrated structure — defaults must score 1.0
    * there, and a drop flags real parameter drift rather than
    * background noise. */
  def run(spark: SparkSession, sfDir: String, nq: Int = 100,
      k: Int = 10): Map[String, Double] = {
    val emb = Tables.embeddings(spark, sfDir).localCheckpoint(true)
    val n = emb.count()
    val stride = math.max(n / nq, 1L)
    val qids = (0L until math.min(nq.toLong, n)).map(_ * stride)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

    // planted near-dups: deterministic per-component jitter in ±2%,
    // fresh ids far above the corpus range
    val dups = k
    val planted = emb.filter(col("vec_id").isin(qids: _*))
      .crossJoin(spark.range(1, dups + 1).toDF("dup_no"))
      .select(
        (lit(1000000000L) + col("vec_id") * lit(64L) + col("dup_no")).as("dup_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") * (lit(1.0) +
            (pmod(col("vec_id") * lit(131L) + col("dup_no") * lit(8191L)
                + i.cast("long") * lit(524287L), lit(1000L)).cast("double")
              / lit(500.0) - lit(1.0)) * lit(0.02)))
            .cast("float")).as("embedding"),
        col("label"))
      .withColumnRenamed("dup_id", "vec_id")
    val augmented = emb.unionByName(planted).localCheckpoint(true)

    def bruteTruth(corpus: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      groupTopK(
        corpus.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            VectorMath.cosineDouble(col("embedding"), col("q_emb")).as("cosine")),
        k)

    val truth = bruteTruth(emb)
    val truthPlanted = bruteTruth(augmented)

    // dd_embedding dial telemetry (r16): planted-pair recall of the
    // near-dup TOP-M key itself, uncapped dial vs the density-capped
    // dial (Dedup.DefaultDensityCap — dd_embedding's production
    // operating point since r17). Each query's 10
    // planted near-dups are its true top-10 at cosine ≈ 1, so a capped
    // dial that drops the WRONG buckets (the small, structure-bearing
    // ones) reads directly as lost recall here; the scaling gate holds
    // the capped point at ≥ 0.95.
    val plantedPairs: Map[Long, Set[Long]] = qids.map(q =>
      q -> (1 to dups).map(j => 1000000000L + q * 64L + j.toLong).toSet).toMap
    def nearDupPlantedRecall(cap: Int): Double = recallOf(collectHits(
      graft.operators.Dedup.embeddingNearDupTopM(augmented, densityCap = cap)
        .filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("q_id"), col("neighbor_id").as("vec_id"))),
      plantedPairs)

    val cells = math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = Ivf.kmeansCentroids(emb, cells, 8, inputMaterialized = true)

    // the cost ratios are the scaling gate's evidence, so they must
    // compare steady states fairly: timing each dial in its own block
    // conflates dial cost with JIT warm-up and the sandbox's ±25%
    // co-tenant drift (at sf0.1 the default and budget dials are
    // IDENTICAL probes, yet block-ordered single runs measured a 1.7×
    // "ratio" from ordering alone). One full untimed warm-up round,
    // then per-dial minima over INTERLEAVED rounds — drift hits every
    // dial in each round equally, so the minima are comparable.
    // escalated-query share per auto probe (thread-local, captured right
    // after each call): the cost dial's other half — `_auto_cost_x`
    // bounds the price, `_auto_escalated_frac` pins WHO pays it — an
    // escalated-query FRACTION, 0.0..1.0, NOT a recall (r19 rename: the
    // old `_auto_escalated` name sat beside true recalls where a planted
    // 0.0 — the ideal — read as catastrophic) (background
    // corpus: everything escalates by design; planted corpus: nothing
    // should). Both gate in tools/scaling.py (r15).
    val escFrac = scala.collection.mutable.Map[String, Double]()
    val probes: Seq[() => Map[Long, Set[Long]]] = Seq(
      () => collectHits(AnnLsh.topKBatch(emb, qids, k)),
      () => collectHits(Ivf.topKBatch(emb, cents, qids, k)),
      () => collectHits(AnnLsh.topKBatch(emb, qids, k,
        planes = AnnLsh.autoPlanes(n))),
      () => collectHits(Ivf.topKBatch(emb, cents, qids, k,
        nprobe = Ivf.budgetNprobe(cells))),
      // the concentration-escalation dial (AdaptiveAnn): on this
      // background corpus every query escalates, so its recall must
      // track the wide point and its cost ratio (vs the budget probe)
      // is the measured price of the recall floor; on the planted
      // corpus nothing escalates, so recall and cost track the budget
      () => {
        val h = collectHits(AdaptiveAnn.lshTopKBatchAuto(emb, qids, k))
        escFrac("lsh") = AdaptiveAnn.lastEscalatedFraction; h
      },
      () => {
        val h = collectHits(AdaptiveAnn.ivfTopKBatchAuto(emb, cents, qids, k))
        escFrac("ivf") = AdaptiveAnn.lastEscalatedFraction; h
      })
    val results = probes.map(f => f())
    val secs = Array.fill(probes.size)(Double.MaxValue)
    for (_ <- 1 to 2; i <- probes.indices) {
      val t0 = System.nanoTime()
      probes(i)()
      secs(i) = math.min(secs(i), (System.nanoTime() - t0) / 1e9)
    }
    val Seq(lshDefault, ivfDefault, lshBudget, ivfBudget, lshAuto, ivfAuto) =
      results
    val Seq(lshDefaultSecs, ivfDefaultSecs, lshBudgetSecs, ivfBudgetSecs,
      lshAutoSecs, ivfAutoSecs) = secs.toSeq

    Map(
      "dd_embedding_planted" -> nearDupPlantedRecall(0),
      "dd_embedding_capped_planted" ->
        nearDupPlantedRecall(graft.operators.Dedup.DefaultDensityCap),
      "sim_ann_lsh" -> recallOf(lshDefault, truth),
      "sim_ann_lsh_wide" ->
        recallOf(collectHits(
          AnnLsh.topKBatch(emb, qids, k, planes = 5)), truth),
      // default operating points over the planted corpus (centroids stay
      // the pre-append ones — the appendToIndex serving shape)
      "sim_ann_lsh_planted" ->
        recallOf(collectHits(AnnLsh.topKBatch(augmented, qids, k)), truthPlanted),
      "sim_ann_lsh_auto" -> recallOf(lshAuto, truth),
      "sim_ann_lsh_auto_escalated_frac" -> escFrac.getOrElse("lsh", -1.0),
      "sim_ann_lsh_auto_planted" -> {
        val r = recallOf(collectHits(
          AdaptiveAnn.lshTopKBatchAuto(augmented, qids, k)), truthPlanted)
        escFrac("lsh_planted") = AdaptiveAnn.lastEscalatedFraction; r
      },
      "sim_ann_lsh_auto_escalated_frac_planted" ->
        escFrac.getOrElse("lsh_planted", -1.0),
      "sim_ann_lsh_budget" -> recallOf(lshBudget, truth),
      "sim_ann_lsh_default_cost_x" ->
        (if (lshBudgetSecs > 0) lshDefaultSecs / lshBudgetSecs else -1.0),
      "sim_ann_lsh_auto_cost_x" ->
        (if (lshBudgetSecs > 0) lshAutoSecs / lshBudgetSecs else -1.0),
      "sim_ivf" -> recallOf(ivfDefault, truth),
      "sim_ivf_wide" ->
        recallOf(collectHits(
          Ivf.topKBatch(emb, cents, qids, k, nprobe = Ivf.wideNprobe(cells))), truth),
      "sim_ivf_planted" ->
        recallOf(collectHits(Ivf.topKBatch(augmented, cents, qids, k)), truthPlanted),
      "sim_ivf_auto" -> recallOf(ivfAuto, truth),
      "sim_ivf_auto_escalated_frac" -> escFrac.getOrElse("ivf", -1.0),
      "sim_ivf_auto_planted" -> {
        val r = recallOf(collectHits(
          AdaptiveAnn.ivfTopKBatchAuto(augmented, cents, qids, k)), truthPlanted)
        escFrac("ivf_planted") = AdaptiveAnn.lastEscalatedFraction; r
      },
      "sim_ivf_auto_escalated_frac_planted" ->
        escFrac.getOrElse("ivf_planted", -1.0),
      "sim_ivf_budget" -> recallOf(ivfBudget, truth),
      "sim_ivf_default_cost_x" ->
        (if (ivfBudgetSecs > 0) ivfDefaultSecs / ivfBudgetSecs else -1.0),
      "sim_ivf_auto_cost_x" ->
        (if (ivfBudgetSecs > 0) ivfAutoSecs / ivfBudgetSecs else -1.0))
  }

  private def groupTopK(scored: org.apache.spark.sql.DataFrame,
      k: Int): Map[Long, Set[Long]] = {
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    collectHits(scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k))
  }

  private def collectHits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  private def recallOf(got: Map[Long, Set[Long]],
      truth: Map[Long, Set[Long]]): Double = {
    val per = truth.map { case (q, t) =>
      if (t.isEmpty) 1.0
      else got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }
}
