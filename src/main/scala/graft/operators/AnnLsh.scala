package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorMath
import graft.sources.Tables

/** Approximate nearest neighbour via random-hyperplane LSH
  * (SURVEY.md §2 sim_ann_lsh) — the 100-TB route where brute force
  * (Similarity.bruteForceTopK) stops being an option.
  *
  * Bucket ids come from the SAME native codegen kernel as the embedding
  * dedup path (org.apache.spark.sql.graft.EmbeddingLshBuckets): one
  * tables×planes×dim primitive loop per row instead of the interpreted
  * `aggregate`/`zip_with` HOF stack (~50 array traversals/row) this
  * operator used before. Planes are integer-LCG-derived from the table
  * id, so every executor materializes them from the expression alone —
  * nothing is broadcast or collected — and `tableOffset = 64` keeps this
  * index's plane family disjoint from dd_embedding's tables 0-7. The
  * kernel follows the vector's own dimension, so any embedding width
  * works unchanged. Each table hashes a vector to a small bucket id (one
  * sign bit per plane); a probe only ever scans its own buckets, so
  * lookup cost is (corpus / 2^planes) · tables instead of corpus.
  *
  * Default operating point (r14): 24 tables × ANCHOR planes — the plane
  * count that pins the candidate FRACTION at tables/2⁵ = 0.75 of the
  * corpus, independent of corpus size, so background recall holds at
  * the RecallGrid-measured ~0.78 at every scale factor (the r13 sf1 run
  * showed the former constant-occupancy default silently decaying
  * 0.79 → 0.52 across one 10×). The price is probe cost that grows
  * linearly with the corpus (measured 7.6× probe cost at 10× data in
  * the round-6 scaling study — the known cost of a scale-free
  * fraction); bounded-cost callers opt into the BUDGET dial
  * (`planes = autoPlanes(n)`, constant expected candidates per probe)
  * or the AdaptiveAnn escalation entry points, which probe the budget
  * dial first and pay the wide price only where the answer measured as
  * background. At the tuning scale (sf0.1, n=2000) both dials resolve
  * to the same RecallGrid-picked 24×5 point (≥0.75 background
  * recall@10, planted 1.0), and oracle corpora resolve there too, so
  * the SQL twins stay bit-exact. Both dials stay honest via the
  * per-bench RecallProbe telemetry.
  */
object AnnLsh {

  /** Table-id offset separating this index's plane family from the
    * dedup path's (tables 0..7 are dd_embedding's, oracle-twinned). */
  private val TableOffset = 64

  /** Bucket occupancy the BUDGET plane count targets: n / 2^planes lands
    * in [TargetBucketRows, 2·TargetBucketRows). 64 anchors the budget
    * geometry to the RecallGrid operating point (2000 / 2⁵ = 62.5). */
  private[graft] val TargetBucketRows = 64.0

  /** Corpus-scaled BUDGET plane count: one more plane per corpus
    * doubling, never below the 5-plane tuning anchor — constant expected
    * candidates per probe (tables × TargetBucketRows rows) at any corpus
    * size, so probe cost is bounded while background recall decays as
    * the corpus grows (measured 0.79 → 0.52 per 10× rows; planted
    * structure unaffected). This was the `planes = 0` default through
    * r13; since r14 the default is [[anchorPlanes]] (recall-anchored)
    * and this is the explicit bounded-cost opt-in — also what
    * AdaptiveAnn's cheap first pass probes. */
  private[graft] def autoPlanes(n: Long): Int =
    math.max(5, (math.log(math.max(1L, n).toDouble / TargetBucketRows)
      / math.log(2.0)).floor.toInt)

  /** Candidate fraction the DEFAULT plane count anchors: expected
    * per-query candidates ≈ (tables / 2^planes)·n — at the r14 default
    * geometry (24 tables × 5 planes) a 0.75 corpus fraction, the
    * RecallGrid operating point whose background recall (~0.78) holds
    * at every measured scale factor BECAUSE the fraction is scale-free.
    * The former constant-occupancy default kept cost flat instead and
    * silently decayed 0.79 → 0.52 across one 10×. */
  private[graft] val AnchorCandidateFraction = 0.75

  /** The r14 `planes = 0` default: the plane count that pins the
    * candidate FRACTION at [[AnchorCandidateFraction]] for this table
    * count — ⌊log₂(tables / 0.75)⌋ (= 5 at the 24-table default),
    * independent of corpus size, so no count() is needed and recall is
    * comparable across scale factors. Probe cost grows with the corpus
    * (the price of anchored background recall); bounded-cost callers
    * pass `planes = autoPlanes(n)` or use the AdaptiveAnn entry points. */
  private[graft] def anchorPlanes(tables: Int): Int =
    math.max(1, (math.log(math.max(2, tables) / AnchorCandidateFraction)
      / math.log(2.0)).floor.toInt)

  /** `planes = 0` (the default) resolves via [[anchorPlanes]] — the
    * recall-anchored constant-fraction geometry (r14; no corpus count
    * needed). The advisory notes the linear cost growth past the scale
    * where it stops being negligible; explicit plane counts never warn. */
  private def resolvePlanes(embeddings: DataFrame, planes: Int,
      tables: Int): Int =
    if (planes > 0) planes
    else {
      // non-silent cost growth. The advisory sizes the corpus from plan
      // STATISTICS, not a count(): an action here re-executed an
      // un-cached upstream pipeline's whole lineage once per index/topK
      // call just to decide whether to LOG (r15 advisor finding). The
      // bytes/52 row estimate (the narrowest plausible embedding row)
      // can only OVER-estimate rows, so the advisory may fire a little
      // early but never goes silently quiet on a big corpus; the
      // GEOMETRY itself is corpus-free (anchorPlanes).
      val estRows = (embeddings.queryExecution.optimizedPlan.stats
        .sizeInBytes / 52).min(BigInt(Long.MaxValue)).toLong
      AdaptiveAnn.adviseDefaultDial("AnnLsh", estRows)
      anchorPlanes(tables)
    }

  /** Corpus with one bucket id per hash table (single kernel pass).
    * `planes = 0` takes the recall-anchored default ([[anchorPlanes]]);
    * pass `autoPlanes(n)` for the bounded-cost geometry. */
  def index(embeddings: DataFrame, tables: Int = 24, planes: Int = 0): DataFrame =
    embeddings.withColumn("buckets",
      org.apache.spark.sql.graft.ColumnBridge
        .embeddingLshBuckets(col("embedding"), tables,
          resolvePlanes(embeddings, planes, tables), TableOffset))

  /** Batched probe: top-k for EVERY id in `queryIds` in one pass — the
    * ANN-service shape (see Ivf.topKBatch). The corpus side explodes its
    * table buckets and EQUI-JOINS the (broadcast, exploded) query
    * buckets on (table, bucket), so per-probe work tracks bucket
    * collisions — (corpus/2^planes)·tables per query — instead of the
    * corpus×queries nested-loop a broadcast crossJoin + array filter
    * would evaluate. A (q, vec) pair colliding in several tables is
    * kept only at the first agreeing one (the same first-agree dedup as
    * the LSH dedup paths — no distinct over the candidate stream);
    * per-query top-k is one partitioned window with [[topK]]'s
    * (cosine desc, vec_id) tie-break, so batch output is row-identical
    * to per-query probes (specced). Query ids must be distinct; ids
    * absent from the corpus yield no rows, exactly like [[topK]]. */
  def topKBatch(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      tables: Int = 24, planes: Int = 0): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must not be empty")
    require(queryIds.distinct.size == queryIds.size,
      "queryIds must be distinct — duplicate ids would collapse into one group")
    import org.apache.spark.sql.expressions.Window
    val indexed = index(embeddings, tables, resolvePlanes(embeddings, planes, tables))
    // ONE collect materializes the (bounded, batch-sized) query rows
    // driver-side: the id-presence fail-fast (the Ivf.topKBatch
    // contract — a silently-missing q_id group misaligns any consumer
    // pairing answers with queries) reads the local rows, and the
    // broadcast build below reads the resulting LocalRelation with no
    // scan job. The pre-r20 shape paid an eager checkpoint job plus a
    // count job per probe for the same bounded data (r20 optimization
    // round).
    val qDf = indexed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("buckets").as("q_buckets"))
    val qRows = qDf.collect()
    if (qRows.length != queryIds.size) {
      val missing = queryIds.toSet -- qRows.map(_.getLong(0)).toSet
      throw new IllegalArgumentException(
        s"topKBatch: query ids not present in the corpus: " +
          s"${missing.toSeq.sorted.take(10).mkString(", ")}" +
          (if (missing.size > 10) s" (+${missing.size - 10} more)" else ""))
    }
    val queries = indexed.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qDf.schema)
    val qb = queries.select(col("q_id"), col("q_emb"), col("q_buckets"),
      posexplode(col("q_buckets")).as(Seq("t", "bucket")))
    val cb = indexed.select(col("vec_id"), col("label"), col("embedding"),
      col("buckets"), posexplode(col("buckets")).as(Seq("t", "bucket")))
    // first-agree over the carried bucket arrays: keep a colliding pair
    // only at its FIRST agreeing table. Each array is referenced exactly
    // ONCE (zip_with + array_position): the corpus-side array is a
    // projected kernel expression, and a per-element element_at chain
    // would re-inline — and re-evaluate — that kernel once per reference
    // in this codegen pipeline (the same measured pathology as topK's
    // old candidate filter).
    val firstAgree = array_position(
      zip_with(col("buckets"), col("q_buckets"), (a, b) => a === b),
      lit(true)) === col("t").cast("long") + lit(1L)
    val hits = cb.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id") && firstAgree)
      .select(col("q_id"), col("vec_id"), col("label"),
        VectorMath.cosineDouble(col("embedding"), col("q_emb")).as("cosine"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "label", "cosine")
      .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
  }

  /** Top-k ANN: candidates = rows sharing any table bucket with the query,
    * exactly re-ranked by cosine. */
  def topK(embeddings: DataFrame, queryId: Long, k: Int,
      tables: Int = 24, planes: Int = 0): DataFrame = {
    val indexed = index(embeddings, tables, resolvePlanes(embeddings, planes, tables))
    val q = indexed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("buckets").as("q_buckets"))
    // candidate: any table agrees on the bucket. The predicate references
    // `buckets` exactly ONCE (zip_with + exists): in this cross-join
    // pipeline the projected column is not materialized — codegen inlines
    // the producing expression into each reference — so a 24-way
    // element_at disjunction evaluates the tables×planes×dim bucket
    // KERNEL 24 times per corpus row (measured 18 s vs 0.5 s at sf1 for
    // this exact plan). The 24-element interpreted lambda is noise next
    // to one kernel evaluation.
    val anyAgree = exists(
      zip_with(col("buckets"), col("q_buckets"), (a, b) => a === b),
      x => x)
    indexed
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(anyAgree)
      .select(col("vec_id"), col("label"),
        VectorMath.cosineDouble(col("embedding"), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // --------------------------------------------------------------------
  // Persisted, partition-pruned index layout.
  //
  // topK computes buckets at query time and filters a FULL corpus scan.
  // The layout below writes the corpus exploded to one row per (table,
  // bucket) membership, `partitionBy("t", "bucket")` — so a probe's
  // bucket predicate is a partition filter and the scan opens only the
  // `tables` matching bucket directories: corpus·(tables/2^planes) read
  // at the source. Storage costs `tables`× the corpus (each row appears
  // once per hash table) — the classic inverted-index trade. Raise
  // `planes` as the corpus grows to keep directory sizes bounded.
  // --------------------------------------------------------------------

  /** An opened on-disk LSH index: the (t, bucket)-partitioned exploded
    * corpus plus the plane-family parameters it was built with. */
  final case class LshIndex(corpus: DataFrame, tables: Int, planes: Int)

  /** Write the LSH index for `embeddings` under `path`. One kernel pass
    * assigns buckets; the explode fans each row to its `tables`
    * directories. The full bucket array rides along each row so probes
    * can first-agree-dedup without a join back to the un-exploded corpus. */
  def saveIndex(embeddings: DataFrame, path: String, tables: Int = 24,
      planes: Int = 0): Unit = {
    val spark = embeddings.sparkSession
    // the resolved count is FROZEN into params.json: appends and probes
    // against this index keep the build-time geometry (rebuild when the
    // corpus outgrows it — see docs/indexes.md)
    val p = resolvePlanes(embeddings, planes, tables)
    index(embeddings, tables, p)
      .select(col("vec_id"), col("label"), col("embedding"), col("buckets"),
        posexplode(col("buckets")).as(Seq("t", "bucket")))
      .write.mode("overwrite").partitionBy("t", "bucket")
      .parquet(s"$path/corpus")
    IndexMeta.writeParams(spark, path,
      Map("tables" -> tables, "planes" -> p))
  }

  /** Open an index written by [[saveIndex]]. The plane-family parameters
    * come from the versioned `params.json` sidecar; a pre-v1 index
    * (Java-serialized `params.bin`) is rejected with a rebuild message. */
  def openIndex(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
    val ps = IndexMeta.readParams(spark, path, Seq("tables", "planes"))
    LshIndex(Tables.parquet(spark, s"$path/corpus"), ps("tables"), ps("planes"))
  }

  /** The query vector's per-table bucket ids, computed by the SAME kernel
    * as the stored index (one-row evaluation — bit-identical plane family
    * by construction, no reimplementation to drift). */
  private def bucketsOf(spark: org.apache.spark.sql.SparkSession,
      qVec: Array[Float], tables: Int, planes: Int): Array[Long] =
    spark.range(1).select(
        org.apache.spark.sql.graft.ColumnBridge
          .embeddingLshBuckets(typedlit(qVec), tables, planes, TableOffset).as("b"))
      .head().getSeq[Long](0).toArray

  /** Probe a persisted index with a query VECTOR. The (t, bucket)
    * disjunction references only partition columns, so the scan prunes to
    * the query's `tables` bucket directories (PlanQualitySpec pins
    * PartitionFilters); the carried bucket arrays first-agree-dedup
    * candidates colliding in several tables. Row-identical to [[topK]]
    * over the same corpus/parameters when `excludeId` carries the query's
    * own id. */
  def topKVec(index: LshIndex, qVec: Array[Float], k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val spark = index.corpus.sparkSession
    val qb = bucketsOf(spark, qVec, index.tables, index.planes)
    val hit = (0 until index.tables).map(t =>
      col("t") === t && col("bucket") === qb(t)).reduce(_ || _)
    val noEarlierAgree = not((0 until index.tables).map(b =>
      col("t") > b && element_at(col("buckets"), b + 1) === qb(b))
      .reduce(_ || _))
    val pruned = index.corpus.filter(hit && noEarlierAgree)
    val base = excludeId.fold(pruned)(id => pruned.filter(col("vec_id") =!= id))
    base.select(col("vec_id"), col("label"),
        VectorMath.cosineDouble(col("embedding"), typedlit(qVec)).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Probe a persisted index by corpus id: a point read fetches the query
    * vector (any of its table rows carries it — table 0's copy, so the
    * fetch partition-prunes to the t=0 directories instead of scanning
    * every table's replica), then the pruned probe. */
  def topKIndexed(index: LshIndex, queryId: Long, k: Int): DataFrame = {
    val rows = index.corpus
      .filter(col("t") === 0 && col("vec_id") === queryId)
      .select(col("embedding")).limit(1).collect()
    require(rows.nonEmpty, s"query id $queryId not present in the index corpus")
    topKVec(index, rows.head.getSeq[Float](0).toArray, k,
      excludeId = Some(queryId))
  }
}
