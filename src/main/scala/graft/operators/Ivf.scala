package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorMath
import graft.sources.Tables

/** IVF approximate nearest neighbour (SURVEY.md sim_* scale path,
  * complementing the random-hyperplane AnnLsh): the corpus is coarsely
  * partitioned into k-means cells, and a probe searches only the `nprobe`
  * cells whose centroids are closest to the query — the classic inverted-
  * file index (Sivic/Zisserman's Video Google; FAISS's IVF family).
  *
  * Cells are LEARNED, not taken from a pre-existing label: Lloyd's
  * iterations run as DataFrame aggregates (one assignment scan + one
  * per-dimension mean per round — the same one-job-per-round shape as
  * ConnectedComponents), with a deterministic hash-seeded init, so the
  * index needs no supervision and cell count scales with the corpus
  * (default ∝ √n, keeping both cell size and centroid-probe cost at
  * O(√n) as the corpus grows — the balance real IVF systems pick).
  *
  * Scale: cell assignment is the native NearestCentroid codegen kernel
  * (one k×dim primitive loop per row, no n×k join); the centroid state
  * collected per round is k×dim floats — O(√n·dim), driver-safe.
  * Probing broadcasts the (tiny) ranked-cell list, so the search scan
  * prunes to nprobe cells and lookup cost is corpus·(nprobe/k).
  */
object Ivf {

  private val sumDec = DecimalType(28, 7)

  /** Per-probe ROW budget of the BUDGET dial ([[budgetNprobe]]): the
    * probe reads ⌈DefaultProbeRows / cellSize⌉ cells, so its cost is a
    * constant number of corpus rows at ANY corpus size — under the
    * √n-cells convention (cellSize ≈ cells), nprobe ≈ ⌈576 / cells⌉
    * with no count() needed. 576 anchors the budget to the RecallGrid
    * operating point (13 cells × ~44 rows/cell at sf0.1).
    *
    * This was the `nprobe = 0` DEFAULT through r13; the sf1 scaling run
    * showed its honest flaw as a default: background recall decays with
    * corpus growth (measured 0.70 → 0.28 per 10× rows) because a
    * constant row budget covers a shrinking corpus fraction. Since r14
    * the default is [[wideNprobe]] — recall anchored, cost a constant
    * corpus FRACTION — and the bounded-cost point is the explicit
    * opt-in (`nprobe = budgetNprobe(cells)`), which is also what
    * AdaptiveAnn's cheap first pass probes. */
  val DefaultProbeRows: Int = 576

  /** The bounded-cost dial: ⌈[[DefaultProbeRows]] / cells⌉ capped at
    * `cells` — constant rows per probe at ANY corpus size. Right when
    * the workload is known concentrated (near-dup mining, cluster
    * assignment: planted recall is 1.0 at every measured scale) or when
    * per-probe cost must be flat regardless of answer quality;
    * background recall falls as the corpus outgrows the budget. */
  def budgetNprobe(cells: Int): Int =
    math.max(1, math.min(cells,
      math.ceil(DefaultProbeRows.toDouble / math.max(1, cells)).toInt))

  /** The wide (high-background-recall) dial: ⌈0.27·cells⌉ — a constant
    * candidate FRACTION, so recall holds at the RecallGrid-measured
    * ≥0.7 at any corpus size while probe cost grows linearly with it.
    * Since r14 this IS the `nprobe = 0` default (see [[resolveNprobe]]);
    * the telemetry `_wide` points pin it so cross-sf comparisons stay
    * meaningful. 0.27 and the 576-row budget anchor the SAME sf0.1
    * operating point (13 of 45 cells), so the default's sf0.1 behavior
    * is unchanged by the r14 re-anchoring. */
  val WideProbeFraction: Double = 0.27

  /** ⌈[[WideProbeFraction]]·cells⌉, the fraction-based wide probe. */
  def wideNprobe(cells: Int): Int =
    math.max(1, math.ceil(cells * WideProbeFraction).toInt)

  /** `nprobe = 0` (the default) resolves to [[wideNprobe]] — the
    * RECALL-ANCHORED dial (r14): a constant candidate fraction holds the
    * measured ~0.7 background recall at any corpus size (sf0.1 and sf1
    * read the same operating point), where the former constant-row
    * default silently decayed 0.70 → 0.28 across one 10×. The price is
    * probe cost that grows with the corpus — linear, cell-pruned at the
    * scan, and warned about past the advisory scale so it is never
    * silent; bounded-cost callers opt in with `nprobe =
    * budgetNprobe(cells)` or the AdaptiveAnn escalation entry points.
    * Explicit positive values pass through. */
  private[graft] def resolveNprobe(nprobe: Int, cells: Int): Int =
    if (nprobe > 0) nprobe
    else {
      // non-silent cost growth: under the √n-cells convention the corpus
      // is ≈ cells², so the recall-anchored default warns past the scale
      // where its constant-fraction probe cost stops being negligible
      AdaptiveAnn.adviseDefaultDial("Ivf", cells.toLong * cells)
      wideNprobe(cells)
    }

  /** Above this many centroid floats (k×dim), assignment switches from the
    * expression-embedded array to the torrent-broadcast kernel: a literal
    * table this size would be re-serialized into every task binary and
    * every plan copy, while a broadcast ships once per executor. 2²² floats
    * = 16 MiB — the same order as Spark's own broadcast-join threshold. */
  private[graft] val BroadcastCentroidFloats: Long = 1L << 22

  /** Cell-assignment column for a fixed centroid set (narrow map, whole-
    * stage codegen). Small centroid tables ride inside the expression;
    * large ones (k×dim > [[BroadcastCentroidFloats]]) automatically take
    * the broadcast kernel — same assignments either way (specced). */
  def withCell(embeddings: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val k = centroids.length
    val dim = if (k > 0) centroids(0).length else 0
    if (k.toLong * dim > BroadcastCentroidFloats) withCellBroadcast(embeddings, centroids)
    else embeddings.withColumn("cell",
      org.apache.spark.sql.graft.ColumnBridge
        .nearestCentroid(col("embedding"), centroids))
  }

  /** Forced-broadcast assignment path (the large-k kernel; see
    * [[BroadcastCentroidFloats]]). Public so tests and huge-k callers can
    * exercise it below the automatic threshold. */
  def withCellBroadcast(embeddings: DataFrame,
      centroids: Array[Array[Float]]): DataFrame =
    embeddings.withColumn("cell",
      org.apache.spark.sql.graft.ColumnBridge.nearestCentroidBc(
        col("embedding"), centroids, embeddings.sparkSession.sparkContext))

  /** Quantize one float component the way `cast(v AS DECIMAL(28,7))`
    * does (via the double's shortest string form, then scale 7), so the
    * aggregate below reproduces the SQL decimal semantics exactly. Scale
    * 7 is the engine-PROVEN quantization family (DecimalDot/dotSql): the
    * dd_embedding oracle already demonstrates DuckDB's scale-7 decimal
    * cast agrees with this exact path on every corpus component, which is
    * what lets the sim_ivf oracle rebuild these k-means rounds in SQL. */
  private def quantize(v: Float): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(v.toDouble))
      .setScale(7, java.math.RoundingMode.HALF_UP)

  /** Lloyd's k-means over the embedding corpus: `iters` fixed rounds,
    * each ONE treeAggregate job — per-partition partial (sum, count)
    * state per (cell, dimension), merged on the driver: the MLlib
    * dense-k-means shape. No shuffle and no n×dim explode per round, so
    * a 100-TB corpus pays exactly `iters` scans of the cached vectors.
    * Init is deterministic AND engine-neutral: the k vectors with the
    * smallest Lehmer key ((id·48271) mod 2³¹−1) of their id. Per-dimension sums accumulate in exact decimal (addition
    * is associative), so the learned centroids are bit-stable across
    * partitionings and runs. Cells that lose all members keep their
    * previous centroid.
    *
    * The dense aggregate state is k×dim decimals per partition; above
    * ~4M entries (huge-k regimes where the state itself needs
    * partitioning) the round falls back to the shuffle form: explode to
    * (cell, dim, v) and mean by key. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int = 8,
      inputMaterialized: Boolean = false): Array[Array[Float]] = {
    require(k > 0, s"cell count must be positive (got $k)")
    // materialize the (id, vector) corpus once: every Lloyd's round scans
    // it for assignment+means, and without this each round re-runs the
    // full source plan (parquet scan or upstream transforms) — the
    // standard persist every iterative ML pass on Spark carries. Callers
    // that already checkpointed their frame pass inputMaterialized=true
    // so the corpus isn't pinned in executor storage twice.
    val projected = embeddings.select(col("vec_id"), col("embedding"))
    val corpus =
      if (inputMaterialized) projected else projected.localCheckpoint(true)
    // engine-neutral pseudo-random init: the Lehmer/MINSTD key already
    // used by Sampling — `hash()` (murmur3) would make the learned
    // centroids irreproducible outside Spark, and the whole point of a
    // deterministic init is that the sim_ivf oracle can replay it in SQL
    var centroids: Array[Array[Float]] = corpus
      .orderBy(pmod(col("vec_id") * lit(48271L), lit(2147483647L)), col("vec_id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(centroids.nonEmpty, "k-means init found no vectors")
    val dim = centroids.head.length
    val dense = k.toLong * dim <= 4_000_000L
    for (_ <- 1 to iters) {
      val assigned = withCell(corpus, centroids).select(col("cell"), col("embedding"))
      centroids =
        if (dense) denseRound(assigned, k, dim, centroids)
        else shuffleRound(assigned, k, dim, centroids)
    }
    centroids
  }

  /** One Lloyd's mean round as a single treeAggregate job (dense per-
    * partition decimal state). Bit-identical to [[shuffleRound]]
    * (specced): both paths accumulate the same scale-7 decimal sums
    * (exact, order-independent) and run the SAME driver-side
    * `divide(count, 7, HALF_UP)` on them. */
  private[graft] def denseRound(assigned: DataFrame, k: Int, dim: Int,
      centroids: Array[Array[Float]]): Array[Array[Float]] = {
    val next = centroids.map(_.clone())
    val zero = (Array.fill(k, dim)(java.math.BigDecimal.ZERO), new Array[Long](k))
    val (sums, counts) = assigned.rdd.treeAggregate(zero)(
      seqOp = { case ((s, c), row) =>
        val cell = row.getInt(0)
        val v = row.getSeq[Float](1)
        var d = 0
        while (d < dim) { s(cell)(d) = s(cell)(d).add(quantize(v(d))); d += 1 }
        c(cell) += 1
        (s, c)
      },
      combOp = { case ((s1, c1), (s2, c2)) =>
        var i = 0
        while (i < k) {
          var d = 0
          while (d < dim) { s1(i)(d) = s1(i)(d).add(s2(i)(d)); d += 1 }
          c1(i) += c2(i)
          i += 1
        }
        (s1, c1)
      })
    var i = 0
    while (i < k) {
      if (counts(i) > 0) {
        var d = 0
        while (d < dim) {
          next(i)(d) = sums(i)(d)
            .divide(java.math.BigDecimal.valueOf(counts(i)), 7,
              java.math.RoundingMode.HALF_UP)
            .doubleValue().toFloat
          d += 1
        }
      }
      i += 1
    }
    next
  }

  /** One Lloyd's mean round in the shuffle form (explode to
    * (cell, dim, v), mean by key) — the huge-k fallback where the dense
    * aggregate state itself needs partitioning. Per-dimension means stay
    * DISTRIBUTED through a second (cell-keyed, k-row) aggregation that
    * assembles each centroid into one compact array, so the driver
    * receives k rows of dim doubles — never the k×dim individual mean
    * rows whose per-Row overhead was the old ceiling. The remaining
    * driver state is the k×dim float array itself, which is the API
    * contract (callers hold/save it) and ships to executors via the
    * broadcast kernel above [[BroadcastCentroidFloats]]. */
  private[graft] def shuffleRound(assigned: DataFrame, k: Int, dim: Int,
      centroids: Array[Array[Float]]): Array[Array[Float]] = {
    val next = centroids.map(_.clone())
    // distributed exact (sum, count) per (cell, dim) — Spark's
    // float→DECIMAL(28,7) cast is the same shortest-string HALF_UP path
    // as [[quantize]], so these sums are bit-identical to denseRound's —
    // assembled into one compact row per cell; the DIVISION happens on
    // the driver with the identical BigDecimal call both paths share
    // (mirroring a Catalyst decimal-quotient type here would be a second
    // rounding contract to keep in sync for no distribution win: the
    // driver already holds k×dim state by API contract)
    val cellRows = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("v").cast(sumDec)).as("s"), count(lit(1)).as("c"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("pos"), col("s"), col("c")))).as("pm"))
      .collect()
    cellRows.foreach { r =>
      val cell = r.getInt(0)
      val pm = r.getSeq[org.apache.spark.sql.Row](1)
      pm.foreach { e =>
        val d = e.getInt(0)
        next(cell)(d) = e.getDecimal(1)
          .divide(java.math.BigDecimal.valueOf(e.getLong(2)), 7,
            java.math.RoundingMode.HALF_UP)
          .doubleValue().toFloat
      }
    }
    next
  }

  /** Persist a learned centroid set through the Hadoop filesystem API
    * (local disk / HDFS / object stores) so an index is trained once and
    * probed by many queries/jobs — re-learning k-means per lookup would
    * dominate probe cost at any scale. */
  def save(centroids: Array[Array[Float]], path: String, spark: SparkSession): Unit =
    IndexMeta.writeCentroids(spark, path, centroids)

  /** Load a centroid set persisted by [[save]]; probing with the loaded
    * index is bit-identical to probing with the original (specced —
    * float values round-trip exactly through the JSON form). A pre-v1
    * Java-serialized centroid file is rejected with a rebuild message. */
  def load(path: String, spark: SparkSession): Array[Array[Float]] =
    IndexMeta.readCentroids(path = path, spark = spark)

  /** Top-k ANN: learn k-means cells, then probe — the one-shot
    * convenience form; batch/service callers should `kmeansCentroids`
    * (or [[load]]) once and [[topKWith]] per query. `cells` defaults to
    * ⌈√n⌉. */
  def topK(embeddings: DataFrame, queryId: Long, k: Int, nprobe: Int = 0,
      cells: Int = 0, iters: Int = 8): DataFrame = {
    // one materialization serves the size probe, the k-means rounds and
    // the final cell-pruned search
    val corpus = embeddings.localCheckpoint(true)
    val nCells =
      if (cells > 0) cells
      else math.max(math.max(nprobe, 2),
        math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
    topKWith(corpus,
      kmeansCentroids(corpus, nCells, iters, inputMaterialized = true),
      queryId, k, resolveNprobe(nprobe, nCells))
  }

  /** Batched probe: top-k ANN for EVERY id in `queryIds` in ONE
    * distributed pass — the shape an ANN service runs, where per-query
    * jobs don't amortize over thousands of lookups. Cell ranking for all
    * queries happens in one broadcast crossJoin (queries × centroids,
    * both small), the corpus is scanned with rows fanned out only
    * to the queries probing their cell, and per-query top-k runs as one
    * partitioned window with the same (cosine desc, vec_id) tie-break as
    * [[topKWith]] — so batch results are row-identical to per-query
    * probes (specced). Two corpus scans per action: one to extract the
    * query vectors (materialized, so the two broadcasts don't each
    * re-run the scan) and one, cell-pruned, for the hits. */
  def topKBatch(embeddings: DataFrame, centroids: Array[Array[Float]],
      queryIds: Seq[Long], k: Int, nprobe: Int = 0): DataFrame =
    topKBatchUnsorted(embeddings, centroids, queryIds, k, nprobe)
      .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))

  /** [[topKBatch]] before its presentation sort — for consumers that
    * re-sort or collect the (batch-bounded) result themselves
    * (AdaptiveAnn's two-phase driver sorts the final union; sorting each
    * phase first paid a wasted range exchange per probe, r20). */
  private[graft] def topKBatchUnsorted(embeddings: DataFrame,
      centroids: Array[Array[Float]], queryIds: Seq[Long], k: Int,
      nprobe: Int = 0): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must not be empty")
    val np = resolveNprobe(nprobe, centroids.length)
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assigned = withCell(embeddings, centroids)
    // ONE collect materializes the (bounded, batch-sized) query vectors
    // driver-side: the id-presence fail-fast (the topKIndexed contract —
    // silently returning no rows for a mistyped id is indistinguishable
    // from "no neighbors") reads the local rows, and both broadcast
    // builds below read the resulting LocalRelation with no scan job at
    // all. The pre-r20 shape paid an eager checkpoint job PLUS a count
    // job per probe for the same bounded data (r20 optimization round;
    // AdaptiveAnn's two-phase driver already collects batch results the
    // same way).
    val qDf = assigned
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val qRows = qDf.collect()
    if (qRows.length != queryIds.distinct.size) {
      val missing = queryIds.distinct.toSet -- qRows.map(_.getLong(0)).toSet
      throw new IllegalArgumentException(
        s"topKBatch: query ids not present in the corpus: " +
          s"${missing.toSeq.sorted.take(10).mkString(", ")}" +
          (if (missing.size > 10) s" (+${missing.size - 10} more)" else ""))
    }
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qDf.schema)
    val centDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
    val cellRank = broadcast(queries).crossJoin(centDf)
      .select(col("q_id"), col("cell"),
        VectorMath.cosineDouble(col("centroid"), col("q_emb")).as("c_cos"))
    val wCells = Window.partitionBy("q_id")
      .orderBy(col("c_cos").desc, col("cell"))
    val probed = cellRank.withColumn("rn", row_number().over(wCells))
      .filter(col("rn") <= np)
      .select("q_id", "cell")
    val hits = assigned
      .join(broadcast(probed), "cell")
      .join(broadcast(queries), "q_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        VectorMath.cosineDouble(col("embedding"), col("q_emb")).as("cosine"))
    val wTop = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    hits.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "label", "cosine")
  }

  /** Probe an existing index: rank cells by centroid cosine to the
    * query, search the best `nprobe` cells exactly. */
  def topKWith(embeddings: DataFrame, centroids: Array[Array[Float]],
      queryId: Long, k: Int, nprobe: Int = 0): DataFrame = {
    val np = resolveNprobe(nprobe, centroids.length)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assigned = withCell(embeddings, centroids)
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val centDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
    val cellRank = centDf
      .crossJoin(broadcast(q))
      .select(col("cell"),
        VectorMath.cosineDouble(col("centroid"), col("q_emb")).as("c_cos"))
      .orderBy(col("c_cos").desc, col("cell"))
      .limit(np)
      .select("cell")
    assigned
      .join(broadcast(cellRank), "cell")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        VectorMath.cosineDouble(col("embedding"), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // --------------------------------------------------------------------
  // Persisted, partition-pruned index layout.
  //
  // topK/topKWith assign cells at query time and FILTER a full corpus
  // scan — correct, but at 100 TB every lookup pays the whole read. The
  // layout below applies the alert-lake pattern (AlertStore's
  // day-partitioned store + AlertStorePruning) to the similarity index:
  // the assigned corpus is written `partitionBy("cell")`, so a probe's
  // `cell IN (…)` lands in the scan's PartitionFilters and only the
  // nprobe cell directories are ever opened. Lookup cost becomes
  // corpus·(nprobe/k) at the SOURCE, not post-scan.
  // --------------------------------------------------------------------

  /** An opened on-disk IVF index: the cell-partitioned corpus relation plus
    * the centroid table (driver-resident; k×dim floats — √n-cell sized). */
  /** An opened index: the cell-partitioned corpus, the centroid table,
    * and (v2 layouts) the id-bucketed secondary for point lookups —
    * `None` on a pre-secondary index, where id fetches fall back to a
    * corpus scan. */
  final case class IvfIndex(corpus: DataFrame, centroids: Array[Array[Float]],
      byId: Option[DataFrame] = None)

  /** Bucket count of the id-lookup secondary — the cell count, so both
    * layouts follow the same √n directory convention and a point lookup
    * reads ~one cell's worth of rows. Derived, not stored: appends never
    * change it. */
  private def idBuckets(centroids: Array[Array[Float]]): Int =
    math.max(1, centroids.length)

  private def withIdBucket(vectors: DataFrame, nb: Int): DataFrame =
    vectors.withColumn("idb", pmod(col("vec_id"), lit(nb.toLong)))

  /** Write the IVF index for `embeddings` under `path`: the cell-assigned
    * corpus as a cell-partitioned parquet table, and the centroids beside
    * it. One assignment scan; directories = cell count (∝ √n — at 10⁶
    * cells use a coarser `cells` or a two-level layout). */
  def saveIndex(embeddings: DataFrame, centroids: Array[Array[Float]],
      path: String): Unit = {
    val spark = embeddings.sparkSession
    // a rebuild starts a NEW corpus — a previous corpus's pending
    // deletions must not suppress ids in this one
    Tombstones.clearStale(spark, path)
    withCell(embeddings, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus")
    // id-lookup secondary: the same rows bucketed by pmod(vec_id), so a
    // point fetch (topKIndexed's query-vector read) partition-prunes to
    // one bucket directory instead of scanning every cell file — without
    // it the fetch is the one O(corpus) step in an otherwise √n probe.
    // Derived from the JUST-WRITTEN corpus parquet, not the caller's
    // plan: re-executing a nondeterministic source (a sampled or
    // changing upstream) would let the two layouts hold DIFFERENT row
    // sets — the secondary must be a re-bucketing of the primary, and
    // the cheap pruned re-read is also one pass over the caller's
    // (possibly expensive) plan instead of two (the saveSignatures
    // precedent)
    withIdBucket(Tables.parquet(spark, s"$path/corpus").drop("cell"),
        idBuckets(centroids))
      .write.mode("overwrite").partitionBy("idb").parquet(s"$path/corpus_by_id")
    save(centroids, s"$path/centroids.json", spark)
    // build-time corpus size sidecar (metadata-only count of the written
    // layout): append/compact compare the grown corpus against it to
    // warn when the frozen geometry is outdated (docs/indexes.md)
    IndexMeta.writeDirMeta(spark, s"$path/corpus", centroids.length,
      Tables.parquet(spark, s"$path/corpus").count())
  }

  // ---- deletion (takedown propagation) ------------------------------
  //
  // Same side-table discipline as IncrementalDedup.deleteDocs: the ids
  // land as one parquet file under `tombstones/` (no cell rewrite,
  // O(ids) work), [[openIndex]] masks them from both the cell-
  // partitioned corpus and the id-bucketed secondary (broadcast
  // anti-join on the takedown-sized set), and [[compactIndex]] folds
  // them — the rewritten layouts physically drop the rows — deleting
  // the tombstone dir only after both swaps (a crash re-applies inert
  // tombstones, never resurrects a vector). A tombstone suppresses its
  // vec_id including pre-compact re-appends; after compact the id is
  // forgotten and may be appended fresh.

  /** Remove vectors from the index: append their ids to the tombstone
    * side table (the shared [[Tombstones]] lifecycle). Probes over an
    * index opened AFTER this call are row-identical to an index rebuilt
    * without these vectors (specced); the physical rows fall out at the
    * next [[compactIndex]]. */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.add(path, ids, "vec_id")

  /** Convenience form for driver-known id lists. */
  def deleteFromIndex(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromIndex(spark, path, ids.toDF("vec_id"))
  }

  private def minusTombstones(spark: SparkSession, path: String,
      vectors: DataFrame): DataFrame =
    Tombstones.minus(spark, path, vectors, "vec_id")

  /** Open an index written by [[saveIndex]]. A pre-v1 index (Java-
    * serialized `centroids.bin`) is rejected with a rebuild message.
    * Pending tombstones are masked from both relations here, so every
    * probe path (cell-pruned, batch, id-fetch) sees the post-takedown
    * corpus. */
  def openIndex(spark: SparkSession, path: String): IvfIndex = {
    val byIdPath = new org.apache.hadoop.fs.Path(s"$path/corpus_by_id")
    val fs = byIdPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IvfIndex(minusTombstones(spark, path, Tables.parquet(spark, s"$path/corpus")),
      load(centroidsPath(spark, path), spark),
      byId = if (fs.exists(byIdPath))
        Some(minusTombstones(spark, path,
          Tables.parquet(spark, byIdPath.toString))) else None)
  }

  /** The live centroid sidecar under an index directory; a legacy
    * `centroids.bin` with no JSON twin is named in the error so the
    * failure is a rebuild message, not a missing-file stack trace. */
  private def centroidsPath(spark: SparkSession, path: String): String = {
    val json = new org.apache.hadoop.fs.Path(s"$path/centroids.json")
    val fs = json.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(json) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids.bin")))
      throw new IllegalStateException(
        s"$path holds a legacy Java-serialized IVF index (centroids.bin, " +
          "pre-v1 format); rebuild it with Ivf.saveIndex to get the " +
          "portable centroids.json sidecar")
    s"$path/centroids.json"
  }

  /** Index maintenance: assign `newVectors` to the EXISTING cells and
    * append them to the cell-partitioned corpus — the ingest step for a
    * live index, costing one assignment pass over the batch (cell
    * directories gain files; nothing is retrained or rewritten). Probes
    * over a reopened index see the appended vectors exactly as if the
    * index had been built from the union (specced). Centroids drift as
    * the distribution shifts — retrain + [[saveIndex]] when the recall
    * telemetry (RecallProbe) degrades. */
  def appendToIndex(path: String, newVectors: DataFrame): Unit = {
    val spark = newVectors.sparkSession
    val centroids = load(centroidsPath(spark, path), spark)
    // materialize the (micro-batch-sized) input once: both layout writes
    // must append the SAME row set, and a nondeterministic caller plan
    // re-executed per write could diverge the primary from the secondary
    val batch = newVectors.localCheckpoint(true)
    withCell(batch, centroids)
      .write.mode("append").partitionBy("cell").parquet(s"$path/corpus")
    // keep the id-lookup secondary consistent (v2 layouts only — a
    // pre-secondary index keeps its corpus-scan fallback)
    val byIdPath = new org.apache.hadoop.fs.Path(s"$path/corpus_by_id")
    if (byIdPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(byIdPath))
      withIdBucket(batch, idBuckets(centroids))
        .write.mode("append").partitionBy("idb").parquet(byIdPath.toString)
    outgrowWarning(spark, path).foreach(log.warn)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** How far an appended corpus may outgrow its build-time size before
    * append/compact warn that the frozen geometry (cell count, centroid
    * positions) is outdated. Geometry affects cost and recall, never
    * correctness, so this is a warning, not an error. */
  private[graft] val GeometryOutgrowFactor = 4L

  /** The maintenance warning behind [[appendToIndex]]/[[compactIndex]]:
    * Some(message) when the live corpus has outgrown the build-time row
    * count (recorded by [[saveIndex]]) by more than
    * [[GeometryOutgrowFactor]]. The live count is a metadata-only
    * parquet count; pre-sidecar indexes (no recorded build size) return
    * None. Factored out of the logging call so the rule is speccable. */
  private[graft] def outgrowWarning(spark: SparkSession,
      path: String): Option[String] =
    IndexMeta.readDirRows(spark, s"$path/corpus").collect {
      case built if built > 0 =>
        val now = Tables.parquet(spark, s"$path/corpus").count()
        (built, now)
    }.collect {
      case (built, now) if now > built * GeometryOutgrowFactor =>
        f"IVF index at $path has grown to $now rows, ${now.toDouble / built}%.1fx " +
          s"its build-time $built: the frozen cell geometry (and centroid " +
          "positions) are now sized for a much smaller corpus — probes read " +
          "oversized cells and recall drifts. Retrain + Ivf.saveIndex " +
          "(compactIndex only rewrites files); see docs/indexes.md"
    }

  /** Compact an index that has accumulated small files from many
    * [[appendToIndex]] rounds: rewrite each cell directory as one file
    * (per shuffle partition of that cell). A probe's cost is
    * files-opened + bytes-read; daily appends leave one file per batch
    * per touched cell, and compaction restores the one-file-per-cell
    * layout saveIndex produces. Rewrites into a fresh directory and
    * swaps with the shared CHECKED discipline ([[IndexSwap]] — r13:
    * the former bare fs.rename calls could silently return false
    * against a stale target from an earlier crashed compact, after
    * which the unconditional tombstone delete below would have
    * RESURRECTED taken-down vectors; now recovery runs first, every
    * rename is checked, and a failed swap throws before the tombstones
    * are touched). A crash mid-compact leaves the live index intact
    * or recoverable from `*_new`/`*_old`. */
  def compactIndex(path: String, spark: SparkSession): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover BOTH dirs unconditionally (a no-op when the secondary never
    // existed: no live dir, no _new/_old to restore or sweep) and only
    // then ask whether the secondary exists — probing first would miss a
    // secondary whose live dir is mid-swap from a crashed compact, leave
    // its _new/_old orphans unswept, and silently drop the id-lookup
    // layout from every later compact
    IndexSwap.recover(fs, path, Seq("corpus", "corpus_by_id"))
    val hasById = fs.exists(new org.apache.hadoop.fs.Path(s"$path/corpus_by_id"))
    // tombstones fold here: the rewrite drops deleted vectors for real
    val corpus = minusTombstones(spark, path,
      Tables.parquet(spark, s"$path/corpus"))
    corpus.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus_new")
    // the BUILD-TIME sidecar travels across the swap unchanged: compact
    // rewrites files, not geometry, so the outgrow baseline must survive
    IndexMeta.readDirRows(spark, s"$path/corpus").foreach { built =>
      val parts = IndexMeta.readDirMeta(spark, s"$path/corpus")
      IndexMeta.writeDirMeta(spark, s"$path/corpus_new", parts, built)
    }
    // the id-lookup secondary accumulates the same per-append small
    // files; write its fresh copy BEFORE either swap so a failure
    // anywhere leaves both live layouts untouched and consistent
    if (hasById) {
      minusTombstones(spark, path,
        Tables.parquet(spark, s"$path/corpus_by_id"))
        .repartition(col("idb"))
        .write.mode("overwrite").partitionBy("idb")
        .parquet(s"$path/corpus_by_id_new")
    }
    IndexSwap.swap(fs, path, "corpus")
    if (hasById) IndexSwap.swap(fs, path, "corpus_by_id")
    // tombstones are folded into both layouts; delete them only after
    // both CHECKED swaps so a crash or failed rename anywhere above
    // re-applies them (inert), never resurrects a vector
    Tombstones.drop(spark, path)
    // compaction is small-file hygiene only — if the corpus outgrew the
    // build geometry, say so here too (this is NOT the fix for that)
    outgrowWarning(spark, path).foreach(log.warn)
  }

  /** Rank cells for a query vector ON THE DRIVER — the centroid table is
    * already local, so the O(k·dim) argsort needs no Spark job. The double
    * statement sequence matches the FloatDotProduct kernel + cosineDouble
    * shape exactly (ascending-index dot loop; dot / (√cc · √qq)), so the
    * chosen cells are identical to topKWith's distributed ranking
    * (row-identity specced). */
  private[graft] def rankCells(centroids: Array[Array[Float]],
      q: Array[Float], nprobe: Int): Seq[Int] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val qn = math.sqrt(dot(q, q))
    centroids.zipWithIndex
      .map { case (c, i) => (dot(c, q) / (math.sqrt(dot(c, c)) * qn), i) }
      .sortBy { case (cos, i) => (-cos, i) }
      .take(nprobe)
      .map(_._2)
      .toSeq
  }

  /** Probe a persisted index with a query VECTOR: cells rank driver-side,
    * and the scan reads ONLY those cell directories (`cell IN (…)` is a
    * partition filter — PlanQualitySpec pins PartitionFilters on this
    * plan). Row-identical to [[topKWith]] over the same corpus/centroids
    * when `excludeId` carries the query's own id. */
  def topKVec(index: IvfIndex, qVec: Array[Float], k: Int, nprobe: Int = 0,
      excludeId: Option[Long] = None): DataFrame = {
    val cells = rankCells(index.centroids, qVec,
      resolveNprobe(nprobe, index.centroids.length))
    val pruned = index.corpus.filter(col("cell").isin(cells.map(Int.box): _*))
    val base = excludeId.fold(pruned)(id => pruned.filter(col("vec_id") =!= id))
    base.select(col("vec_id"), col("label"),
        VectorMath.cosineDouble(col("embedding"), typedlit(qVec)).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Probe a persisted index by corpus id: one id-lookup to fetch the
    * query vector, then the pruned probe. On a v2 layout the fetch
    * partition-prunes the id-bucketed secondary to one directory (~one
    * cell's worth of rows, the same √n budget as the probe itself); a
    * pre-secondary index falls back to the corpus scan. */
  def topKIndexed(index: IvfIndex, queryId: Long, k: Int,
      nprobe: Int = 0): DataFrame = {
    val fetch = index.byId match {
      case Some(byId) =>
        val nb = idBuckets(index.centroids)
        byId.filter(col("idb") === ((queryId % nb + nb) % nb) &&
          col("vec_id") === queryId)
      case None => index.corpus.filter(col("vec_id") === queryId)
    }
    val rows = fetch.select(col("embedding")).limit(1).collect()
    require(rows.nonEmpty, s"query id $queryId not present in the index corpus")
    topKVec(index, rows.head.getSeq[Float](0).toArray, k, nprobe,
      excludeId = Some(queryId))
  }
}
