package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Incremental (batch-vs-corpus) near-duplicate detection over a
  * PERSISTED MinHash signature index — the shape a production ingest
  * pipeline actually runs: the historical corpus is signed ONCE, each new
  * crawl batch is signed at its own (small) size and probed against the
  * stored index, so per-batch cost is O(batch + collisions), never a
  * corpus re-tokenization and never corpus×corpus work.
  *
  * Reference analog: the reference dedups only within one static frame
  * (pandas `duplicated()`); this is the scale extension of that surface
  * (SURVEY §2 dd_*), reusing MinHashLsh's signature family so estimates
  * agree bit-for-bit with the batch path.
  *
  * On-disk layout (v2 — the partition-pruned form):
  *   - `buckets/` — NARROW exploded rows (doc_id, band, bucket), one per
  *     (doc, band), `partitionBy("pb")` where `pb = pmod(bucket, P)` is a
  *     bucket-prefix: a probe restricts the scan to the batch's pb set,
  *     so the candidate join reads corpus·(touched/P) narrow rows at the
  *     SOURCE (PartitionFilters, pinned in IncrementalDedupSpec) — the
  *     same layout pattern as AnnLsh.saveIndex. Row width is 3 longs, so
  *     even an unpruned scan costs ~50× less than streaming the wide
  *     signature rows through the join (the v1 shape, measured ~6× per
  *     batch at 10× corpus).
  *   - `sigs/` — (doc_id, sig, bkts) wide rows, `partitionBy("sp")` with
  *     `sp = pmod(doc_id, SP)`: the agreement estimate fetches signatures
  *     ONLY for candidate doc_ids, pruned to the candidates' sp dirs, so
  *     the wide rows are read per-collision, never per-corpus-row.
  *   - `delta/` — unpartitioned (doc_id, sig, bkts) rows appended by
  *     [[appendSignatures]], ONE file per micro-batch (fanning a
  *     500-doc batch into the partitioned base would write one tiny
  *     file per touched directory — hundreds per batch at scale).
  *     Probes scan deltas in full, but deltas are micro-batch-sized
  *     between [[compact]] runs, which fold them into the base.
  *   - P and SP auto-scale with the corpus at build/compact time
  *     (~[[BucketRowsPerDir]] narrow rows / [[DocsPerSigDir]] docs per
  *     directory, capped at [[MaxDirs]]); each is stored INSIDE its data
  *     directory (IndexMeta.writeDirMeta) so compact's rename swap
  *     carries the count atomically with the layout it describes.
  *
  * Scale design:
  *   - Three probe routes, chosen ONCE per batch in [[dedupAgainstSigned]]
  *     from what the router already knows — the batch's row count, the
  *     index's recorded corpus size ([[useStreamedProbe]]) and the batch's
  *     held size — all row-identical (specced, incl. against brute force).
  *     Every one works on the bipartite candidate volume
  *     Σ_buckets |corpus ∩ bucket|·|batch ∩ bucket|, linear in bucket
  *     collisions (the self-join's m² hub blow-up cannot happen here).
  *   - Held-batch scan (indexes under [[StreamedCorpusDocsFloor]], or
  *     corpus-scale batches, while the batch fits the heap-derived
  *     broadcast budget): the signed batch is collected to the driver
  *     once and its (band, bucket) → row map broadcast; the logical
  *     index streams past it in ONE per-partition pass — `bands` hash
  *     lookups per corpus doc, each colliding batch doc estimated once,
  *     per-batch-doc partials merged on the driver into a local
  *     relation. No explode, no bucket join, no shuffle.
  *   - Past that budget the streamed probe is one bipartite shuffle join
  *     on (band, bucket) with first-agree band dedup — the shape a batch
  *     too big for one executor must take (held after all when the
  *     bucket-Bloom gate leaves few enough rows).
  *   - Micro-batches against a LARGE index run the pruned probe: the
  *     partition-pruned bucket scan yields candidate pairs, collapsed
  *     with one `dropDuplicates` (candidates are collision-bounded, so
  *     this shuffle is tiny), then signatures are fetched for
  *     candidates only.
  *   - The duplicate decision is the k-minhash agreement estimate
  *     (LongArrayMatchCountMin / k ≥ threshold): signatures alone decide, so
  *     the index stores ~1 KB/doc and raw text is never read again.
  *     σ ≈ √(j(1−j)/k) ≈ 0.03 at k=128 near j=0.9; callers needing exact
  *     verification re-check flagged pairs against stored tokens.
  *   - Intra-batch duplicates are out of scope by design (run
  *     MinHashLsh.exactPairs / Dedup.clusterExact within the batch);
  *     composing both is the standard two-step ingest dedup.
  */
object IncrementalDedup {

  /** An opened signature index: logical (doc_id, sig, bkts) rows plus the
    * signature/banding parameters they were built with. */
  final case class SigIndex(sigs: DataFrame, path: String, k: Int, bands: Int)

  /** Target narrow bucket rows per `buckets/` partition directory. */
  private[graft] val BucketRowsPerDir = 8192L

  /** Target documents per `sigs/` partition directory. */
  private[graft] val DocsPerSigDir = 1024L

  /** Directory-count cap for both layouts: beyond this, directories grow
    * instead (file-count ceilings matter more than perfect pruning). */
  private[graft] val MaxDirs = 65536L

  /** Candidate-pair count up to which the candidate side is explicitly
    * broadcast into the signature-fetch join (2 longs/row → ≤64 MB). */
  private[graft] val MaxBroadcastCandidates = 4000000L

  private[graft] def autoParts(rows: Long, target: Long): Int =
    math.max(1L, math.min(MaxDirs, (math.max(0L, rows) + target - 1) / target)).toInt

  /** (doc_id, sig, bkts): signatures plus per-doc band bucket array,
    * computed by the SAME kernels as the self-join path. */
  private[graft] def signed(documents: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    MinHashLsh.signatures(documents, k)
      .withColumn("bkts", org.apache.spark.sql.graft.ColumnBridge
        .bandBuckets(col("sig"), bands, rows))
  }

  private def withSp(sigRows: DataFrame, sp: Int): DataFrame =
    sigRows.withColumn("sp", pmod(col("doc_id"), lit(sp.toLong)).cast("int"))

  /** Derive and write the narrow bucket rows for `sigRows`. `files`
    * bounds the writing tasks, CLUSTERED on the partition column — with
    * free-form task layout every task writes a file into every directory
    * it touches (tasks × dirs small files, and the file count is what
    * every later probe pays to list), whereas clustering pins each `pb`
    * to one task so the write adds at most one file per directory. */
  private def writeBuckets(sigRows: DataFrame, dir: String, p: Int,
      mode: String, files: Int): Unit =
    sigRows
      .select(col("doc_id"), posexplode(col("bkts")).as(Seq("band", "bucket")))
      .withColumn("pb", pmod(col("bucket"), lit(p.toLong)).cast("int"))
      .repartition(files, col("pb"))
      .write.mode(mode).partitionBy("pb").parquet(dir)

  /** Sign `documents` once and persist the index under `path`. The
    * signing parameters ride a versioned JSON sidecar (`params.json`);
    * the partition counts ride inside their data directories. Runs one
    * `count()` action on `documents` to auto-size the layout (pass
    * `parts`/`sigParts` explicitly to skip it); the input plan is then
    * scanned once more for signing — cache upstream pipelines first. */
  def saveSignatures(documents: DataFrame, path: String, k: Int = 128,
      bands: Int = 16, parts: Int = 0, sigParts: Int = 0): Unit = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val spark = documents.sparkSession
    val n0 = if (parts > 0 && sigParts > 0) -1L else documents.count()
    val (p, sp) =
      if (parts > 0 && sigParts > 0) (parts, sigParts)
      else
        (if (parts > 0) parts else autoParts(n0 * bands, BucketRowsPerDir),
          if (sigParts > 0) sigParts else autoParts(n0, DocsPerSigDir))
    // a rebuild in place must not leave a PREVIOUS corpus's bucket-Bloom
    // sidecar live: the gate would filter the new corpus's probes with
    // keys from the old one — silent false negatives, breaking the
    // gate's no-false-negative contract. The sidecar is opt-in; callers
    // re-run writeBucketBloom after the rebuild to opt back in.
    val fsys = fs(spark, path)
    for (p0 <- Seq(bloomBinPath(path), bloomMetaPath(path))) {
      val hp = new org.apache.hadoop.fs.Path(p0)
      if (fsys.exists(hp)) fsys.delete(hp, false)
    }
    // same for tombstones: a rebuild starts a NEW corpus — a previous
    // corpus's pending deletions must not suppress ids in this one
    Tombstones.clearStale(spark, path)
    // clustered on the partition column: one writing task per sp value,
    // so the layout lands as ~one file per directory (free-form task
    // layout would write tasks × dirs small files, and every later
    // probe pays the listing)
    withSp(signed(documents, k, bands), sp).repartition(sp, col("sp"))
      .write.mode("overwrite").partitionBy("sp").parquet(s"$path/sigs")
    // the sidecar records the REAL row count (metadata-only count of the
    // just-written layout when the auto path did not already count) —
    // probe routing must not infer corpus size from the partition count,
    // which callers may pin explicitly (e.g. the bench)
    val nRows =
      if (n0 >= 0L) n0 else Tables.parquet(spark, s"$path/sigs").count()
    IndexMeta.writeDirMeta(spark, s"$path/sigs", sp, nRows)
    // bucket rows derive from the just-written sigs — one cheap re-read
    // instead of a second signing pass over the raw documents
    writeBuckets(Tables.parquet(spark, s"$path/sigs"), s"$path/buckets", p,
      "overwrite", files = p)
    IndexMeta.writeDirMeta(spark, s"$path/buckets", p)
    IndexMeta.writeParams(spark, path, Map("k" -> k, "bands" -> bands))
  }

  /** Open an index written by [[saveSignatures]]. A pre-v2 index (no
    * `buckets/` layout) or pre-v1 index (Java-serialized `params.bin`)
    * is rejected with a rebuild message. */
  def openSignatures(spark: SparkSession, path: String): SigIndex = {
    val ps = IndexMeta.readParams(spark, path, Seq("k", "bands"))
    val buckets = new org.apache.hadoop.fs.Path(s"$path/buckets")
    if (!buckets.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(buckets))
      throw new IllegalStateException(
        s"$path has no buckets/ layout (pre-v2 signature index); rebuild " +
          "it with saveSignatures to get the partition-pruned probe layout")
    val base = Tables.parquet(spark, s"$path/sigs").drop("sp")
    val all = deltaSigs(spark, path).map(base.unionByName(_)).getOrElse(base)
    SigIndex(minusTombstones(spark, path, all), path, ps("k"), ps("bands"))
  }

  /** Sign `newDocs` with the index's own parameters and APPEND them —
    * the accept step of the ingest loop (dedup the batch, then append the
    * survivors so the next batch sees them). The batch lands as ONE file
    * in the unpartitioned `delta/` side table — never re-shaped into the
    * partitioned base (a micro-batch fanned into the base layout writes
    * one file per touched directory, hundreds of tiny files per batch at
    * scale; folding deltas into the base is [[compact]]'s job). Reopen to
    * read the new rows. */
  def appendSignatures(index: SigIndex, newDocs: DataFrame): Unit =
    appendSigned(index, signed(newDocs, index.k, index.bands))

  /** [[appendSignatures]] over ALREADY-SIGNED rows — the ingest loop's
    * accept step: [[streamingIngest]] signs each micro-batch exactly
    * once (the probe needs the signatures anyway) and appends the
    * surviving rows of that same checkpointed frame, instead of
    * re-tokenizing and re-minhashing the survivors from raw text (the
    * former shape paid the k×tokens signing kernel — the dominant
    * per-batch compute — twice per batch). Same doc_id ⇒ same signature
    * under the index's parameters, so the appended rows are identical
    * either way. */
  private[graft] def appendSigned(index: SigIndex, batchSigned: DataFrame): Unit = {
    val spark = batchSigned.sparkSession
    val hasSidecar = readBucketBloom(spark, index.path).isDefined
    // with a sidecar the rows are read TWICE (delta write + the
    // sidecar-merge aggregate): a lazy checkpoint, materialized by the
    // write and read back by the merge, computes them once; without one,
    // stay single-job with the rows' lineage fused into the write
    val batch = if (hasSidecar) batchSigned.localCheckpoint(false) else batchSigned
    batch.coalesce(1).write.mode("append").parquet(s"${index.path}/delta")
    // keep the optional bucket-Bloom sidecar consistent: a duplicate of
    // an APPENDED doc must still gate through on the next batch. Indexes
    // without the sidecar pay nothing here.
    if (hasSidecar) mergeBucketBloom(index.path, batch)
  }

  // ---- bucket-Bloom pre-gate (opt-in probe accelerator) -------------
  //
  // A probe can only flag a batch doc that SHARES a (band, bucket) key
  // with some corpus doc — that is the candidate-pair condition every
  // probe route starts from. A Bloom filter over the corpus's
  // (band, bucket) keys therefore gates the probe exactly: a batch doc
  // none of whose band buckets might be in the corpus can skip the
  // probe joins entirely (Bloom has no false negatives, so no flagged
  // doc is ever skipped; false positives only leave extra definitely-new
  // docs in the probe input, where the join finds nothing). For the
  // mostly-new batches a training-data ingest loop sees, the gate
  // shrinks the probe's batch footprint — and with it the pruned path's
  // pb set — at the cost of `bands` bitset tests per batch row.
  // The sidecar is opt-in ([[writeBucketBloom]] after build/compact);
  // appends merge their keys in so the gate stays exact.

  private def bloomBinPath(path: String) = s"$path/bucket_bloom.bin"
  private def bloomMetaPath(path: String) = s"$path/bucket_bloom.json"

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One Bloom filter over the (band, bucket) keys of `sigRows`, with
    * pinned (items, bits) so independently-built filters are mergeable
    * (same parameters → same hash count and bitset size); None when
    * `sigRows` holds no keys.
    *
    * Built directly with the sketch library rather than through
    * BloomFilterAggregate: the aggregate silently clamps its parameters
    * to the runtime-join-pruning conf maxima
    * (spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits —
    * 4M items / 67,108,864 bits by default), which past ~250k docs ×
    * 16 bands would break the sidecar's fpp promise, and lifting the
    * clamp means writing session-global conf that concurrent queries
    * race with. Each partition puts its xxhash64(band, bucket) keys into
    * a `BloomFilter.create(items, bits)` filter — the aggregate's own
    * buffer and update — and the driver merges the partials in place as
    * they arrive, so the bytes equal the aggregate's for the same keys
    * and parameters (specced) and existing sidecars still merge. */
  private def bucketBloom(sigRows: DataFrame, items: Long,
      bits: Long): Option[org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.util.sketch.BloomFilter
    val keys = sigRows
      .select(posexplode(col("bkts")).as(Seq("band", "bucket")))
      .select(xxhash64(col("band"), col("bucket")))
    var merged = Option.empty[BloomFilter]
    sigRows.sparkSession.sparkContext.runJob(keys.queryExecution.toRdd,
      (rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        if (!rows.hasNext) None
        else {
          val part = BloomFilter.create(items, bits)
          rows.foreach(r => part.putLong(r.getLong(0)))
          Some(part)
        },
      (_: Int, part: Option[BloomFilter]) => part.foreach(p =>
        merged = Some(merged.fold(p)(_.mergeInPlace(p)))))
    merged
  }

  private def bloomBytes(filter: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    filter.writeTo(out)
    out.toByteArray
  }

  /** Build (or rebuild) the bucket-Bloom sidecar for the CURRENT corpus
    * (base + delta). Sized for `expectedDocs` × bands keys (defaults to
    * the live corpus count) at `fpp`; the parameters ride a JSON twin so
    * append-side filters are built mergeable. Call after
    * [[saveSignatures]] (and optionally after [[compact]]) to opt the
    * index into the gated probe. */
  def writeBucketBloom(spark: SparkSession, path: String,
      fpp: Double = 0.01, expectedDocs: Long = 0L): Unit = {
    val ps = IndexMeta.readParams(spark, path, Seq("k", "bands"))
    // drop the layout column before unioning with the (layout-free) delta
    // rows, as every other base+delta call site does — without it the
    // documented base+delta path throws whenever a delta/ exists
    val base = Tables.parquet(spark, s"$path/sigs").drop("sp")
    val all = deltaSigs(spark, path).map(base.unionByName(_)).getOrElse(base)
    val docs = if (expectedDocs > 0) expectedDocs else
      IndexMeta.readDirRows(spark, s"$path/sigs").getOrElse(base.count()) +
        deltaSigs(spark, path).map(_.count()).getOrElse(0L)
    val items = math.max(1L, docs) * ps("bands")
    val bits = BloomDedup.optimalNumBits(items, fpp)
    bucketBloom(all, items, bits) match {
      case None =>
        // an EMPTY corpus has no keys: there is no filter to write —
        // remove any stale sidecar instead. Absent sidecar = ungated
        // probe, which on an empty corpus is trivially cheap and exact.
        val f = fs(spark, path)
        f.delete(new org.apache.hadoop.fs.Path(bloomBinPath(path)), false)
        f.delete(new org.apache.hadoop.fs.Path(bloomMetaPath(path)), false)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"writeBucketBloom($path): empty corpus — sidecar removed")
      case Some(filter) =>
        writeBytes(spark, bloomBinPath(path), bloomBytes(filter))
        IndexMeta.writeText(spark, bloomMetaPath(path),
          s"""{"format":${IndexMeta.FormatVersion},"items":$items,"bits":$bits}""")
    }
  }

  /** The sidecar's (bytes, items, bits), when the index opted in. */
  private[graft] def readBucketBloom(spark: SparkSession,
      path: String): Option[(Array[Byte], Long, Long)] =
    if (!fs(spark, bloomBinPath(path))
        .exists(new org.apache.hadoop.fs.Path(bloomBinPath(path)))) None
    else {
      val meta = IndexMeta.readText(spark, bloomMetaPath(path))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(meta)
      Some((readBytes(spark, bloomBinPath(path)),
        root.get("items").asLong, root.get("bits").asLong))
    }

  /** Fold an appended batch's keys into the sidecar (no-op without one).
    * Built with the sidecar's pinned parameters, the batch filter is
    * bitset-compatible, so the merge is `BloomFilter.mergeInPlace` on
    * the driver — two ~MB bitsets, no data pass beyond the batch's keys.
    * An EMPTY batch (streamingIngest micro-batches can be) has no keys
    * and leaves the sidecar untouched. */
  private def mergeBucketBloom(path: String, batchSigned: DataFrame): Unit = {
    val spark = batchSigned.sparkSession
    readBucketBloom(spark, path).foreach { case (bytes, items, bits) =>
      bucketBloom(batchSigned, items, bits).foreach { batchFilter =>
        val live = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
        live.mergeInPlace(batchFilter)
        writeBytes(spark, bloomBinPath(path), bloomBytes(live))
      }
    }
  }

  /** The gate rule, per row: true iff ANY of the row's band buckets
    * might be in the corpus filter. Evaluated on the driver wherever the
    * probe already holds the rows (the held batch, the pruned route's
    * narrow bucket collect) — microseconds per row, no plan literal, no
    * job. Same keys as [[bucketBloomGate]], its in-plan form
    * (xxhash64(band_index, bucket), evaluated through the same catalyst
    * expression so the bits agree — specced), same no-false-negative
    * contract. */
  private[graft] def mightShareBucket(filter: org.apache.spark.util.sketch.BloomFilter,
      bkts: Array[Int]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    bkts != null && bkts.indices.exists { i =>
      filter.mightContainLong(new XxHash64(Seq(Literal(i), Literal(bkts(i))))
        .eval(null).asInstanceOf[Long])
    }
  }

  /** The gate rule as a plan predicate, for a batch too big to hold
    * on the driver: a codegen'd bitset test per band, no join. */
  private[graft] def bucketBloomGate(bytes: Array[Byte]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    exists(transform(col("bkts"), (b, i) => bridge.column(
      BloomFilterMightContain(Literal(bytes, BinaryType),
        bridge.expression(xxhash64(i, b))))), x => x)
  }

  private def writeBytes(spark: SparkSession, p: String,
      bytes: Array[Byte]): Unit = {
    val out = fs(spark, p).create(new org.apache.hadoop.fs.Path(p), true)
    try out.write(bytes) finally out.close()
  }

  private def readBytes(spark: SparkSession, p: String): Array[Byte] = {
    val in = fs(spark, p).open(new org.apache.hadoop.fs.Path(p))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](65536)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  /** The `delta/` side table, when any batch has been appended since the
    * last compact. Rows are (doc_id, sig, bkts) like the base minus the
    * layout column. */
  private def deltaSigs(spark: SparkSession, path: String): Option[DataFrame] = {
    val d = new org.apache.hadoop.fs.Path(s"$path/delta")
    if (d.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(d))
      Some(Tables.parquet(spark, s"$path/delta"))
    else None
  }

  /** Rows in the `delta/` side table (0 without one), summed from the
    * parquet footers of its files on the driver. */
  private def deltaRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(s"$path/delta")
    val f = d.getFileSystem(conf)
    if (!f.exists(d)) 0L
    else f.listStatus(d).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  // ---- deletion (takedown propagation) ------------------------------
  //
  // A 100-TB corpus must forget documents (rights claims, takedowns,
  // opt-outs) without rebuilding a multi-TB index. Deletion follows the
  // same side-table discipline as appends: `deleteDocs` lands the ids as
  // ONE parquet file under `tombstones/` (no base rewrite, O(ids) work),
  // every probe path suppresses tombstoned ids at read time (anti-join
  // against the driver-tiny tombstone set), and [[compact]] folds the
  // tombstones into the base — dropping the rows for real, resizing the
  // layout, rebuilding the bucket-Bloom sidecar so the deleted docs'
  // keys stop costing gate false-positives — and deletes the tombstone
  // dir LAST (a crash re-applies inert tombstones, never resurrects a
  // deleted doc). Between delete and compact the sidecar keeps the
  // deleted keys: Bloom bits cannot be unset, but stale keys only admit
  // extra probe input that the anti-joined corpus then fails to match —
  // the no-false-negative contract is untouched.
  //
  // A tombstone suppresses its doc_id EVERYWHERE — including delta rows
  // and any re-append of the same id made before the next compact;
  // after a compact the id is forgotten and may be appended fresh.

  /** The tombstoned doc_ids, when any deletion is pending. */
  private[graft] def tombstoneIds(spark: SparkSession,
      path: String): Option[DataFrame] = Tombstones.ids(spark, path)

  /** Remove documents from the index: append their ids to the tombstone
    * side table (one file, no base rewrite — the shared [[Tombstones]]
    * lifecycle). Probes opened AFTER this call behave exactly as if the
    * index had been rebuilt without these docs (specced on both probe
    * paths); the physical rows fall out at the next [[compact]]. */
  def deleteDocs(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.add(path, ids, "doc_id")

  /** Convenience form for driver-known id lists. */
  def deleteDocs(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteDocs(spark, path, ids.toDF("doc_id"))
  }

  /** Suppress tombstoned ids in `sigRows` (no-op without tombstones). */
  private def minusTombstones(spark: SparkSession, path: String,
      sigRows: DataFrame, idCol: String = "doc_id"): DataFrame =
    Tombstones.minus(spark, path, sigRows, idCol)

  /** Compact a signature index after append-heavy runs — the
    * maintenance twin of Ivf.compactIndex. Every [[appendSignatures]]
    * round (one per micro-batch under [[streamingIngest]]) leaves new
    * files under both layout dirs, and a replayed batch re-appends EXACT
    * duplicate rows (same doc_id ⇒ same signature under the index's own
    * parameters); probe cost is files-opened + rows-scanned, so both
    * accumulate. Compaction folds the `delta/` side table into the
    * partitioned base, drops duplicate doc_ids, RE-SIZES the partition
    * counts to the compacted corpus (this is where a grown index regains
    * its per-directory row targets), and rewrites both layouts with
    * ≤ `numFiles` writing tasks (≈ one file per partition directory). The
    * rewrites land in fresh `*_new` directories and are swapped in by
    * checked renames, and the folded delta is deleted LAST; each
    * directory carries its own partition count, and duplicate rows are
    * semantically inert (bucket dupes collapse in dropDuplicates, sig
    * dupes agg away), so a crash between the swaps — or after them but
    * before the delta delete — leaves a CORRECT index at worst
    * accompanied by stale dirs/rows the next compact sweeps.
    * `dedupAgainst` over a compacted index flags identically (specced). */
  def compact(spark: SparkSession, path: String, numFiles: Int = 32): Unit = {
    val ps = IndexMeta.readParams(spark, path, Seq("k", "bands"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover a live dir lost to a crashed earlier compact, then sweep
    // stale swap leftovers — the shared discipline (IndexSwap doc; a
    // crash between the two renames leaves the only full copies in
    // `*_new`/`*_old`, and sweeping before checking would lose the base)
    IndexSwap.recover(fs, path, Seq("sigs", "buckets"))
    val base = Tables.parquet(spark, s"$path/sigs").drop("sp")
    // tombstones fold here: the anti-join drops deleted docs' rows for
    // real (base AND delta AND any pre-compact re-append), so the
    // rewritten layouts are exactly an index built without them
    val deduped = minusTombstones(spark, path,
      deltaSigs(spark, path).map(base.unionByName(_)).getOrElse(base)
        .dropDuplicates("doc_id"))
    val n = deduped.count()
    val sp2 = autoParts(n, DocsPerSigDir)
    val p2 = autoParts(n * ps("bands"), BucketRowsPerDir)
    withSp(deduped, sp2).repartition(numFiles, col("sp"))
      .write.mode("overwrite").partitionBy("sp").parquet(s"$path/sigs_new")
    IndexMeta.writeDirMeta(spark, s"$path/sigs_new", sp2, n)
    writeBuckets(Tables.parquet(spark, s"$path/sigs_new"), s"$path/buckets_new",
      p2, "overwrite", files = numFiles)
    IndexMeta.writeDirMeta(spark, s"$path/buckets_new", p2)
    IndexSwap.swap(fs, path, "buckets")
    IndexSwap.swap(fs, path, "sigs")
    // the delta is now folded into the base; delete it LAST so a crash
    // anywhere above leaves every delta row still visible somewhere
    val delta = new org.apache.hadoop.fs.Path(s"$path/delta")
    if (fs.exists(delta)) fs.delete(delta, true)
    // tombstones are folded too; deleting them after the swaps means a
    // crash anywhere above re-applies them (inert — the rows are gone),
    // never resurrects a deleted doc
    val hadTombstones = Tombstones.drop(spark, path)
    // with deletions folded, rebuild the opt-in sidecar so the deleted
    // docs' keys stop costing gate false-positives (runs after the
    // delta/tombstone deletes: a rebuild from base+delta would re-admit
    // tombstoned delta keys; a crash before this line leaves the stale
    // sidecar, which is correct — extra probe input only)
    if (hadTombstones && readBucketBloom(spark, path).isDefined)
      writeBucketBloom(spark, path)
    ()
  }

  /** The batch's exploded (q_id, band, bucket, pb) rows for a bucket
    * prefix count `p` — the broadcast side of the candidate join. */
  private[graft] def batchBuckets(batchSigned: DataFrame, p: Int): DataFrame =
    batchSigned
      .select(col("doc_id").as("q_id"), posexplode(col("bkts")).as(Seq("band", "bucket")))
      .withColumn("pb", pmod(col("bucket"), lit(p.toLong)).cast("int"))

  /** Distinct (c_id, q_id) candidate pairs: the `buckets/` scan PRUNED to
    * the batch's pb set (partition filter — pinned in spec) plus the
    * on-the-fly exploded delta rows (deltas are micro-batch-sized between
    * compacts — no persisted layout to prune), equi-joined with the
    * broadcast batch buckets on (band, bucket). Lazy. */
  private[graft] def candidates(spark: SparkSession, path: String,
      batchB: DataFrame, pbs: Seq[Int],
      delta: Option[DataFrame], batchBRows: Long): DataFrame = {
    val base = Tables.parquet(spark, s"$path/buckets")
      .filter(col("pb").isin(pbs.map(Int.box): _*))
      .select("doc_id", "band", "bucket")
    val all = delta.map { d =>
      base.unionByName(d.select(col("doc_id"),
        posexplode(col("bkts")).as(Seq("band", "bucket"))))
    }.getOrElse(base)
    // the batch's exploded bucket rows are 24 B each, but a 100-TB
    // micro-batch can still be millions of docs: broadcast under the
    // heap-derived budget, shuffle past it (same gate as every other
    // batch-side payload since r14). The row count arrives from the
    // router's checkpointed-batch count — no extra job on the pruned
    // path's measured ~6-job floor.
    val bb = batchB.select("q_id", "band", "bucket")
    all
      .join(MinHashLsh.maybeBroadcast(bb, batchBRows * 32L),
        Seq("band", "bucket"))
      .select(col("doc_id").as("c_id"), col("q_id"))
      .dropDuplicates("c_id", "q_id")
  }

  /** The `sigs/` scan pruned to the given sp dirs (partition filter),
    * projected to (c_id, sig). Lazy. */
  private[graft] def prunedSigs(spark: SparkSession, path: String,
      sps: Seq[Int]): DataFrame =
    Tables.parquet(spark, s"$path/sigs")
      .filter(col("sp").isin(sps.map(Int.box): _*))
      .select(col("doc_id").as("c_id"), col("sig"))

  /** A probe batch at or above this fraction of the (approximate) corpus
    * size takes the one-scan streaming form instead of the pruned-layout
    * probe: a corpus-scale batch touches every layout partition AND its
    * candidate-pair volume approaches batch×corpus collision density, so
    * materializing the pair set (the pruned path's shuffle) costs more
    * than streaming the whole index past the batch once — measured
    * 8.9 s pruned vs ~0.5 s streamed for a 20%-of-corpus batch whose
    * candidate set hit 17.8M pairs. Micro-batches (the ingest design
    * point) stay pruned. */
  private[graft] val StreamingBatchFraction = 16L

  /** Below this corpus size the streamed probe wins for ANY batch size:
    * the pruned path's floor is ~6 driver-scheduled jobs plus the
    * layout-directory listings (256 + 64 dirs at the default caps) —
    * measured 1.8-2.2 s per 500-doc probe against a 46k-doc index —
    * while the streamed probe is one pass over the signature rows, linear
    * in the index. The floor was set when that pass was an exploded
    * broadcast bucket join (measured 0.44-0.54 s at the same 46k docs ≈
    * 46 MB of signatures), which put the crossover near 150-200k docs;
    * the held-batch scan that replaced the join for budget-sized batches
    * reads the same rows with `bands` hash lookups per corpus doc instead
    * of a 16× explode (a 500-doc probe of a ~7k-doc index: 0.45 s, 4
    * jobs, against 1.1 s for the join form on the same 4-core box), so it
    * should only move the crossover up — not re-measured at 46k docs —
    * and 2¹⁷ keeps its safety margin on the pruned side. Partition pruning is the
    * 100-TB design — it just should not tax indexes small enough to scan
    * outright. */
  private[graft] val StreamedCorpusDocsFloor = 131072L

  /** The probe-path routing rule, extracted for direct spec coverage:
    * stream when the index is below [[StreamedCorpusDocsFloor]] (small
    * enough that one scan undercuts the pruned path's fixed job floor)
    * OR the batch is a corpus-scale fraction of it. Batch SIZE does not
    * gate the route: the streamed probe holds the batch on the driver
    * only while it fits the heap-derived budget ([[fitsHeld]]) and
    * shuffle-joins past it, so a corpus-scale batch too big to hold
    * streams through one bipartite shuffle instead of falling back to
    * the pruned path — whose materialized candidate set is exactly what
    * a corpus-scale batch makes enormous (the r14 third-scale-point study measured the
    * old cap routing a 100k-doc batch × 400k-doc index probe to the
    * pruned path at 139.6 s; the shuffle-streamed form runs the same
    * probe in one pass). */
  private[graft] def useStreamedProbe(batchN: Long, corpusApprox: Long): Boolean =
    corpusApprox <= StreamedCorpusDocsFloor ||
      batchN * StreamingBatchFraction >= corpusApprox

  /** Flag each new document against the stored corpus. The route is
    * chosen once, from the batch's row count, the index's recorded corpus
    * size and the batch's held size:
    *   - micro-batches against a LARGE index take the PRUNED probe: one
    *     pruned bucket scan (batch side broadcast) yields candidate pairs,
    *     signatures are fetched for candidates only (pruned again, by
    *     doc-id partition), and the minhash agreement estimate
    *     ≥ `threshold` decides;
    *   - indexes below [[StreamedCorpusDocsFloor]], and batches within
    *     1/[[StreamingBatchFraction]] of the corpus size, stream the whole
    *     index past the batch once: the held-batch scan while the batch
    *     fits the broadcast budget, one bipartite shuffle join past it —
    *     no candidate materialization, no pruning jobs.
    * Every route is row-identical (specced, incl. against brute force),
    * and [[useStreamedProbe]] is the measured routing rule. An index with
    * a bucket-Bloom sidecar gates the batch first (see
    * [[dedupAgainstSigned]]).
    *
    * Returns one row per `newDocs` row:
    * (doc_id, is_duplicate, dup_of, match_est) where `dup_of` is the
    * SMALLEST matching corpus id (the canonical-keeper convention of
    * Dedup.exact) and `match_est` the largest agreement estimate over all
    * matched corpus docs; both null when no match. Ids present in both
    * the index and `newDocs` match themselves (est 1.0) — dedupAgainst is
    * for ids the corpus has not seen. */
  def dedupAgainst(index: SigIndex, newDocs: DataFrame,
      threshold: Double = 0.9): DataFrame =
    // LAZY (r20): the router's batch count inside dedupAgainstSigned is
    // the first action and materializes the signed batch in its own job;
    // every later reader (hold, gate, probe, flag join) shares the blocks
    dedupAgainstSigned(index,
      signed(newDocs, index.k, index.bands).localCheckpoint(false), threshold)

  /** [[dedupAgainst]] over an ALREADY-SIGNED, CHECKPOINTED batch — the
    * ingest loop signs once and shares the frame between the probe and
    * the survivor append ([[appendSigned]]). `batch` must be
    * materialized (the router counts and every probe path reads it).
    * Repeated doc_ids are allowed: each row gets the answer of its id.
    *
    * The opt-in bucket-Bloom gate ([[mightShareBucket]]) drops the batch
    * rows none of whose band buckets might be in the corpus. Exact by the
    * candidate-pair condition (see the gate's comment): a gated-out row
    * has no candidate pair on any route, so its match set is empty either
    * way and it flags false. Each route gates where its rows already
    * are — the held rows, the pruned route's bucket collect, or, for a
    * batch too big to hold, an in-plan filter plus its count — and an
    * empty kept set skips the corpus side entirely (the steady-state
    * cost of a fully-new micro-batch is then the gate, never a corpus
    * pass; build the sidecar with a small fpp — e.g. 1e-5 — if this
    * regime matters: at the default 1%, a 500-doc batch leaks ~5 false
    * positives and the short-circuit rarely fires). */
  private[graft] def dedupAgainstSigned(index: SigIndex, batch: DataFrame,
      threshold: Double): DataFrame = {
    val spark = index.sigs.sparkSession
    val sp = IndexMeta.readDirMeta(spark, s"${index.path}/sigs")
    // the materializing action of the (lazily checkpointed) signed
    // batch: the count's job computes and caches the blocks every later
    // reader shares (r20 — the former eager checkpoint paid a dedicated
    // job for the same materialization). Counted over the physical rows:
    // Dataset.count plans a global aggregate that AQE runs as two jobs
    val batchN = batch.queryExecution.toRdd.count()
    // the base size comes from the build/compact-time row count in the
    // sidecar (partition counts may be pinned by the caller, so parts ×
    // rows-per-dir is unreliable); un-compacted deltas must be counted
    // too, or an append-grown index would keep routing batches to the
    // full-scan path its growth has made expensive — from the delta
    // files' parquet footers on the driver, no schema inference and no
    // job. Pre-rows-sidecar indexes fall back to the old estimate.
    val deltaN = deltaRows(spark, index.path)
    val baseN = IndexMeta.readDirRows(spark, s"${index.path}/sigs")
      .getOrElse(sp.toLong * DocsPerSigDir)
    // pending tombstones shrink the effective corpus the router sees
    // (metadata-only count; takedown-sized)
    val tombN = tombstoneIds(spark, index.path).map(_.count()).getOrElse(0L)
    val corpusApprox = math.max(0L, baseN + deltaN - tombN)
    val bloom = readBucketBloom(spark, index.path).map(_._1)
    lazy val filter = bloom.map(b => org.apache.spark.util.sketch.BloomFilter.readFrom(b))
    val matches =
      if (!useStreamedProbe(batchN, corpusApprox)) {
        // the pruned route: one narrow collect of the batch's bucket
        // arrays (batch·bands ints) yields both the gate's kept rows and
        // their pb set
        val kept = batch.select("bkts").queryExecution.toRdd
          .map(r => if (r.isNullAt(0)) Array.emptyIntArray else r.getArray(0).toIntArray)
          .collect().filter(b => filter.forall(mightShareBucket(_, b)))
        if (kept.isEmpty) matchesFrame(spark, Map.empty)
        else prunedMatches(index, batch, batchN, kept, sp, threshold)
      } else if (fitsHeld(index, batch, batchN)) {
        // the held route: ONE collect of the checkpointed batch feeds the
        // gate and the scan; an all-gated-out batch skips the corpus scan
        // (heldMatches), and the matches come back as a local relation
        val rows = holdBatch(batch)
        matchesFrame(spark, heldMatches(index,
          filter.fold(rows)(f => rows.filterRows(i => mightShareBucket(f, rows.bkts(i)))),
          threshold))
      } else {
        // a batch too big to hold: the gate runs in-plan, and its count
        // decides both the short-circuit and whether the survivors fit
        val (probe, probeN) = bloom.fold((batch, batchN)) { bytes =>
          val p = batch.filter(bucketBloomGate(bytes))
          (p, p.queryExecution.toRdd.count())
        }
        if (probeN == 0L) matchesFrame(spark, Map.empty)
        else if (fitsHeld(index, probe, probeN))
          matchesFrame(spark, heldMatches(index, holdBatch(probe), threshold))
        else shuffledMatches(index, probe, threshold)
      }
    // matches is at most batch-sized (one row per flagged new doc), so
    // the flag join broadcasts too instead of shuffling the batch
    batch.select(col("doc_id")).join(broadcast(matches), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_duplicate"),
        col("dup_of"), col("match_est"))
  }

  /** The pruned-layout probe (micro-batch path): candidate pairs from the
    * pb-pruned narrow scan, signature fetch pruned to the candidates' sp
    * dirs. Cost is O(batch-footprint + collisions) in rows read,
    * independent of corpus size once the partition counts exceed the
    * batch footprint. `batch` is the checkpointed signed batch of
    * `batchN` rows; `kept` holds the bucket arrays of the rows the
    * bucket-Bloom gate kept (all rows without a sidecar), and only their
    * pb dirs are scanned — a gated-out row shares no (band, bucket) with
    * the corpus, so its bucket rows would join nothing in any dir. */
  private[graft] def prunedMatches(index: SigIndex, batch: DataFrame, batchN: Long,
      kept: Seq[Array[Int]], sp: Int, threshold: Double): DataFrame = {
    val spark = index.sigs.sparkSession
    val p = IndexMeta.readDirMeta(spark, s"${index.path}/buckets")
    // derived lazily from the checkpointed batch — a recompute is a
    // per-row explode, cheaper than the eager-checkpoint job it replaces
    val batchB = batchBuckets(batch, p)
    // the pb set (bounded by min(P, batch·bands)) is pure arithmetic over
    // driver-tiny data: the pmod is applied on the driver
    val pbs = kept.iterator.flatten.map(b => ((b % p) + p) % p).toSet.toSeq
    val delta = deltaSigs(spark, index.path)
    // lazily local-checkpointed: the spCounts job below materializes the
    // bounded candidate set (2 ints/row, collision-bounded) as its side
    // effect, so the final estimate join reads those blocks instead of
    // re-running the pruned scan + bucket join — one scan execution per
    // probe, with no standalone checkpoint job (the r7 form re-executed
    // the scan; the recompute grew with corpus collision density)
    val cand = candidates(spark, index.path, batchB, pbs, delta,
        batchBRows = batchN * index.bands)
      .localCheckpoint(false)
    // one job yields the candidate count (broadcast decision) and the sp
    // dirs the signature fetch must read, and materializes `cand`
    val spCounts = cand
      .groupBy(pmod(col("c_id"), lit(sp.toLong)).cast("int").as("s"))
      .count().collect()
    val candN = spCounts.map(_.getLong(1)).sum
    val sps = spCounts.map(_.getInt(0)).toSeq
    val basePruned = prunedSigs(spark, index.path, sps)
    // delta ids may prove candidates too; deltas are small, so the union
    // costs a micro-batch-sized scan, not a corpus one. Tombstoned ids
    // are suppressed HERE (the signature fetch), which kills their
    // candidates before any estimate is computed — the narrow bucket
    // rows of a deleted doc are inert until compact folds them away.
    val corpusSigs = minusTombstones(spark, index.path,
      delta.map(d => basePruned.unionByName(
        d.select(col("doc_id").as("c_id"), col("sig")))).getOrElse(basePruned),
      idCol = "c_id")
    // candidate side broadcast while it is provably small (counted above,
    // collision-bounded); beyond that, let the planner shuffle — a probe
    // that collides with millions of corpus rows is real work either way
    val withSigs =
      if (candN <= MaxBroadcastCandidates) corpusSigs.join(broadcast(cand), "c_id")
      else corpusSigs.join(cand, "c_id")
    withSigs
      // batch signatures ride the heap-derived budget too: ~1 KB/doc,
      // so a millions-of-docs micro-batch on a 100-TB index shuffles
      // instead of building a multi-GB broadcast relation
      .join(MinHashLsh.maybeBroadcast(
        batch.select(col("doc_id").as("q_id"), col("sig").as("q_sig")),
        batchN * (48L + 8L * index.k)), "q_id")
      .withColumn("est",
        org.apache.spark.sql.graft.ColumnBridge
          .matchCountMin(col("sig"), col("q_sig"),
            MinHashLsh.estMinCount(index.k, threshold)).cast("double") / lit(index.k))
      .filter(col("est") >= threshold)
      .groupBy(col("q_id").as("doc_id"))
      .agg(min(col("c_id")).as("dup_of"), max(col("est")).as("match_est"))
  }

  /** Whether a batch of `batchN` docs is held for the scan: its driver
    * bytes — the rows (k signature longs, `bands` bucket ints and the id,
    * ≈ 8·k + 4·bands + 16 B) plus the (band, bucket) postings the scan
    * probes (one int per row and band, and a half-full 12-byte slot
    * table, ≤ 28·bands B), ≈ 1.5 KB per doc at the defaults — fit the
    * same heap-derived budget every other batch-side broadcast in the
    * repo obeys (~170k docs at its 256 MB floor; `graft.broadcastBudgetBytes`
    * pins it, which forces the shuffle form in specs). */
  private def fitsHeld(index: SigIndex, batch: DataFrame, batchN: Long): Boolean =
    batchN * (8L * index.k + 32L * index.bands + 16L) <=
      MinHashLsh.maxBroadcastVerifyBytes(batch)

  /** A probe batch held on the driver: row-aligned ids, signatures and
    * band buckets from one collect of the (checkpointed) signed batch. */
  private[graft] final case class HeldBatch(ids: Array[Long],
      sigs: Array[Array[Long]], bkts: Array[Array[Int]]) {
    def filterRows(keep: Int => Boolean): HeldBatch = {
      val rows = ids.indices.filter(keep)
      HeldBatch(rows.map(i => ids(i)).toArray, rows.map(i => sigs(i)).toArray,
        rows.map(i => bkts(i)).toArray)
    }
  }

  private[graft] def holdBatch(batch: DataFrame): HeldBatch = {
    val rows = batch.select("doc_id", "sig", "bkts").queryExecution.toRdd
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getArray(1).toLongArray,
        if (r.isNullAt(2)) null else r.getArray(2).toIntArray))
      .collect()
    HeldBatch(rows.map(_._1), rows.map(_._2), rows.map(_._3))
  }

  /** (band, bucket) → held-batch row indices: an open-addressing table
    * over the distinct keys (Fibonacci-hashed, load ≤ ½) with CSR
    * postings, so probing a corpus doc costs `bands` primitive lookups —
    * no boxing and no allocation per lookup. Within one key the rows
    * ascend, and a row appears at most once. */
  private[graft] final class BucketPostings private (keys: Array[Long],
      ids: Array[Int], shift: Int, val starts: Array[Int], val rows: Array[Int])
      extends Serializable {

    /** The distinct-key id of (band, bucket), or -1 if no row has it; its
      * rows are `rows(starts(id) until starts(id + 1))`. */
    def find(band: Int, bucket: Int): Int =
      ids(BucketPostings.slotOf(keys, ids, shift, BucketPostings.key(band, bucket)))
  }

  private[graft] object BucketPostings {
    private def key(band: Int, bucket: Int): Long =
      (band.toLong << 32) | (bucket & 0xffffffffL)

    /** The slot holding key `k`, or the empty slot where it belongs. */
    private def slotOf(keys: Array[Long], ids: Array[Int], shift: Int,
        k: Long): Int = {
      var s = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt
      while (ids(s) >= 0 && keys(s) != k) s = (s + 1) & (keys.length - 1)
      s
    }

    def apply(bkts: Array[Array[Int]]): BucketPostings = {
      val pairs = bkts.iterator.map(b => if (b == null) 0 else b.length).sum
      val cap = Integer.highestOneBit(math.max(2, 2 * pairs - 1)) << 1
      val shift = 64 - Integer.numberOfTrailingZeros(cap)
      val keys = new Array[Long](cap)
      val ids = Array.fill(cap)(-1)
      val counts = new Array[Int](pairs + 1)
      var distinct = 0
      // pass 1: assign each distinct key an id and count its rows
      for (b <- bkts if b != null; band <- b.indices) {
        val k = key(band, b(band))
        val s = slotOf(keys, ids, shift, k)
        if (ids(s) < 0) { keys(s) = k; ids(s) = distinct; distinct += 1 }
        counts(ids(s)) += 1
      }
      // pass 2: prefix sums, then fill the postings in row order
      val starts = new Array[Int](distinct + 1)
      for (i <- 0 until distinct) starts(i + 1) = starts(i) + counts(i)
      val fill = starts.clone()
      val rows = new Array[Int](pairs)
      for (r <- bkts.indices if bkts(r) != null; band <- bkts(r).indices) {
        val id = ids(slotOf(keys, ids, shift, key(band, bkts(r)(band))))
        rows(fill(id)) = r
        fill(id) += 1
      }
      new BucketPostings(keys, ids, shift, starts, rows)
    }
  }

  /** The held-batch scan: the batch's signatures and (band, bucket)
    * postings are broadcast, and `index.sigs` (base + delta, tombstones
    * removed) is read ONCE in a per-partition pass. For each corpus doc,
    * its `bands` buckets are looked up and every colliding batch row is
    * visited once — a per-row stamp replaces the SQL forms' first-agree
    * band filter — and scored with the shared early-exit estimate kernel
    * (LongArrayMatchCountMin against MinHashLsh.estMinCount, so
    * `count ≥ minCount` ⇔ `count/k ≥ threshold` and survivors carry their
    * exact counts). Each partition keeps per-batch-row partials (min
    * corpus id, max count) in arrays and ships only the matched rows;
    * the driver merges them by doc_id into doc_id → (dup_of, match_est).
    * An empty `held` skips the scan. */
  private[graft] def heldMatches(index: SigIndex, held: HeldBatch,
      threshold: Double): Map[Long, (Long, Double)] =
    if (held.ids.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      import org.apache.spark.sql.graft.LongArrayMatchCountMin
      val k = index.k
      val minCount = MinHashLsh.estMinCount(k, threshold)
      val sc = index.sigs.sparkSession.sparkContext
      val probe = sc.broadcast((held.sigs, BucketPostings(held.bkts)))
      val partials = try {
        index.sigs.select("doc_id", "sig", "bkts").queryExecution.toRdd
          .mapPartitions { corpus =>
            val (sigs, postings) = probe.value
            val n = sigs.length
            val qSigs = sigs.map(s =>
              if (s == null) null else UnsafeArrayData.fromPrimitiveArray(s))
            val stamp = new Array[Long](n)
            val dupOf = Array.fill(n)(Long.MaxValue)
            val best = Array.fill(n)(-1) // ≥ 0 once a pair passes
            var t = 0L
            corpus.foreach { r =>
              t += 1
              if (!r.isNullAt(1) && !r.isNullAt(2)) {
                val cId = r.getLong(0)
                val sig = r.getArray(1)
                val bkts = r.getArray(2)
                var band = 0
                while (band < bkts.numElements()) {
                  val key = postings.find(band, bkts.getInt(band))
                  if (key >= 0) {
                    var j = postings.starts(key)
                    while (j < postings.starts(key + 1)) {
                      val q = postings.rows(j)
                      if (stamp(q) != t && qSigs(q) != null) {
                        stamp(q) = t
                        val c = LongArrayMatchCountMin.compute(sig, qSigs(q), minCount)
                        if (c >= minCount) {
                          dupOf(q) = math.min(dupOf(q), cId)
                          best(q) = math.max(best(q), c)
                        }
                      }
                      j += 1
                    }
                  }
                  band += 1
                }
              }
            }
            val hit = (0 until n).filter(i => best(i) >= 0).toArray
            Iterator.single((hit, hit.map(i => dupOf(i)), hit.map(i => best(i))))
          }.collect()
      } finally probe.destroy()
      // merge by doc_id: partitions and repeated batch ids fold into one
      // answer per id, as the SQL forms' groupBy(q_id) does
      val byId = scala.collection.mutable.HashMap.empty[Long, (Long, Int)]
      for ((hit, dupOf, best) <- partials; i <- hit.indices) {
        val id = held.ids(hit(i))
        byId(id) = byId.get(id).fold((dupOf(i), best(i))) { case (d, c) =>
          (math.min(d, dupOf(i)), math.max(c, best(i)))
        }
      }
      byId.iterator.map { case (id, (d, c)) => id -> (d, c.toDouble / k) }.toMap
    }

  /** doc_id → (dup_of, match_est) as the probes' `matches` frame, a local
    * relation. */
  private def matchesFrame(spark: SparkSession,
      m: Map[Long, (Long, Double)]): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = m.iterator.map { case (id, (d, e)) =>
      org.apache.spark.sql.Row(id, d, e) }.toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("dup_of", LongType, nullable = false),
      StructField("match_est", DoubleType, nullable = false))))
  }

  /** The past-budget streamed form: the logical index streams exploded
    * through one bipartite shuffle join with the exploded batch on
    * (band, bucket); (corpus, batch) pairs colliding in several bands
    * are kept only at the FIRST agreeing band — flat element_at
    * arithmetic over the two carried bucket arrays, in whole-stage
    * codegen, no distinct over the candidate stream — and the agreement
    * estimate runs inline. Shuffle volume ≈ one pass of each side's
    * exploded signatures. */
  private[graft] def shuffledMatches(index: SigIndex, batch: DataFrame,
      threshold: Double): DataFrame = {
    val bands = index.bands
    val batchB = batch.select(col("doc_id").as("q_id"), col("sig").as("q_sig"),
      col("bkts").as("q_bkts"), posexplode(col("bkts")).as(Seq("band", "bucket")))
    val corpusB = index.sigs.select(col("doc_id").as("c_id"), col("sig"),
      col("bkts"), posexplode(col("bkts")).as(Seq("band", "bucket")))
    // first agreeing band: the joined band always agrees; keep the row
    // only if no LOWER band agrees
    val agreeBits = (0 until bands).map { b =>
      when(element_at(col("bkts"), b + 1) === element_at(col("q_bkts"), b + 1),
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val earlierMask = expr("shiftleft(CAST(1 AS BIGINT), band)") - lit(1L)
    corpusB.join(batchB, Seq("band", "bucket"))
      .filter(agreeBits.bitwiseAND(earlierMask) === 0L)
      .withColumn("est",
        org.apache.spark.sql.graft.ColumnBridge
          .matchCountMin(col("sig"), col("q_sig"),
            MinHashLsh.estMinCount(index.k, threshold)).cast("double") / lit(index.k))
      .filter(col("est") >= threshold)
      .groupBy(col("q_id").as("doc_id"))
      .agg(min(col("c_id")).as("dup_of"), max(col("est")).as("match_est"))
  }

  /** The streaming ingest loop: each micro-batch of documents is probed
    * against the signature index, its flags appended to `outPath`, and
    * the CLEAN documents' signatures appended to the index — so every
    * micro-batch dedups against the corpus PLUS all earlier batches. This
    * is the `foreachBatch` idiom production ingest runs: micro-batches
    * execute sequentially, so the read-probe-append cycle needs no
    * locking, and the checkpoint makes the loop restartable (a replayed
    * batch re-flags identically; its re-appended signatures are exact
    * duplicates that only cost index space until the next [[compact]]).
    *
    * Intra-batch duplicates are not flagged (dedupAgainst semantics);
    * shrink the trigger or run MinHashLsh.exactPairs inside the batch if
    * that matters.
    *
    * `prepare` runs on each micro-batch BEFORE dedup — the hook where the
    * curation gate plugs in (`TextAnalysis.curate`-style filters, PII
    * redaction, normalization): documents it drops are neither flagged,
    * written, nor signed, so the standard curate→dedup→append ingest
    * pipeline is this one call. Must be a per-row transform preserving
    * doc_id/text (stage fusion keeps the batch single-pass).
    *
    * Indexes that opted into the bucket-Bloom sidecar
    * ([[writeBucketBloom]]) gate every micro-batch's probe automatically,
    * and the append leg keeps the sidecar merged — no extra wiring. */
  def streamingIngest(docsStream: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, threshold: Double = 0.9,
      prepare: DataFrame => DataFrame = identity)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        val spark = batch.sparkSession
        val idx = openSignatures(spark, indexPath)
        val prepared = prepare(batch.toDF())
        // sign the micro-batch ONCE: the probe and the survivor append
        // share this checkpointed frame (re-signing survivors from raw
        // text would run the k×tokens minhash kernel — the dominant
        // per-batch compute — twice per batch)
        val signedBatch = signed(prepared, idx.k, idx.bands)
          .localCheckpoint(true)
        // materialized: the flags are written AND drive the append filter
        val flagged = dedupAgainstSigned(idx, signedBatch, threshold)
          .localCheckpoint(true)
        flagged.write.mode("append").parquet(outPath)
        appendSigned(idx, signedBatch.join(
          flagged.filter(!col("is_duplicate")).select("doc_id"), "doc_id"))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
