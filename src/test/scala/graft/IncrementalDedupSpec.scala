package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.IncrementalDedup
import graft.sources.Tables

/** Incremental (batch-vs-corpus) dedup over the persisted signature
  * index: the bipartite first-agree join must equal the brute-force
  * quadratic form, planted copies must be flagged against their source,
  * and the append step must make earlier batches visible to later ones. */
class IncrementalDedupSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("inc-dedup-spec").toString

  test("bucket-Bloom gate never changes dedupAgainst results and survives append-merge") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val idx = IncrementalDedup.openSignatures(spark, path)
    def run() = IncrementalDedup.dedupAgainst(idx, batch)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
      .sortBy(_._1)
    val ungated = run()               // no sidecar yet: plain probe
    IncrementalDedup.writeBucketBloom(spark, path)
    val gated = run()                 // sidecar present: gated probe
    assert(gated.sameElements(ungated),
      "the Bloom gate is an optimization and must never change results")
    assert(ungated.exists(_._2), "no duplicates flagged — gate not exercised")
    // the gate actually prunes: docs sharing no corpus band bucket fail it
    val bloom = IncrementalDedup.readBucketBloom(spark, path).get._1
    import spark.implicits._
    val fresh = (0 until 500).map(i =>
      (900000L + i, s"totally novel text $i with unshared vocabulary $i")).toDF("doc_id", "text")
    val freshSigned = IncrementalDedup.signed(fresh, idx.k, idx.bands)
    val passed = freshSigned
      .filter(IncrementalDedup.bucketBloomGate(bloom)).count()
    assert(passed < 500, s"gate passed all $passed/500 novel docs — prunes nothing")
    // the driver-side predicate (held and pruned routes) keeps the EXACT
    // same survivor set as the in-plan gate — same keys, same bits
    val fs2 = freshSigned.localCheckpoint(true)
    val distSurv = fs2.filter(IncrementalDedup.bucketBloomGate(bloom))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val filter = org.apache.spark.util.sketch.BloomFilter.readFrom(bloom)
    val drvSurv = fs2.select("doc_id", "bkts").collect()
      .filter(r => IncrementalDedup.mightShareBucket(filter, r.getSeq[Int](1).toArray))
      .map(_.getLong(0)).sorted
    assert(drvSurv.sameElements(distSurv),
      "driver-side and in-plan gate disagree on survivors")
    // append merges the batch's buckets in: a copy of an appended doc
    // must still gate through and flag on the NEXT probe
    IncrementalDedup.appendSignatures(idx, fresh)
    val idx2 = IncrementalDedup.openSignatures(spark, path)
    val copies = fresh.limit(20).withColumn("doc_id", col("doc_id") + 1000000L)
    val flagged = IncrementalDedup.dedupAgainst(idx2, copies)
      .filter(col("is_duplicate")).count()
    assert(flagged === 20L,
      s"only $flagged/20 copies of appended docs flagged — append-merge broke the gate")
  }

  test("bucket-Bloom sidecar is not clamped by Spark's runtime-filter conf maxima") {
    // BloomFilterAggregate Math.min-clamps its parameters against
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
    // (4M / 67,108,864 defaults — sized for join pruning, not for a
    // corpus sidecar). A 1M-doc expectation needs 16M items and ~153M
    // bits at fpp 0.01; under the clamp the written filter would be
    // 8 MB of near-saturated bits while the meta claims otherwise.
    // writeBucketBloom must deliver the REQUESTED geometry.
    val docs = Tables.documents(spark, sf)
    val path = tmp()
    IncrementalDedup.saveSignatures(docs, path)
    IncrementalDedup.writeBucketBloom(spark, path, fpp = 0.01,
      expectedDocs = 1000000L)
    val (bytes, items, bits) = IncrementalDedup.readBucketBloom(spark, path).get
    assert(items === 16000000L)
    assert(bits === graft.operators.BloomDedup.optimalNumBits(items, 0.01))
    assert(bits > 67108864L, "test premise: requested bits must exceed the clamp")
    // the WRITTEN filter carries the requested bitset, not the clamp
    assert(bytes.length.toLong >= bits / 8,
      s"sidecar is ${bytes.length} bytes — clamped below the ${bits}-bit request")
    // ...and the build restored the session confs (defaults back in force)
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits") === "67108864")
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems") === "4000000")
  }

  test("bucket-Bloom sidecar: builds over un-compacted deltas, survives empty appends, dies with a rebuild") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val extra = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 === 0)
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val idx = IncrementalDedup.openSignatures(spark, path)
    // leave an UN-compacted delta/ behind, then build the sidecar: the
    // documented base+delta path (a build after appends, or after a crash
    // left a delta) must not throw on the layout column mismatch
    IncrementalDedup.appendSignatures(idx, extra)
    IncrementalDedup.writeBucketBloom(spark, path)
    // the filter covers the DELTA docs too: a copy of an appended doc
    // gates through and flags
    val idx2 = IncrementalDedup.openSignatures(spark, path)
    val copies = extra.limit(5).withColumn("doc_id", col("doc_id") + 5000000L)
    assert(IncrementalDedup.dedupAgainst(idx2, copies)
      .filter(col("is_duplicate")).count() === 5L,
      "sidecar built over base+delta must cover delta docs")
    // an EMPTY micro-batch append (possible under streamingIngest) must
    // not NPE in the sidecar merge
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    IncrementalDedup.appendSignatures(idx2, empty)
    // rebuilding the index in place over a DIFFERENT corpus must not
    // leave the old corpus's sidecar live (silent false negatives)
    IncrementalDedup.saveSignatures(extra, path)
    assert(IncrementalDedup.readBucketBloom(spark, path).isEmpty,
      "rebuild left a stale bucket-Bloom sidecar — gate would filter " +
        "the new corpus with the old corpus's keys")
  }

  test("bipartite first-agree equals the brute-force form on real documents") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val idx = IncrementalDedup.openSignatures(spark, path)
    val got = IncrementalDedup.dedupAgainst(idx, batch, 0.7)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet

    // brute force: every (corpus, batch) pair sharing ANY band bucket,
    // estimate from the same stored signatures
    val k = idx.k
    val cs = idx.sigs.select(col("doc_id").as("c_id"), col("sig").as("c_sig"),
      col("bkts").as("c_bkts"))
    val bs = IncrementalDedup.openSignatures(spark, path) // same params
    val batchSigned = {
      // re-sign the batch through the public API: save to a scratch path
      val p2 = tmp()
      IncrementalDedup.saveSignatures(batch, p2, idx.k, idx.bands)
      IncrementalDedup.openSignatures(spark, p2).sigs
    }
    val truth = batchSigned.select(col("doc_id").as("q_id"),
        col("sig").as("q_sig"), col("bkts").as("q_bkts"))
      .crossJoin(cs)
      .filter(arrays_overlap(
        zip_with(col("c_bkts"), col("q_bkts"), (a, b) => a === b),
        array(lit(true))))
      .withColumn("est", agreement("c_sig", "q_sig").cast("double") / lit(k))
      .filter(col("est") >= 0.7)
      .groupBy(col("q_id"))
      .agg(min("c_id").as("dup_of"), max("est").as("match_est"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = batchIds.map { id =>
      truth.get(id) match {
        case Some((d, e)) => (id, true, Option(d), Option(e))
        case None => (id, false, Option.empty[Long], Option.empty[Double])
      }
    }
    assert(got === expect)
    assert(got.exists(_._2), "the sf0.001 corpus should contain cross-split near-dups")
    assert(bs.k === idx.k)
  }

  test("planted copies are flagged with their source; fresh text is not") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "completely different content about spark catalyst optimizer rules"),
      (12L, "yet another unrelated document mentioning parquet column pruning"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (101L, "no overlap with anything stored in this tiny signature corpus at all"))
      .toDF("doc_id", "text")
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val got = IncrementalDedup
      .dedupAgainst(IncrementalDedup.openSignatures(spark, path), batch)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got(100L) === ((true, Some(10L), Some(1.0))))
    assert(got(101L) === ((false, None, None)))
  }

  test("streamingIngest dedups each micro-batch against corpus plus earlier batches") {
    import spark.implicits._
    val root = tmp()
    val stage = s"$root/incoming"
    new java.io.File(stage).mkdirs()
    // corpus index
    val corpus = Seq(
      (1L, "shared knowledge corpus document about distributed query engines"),
      (2L, "another stored document on columnar storage and vectorized scans"))
      .toDF("doc_id", "text")
    IncrementalDedup.saveSignatures(corpus, s"$root/index")
    // two micro-batches, ordered by file modification time:
    // batch1 = fresh doc A; batch2 = copy of corpus doc 1, copy of A, fresh
    Seq((100L, "entirely new material arriving in the first micro batch today"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$stage/b=1")
    Thread.sleep(1500)
    Seq(
      (200L, "shared knowledge corpus document about distributed query engines"),
      (201L, "entirely new material arriving in the first micro batch today"),
      (202L, "nothing resembling any earlier text appears in this document"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$stage/b=2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(stage)
    val q = IncrementalDedup.streamingIngest(stream, s"$root/index",
      s"$root/flags", s"$root/ckpt")
    q.awaitTermination(120000)
    val flags = spark.read.parquet(s"$root/flags")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)))).toMap
    assert(flags(100L) === ((false, None)))
    assert(flags(200L) === ((true, Some(1L))), "corpus dup must be flagged")
    assert(flags(201L) === ((true, Some(100L))),
      "batch-1 doc must be probe-visible to batch 2 (mid-stream append)")
    assert(flags(202L) === ((false, None)))
  }

  test("streamingIngest over a bucket-Bloom'd index: two-tier end-to-end, flags identical") {
    import spark.implicits._
    val root = tmp()
    val stage = s"$root/incoming"
    new java.io.File(stage).mkdirs()
    val corpus = Seq(
      (1L, "shared knowledge corpus document about distributed query engines"),
      (2L, "another stored document on columnar storage and vectorized scans"))
      .toDF("doc_id", "text")
    IncrementalDedup.saveSignatures(corpus, s"$root/index")
    // the two-tier shape: gate → (short-circuit | probe) every micro-batch
    IncrementalDedup.writeBucketBloom(spark, s"$root/index", fpp = 1e-5)
    // batch 1 is ALL-new (short-circuit path: no corpus scan); batch 2
    // holds a corpus dup AND a dup of batch 1 — proving the append leg
    // merged batch 1's keys into the sidecar mid-stream (a stale sidecar
    // would gate doc 201 out and silently miss the duplicate)
    Seq((100L, "entirely new material arriving in the first micro batch today"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$stage/b=1")
    Thread.sleep(1500)
    Seq(
      (200L, "shared knowledge corpus document about distributed query engines"),
      (201L, "entirely new material arriving in the first micro batch today"),
      (202L, "nothing resembling any earlier text appears in this document"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$stage/b=2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(stage)
    val q = IncrementalDedup.streamingIngest(stream, s"$root/index",
      s"$root/flags", s"$root/ckpt")
    q.awaitTermination(120000)
    val flags = spark.read.parquet(s"$root/flags")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)))).toMap
    // identical to the ungated run's contract (previous test)
    assert(flags(100L) === ((false, None)))
    assert(flags(200L) === ((true, Some(1L))), "corpus dup must gate through")
    assert(flags(201L) === ((true, Some(100L))),
      "appended doc's keys must be in the sidecar (mid-stream merge)")
    assert(flags(202L) === ((false, None)))
  }

  test("streamingIngest's prepare hook gates batches before dedup (curate→dedup→append)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val root = tmp()
    val stage = s"$root/incoming"
    new java.io.File(stage).mkdirs()
    IncrementalDedup.saveSignatures(Seq(
      (1L, "shared knowledge corpus document about distributed query engines"))
      .toDF("doc_id", "text"), s"$root/index")
    val spam = "buy now buy now buy now buy now buy now buy now"
    // batch 1: spam (gated out), corpus dup, fresh doc
    Seq(
      (300L, spam),
      (301L, "shared knowledge corpus document about distributed query engines"),
      (302L, "genuinely novel curated content that survives the quality gate"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$stage/b=1")
    Thread.sleep(1500)
    // batch 2: copy of the batch-1 survivor (must be flagged against it —
    // proves the SURVIVOR was signed), another spam copy (gated out, so
    // never flagged even though 300 was never signed either)
    Seq(
      (400L, "genuinely novel curated content that survives the quality gate"),
      (401L, spam))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$stage/b=2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(stage)
    val gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => TextAnalysis.withRepetition(d, 0.18, 0.3)
        .filter(!col("repetitive")).select("doc_id", "text")
    val q = IncrementalDedup.streamingIngest(stream, s"$root/index",
      s"$root/flags", s"$root/ckpt", prepare = gate)
    q.awaitTermination(120000)
    val flags = spark.read.parquet(s"$root/flags")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)))).toMap
    assert(flags.keySet === Set(301L, 302L, 400L),
      s"gated docs must be neither flagged nor written: $flags")
    assert(flags(301L) === ((true, Some(1L))))
    assert(flags(302L) === ((false, None)))
    assert(flags(400L) === ((true, Some(302L))),
      "the gated batch's survivor must have been signed")
  }

  test("streamingIngest with ingestPrepare equals the batch composition (online assembly twin)") {
    import spark.implicits._
    import graft.operators.Pipeline
    val root = tmp()
    val stage = s"$root/incoming"
    new java.io.File(stage).mkdirs()
    val corpus = Seq(
      (1L, "shared knowledge corpus document about distributed query engines", "web"),
      (2L, "another stored document on columnar storage and vectorized scans", "web"))
      .toDF("doc_id", "text", "source")
    IncrementalDedup.saveSignatures(corpus.select("doc_id", "text"),
      s"$root/index")
    val spam = "buy now buy now buy now buy now buy now buy now"
    val b1 = Seq(
      (300L, spam, "web"),                                              // curated out
      (301L, "entirely new material arriving in the first micro batch", "web"),
      (302L, "shared knowledge corpus document about distributed query engines", "junk"), // sampled out
      (303L, "genuinely novel curated content that survives the quality gate", "web"))
      .toDF("doc_id", "text", "source")
    val b2 = Seq(
      (400L, "genuinely novel curated content that survives the quality gate", "web"), // dup of 303
      (401L, "shared knowledge corpus document about distributed query engines", "web"), // corpus dup
      (402L, "entirely new material arriving in the first micro batch", "junk")) // sampled out
      .toDF("doc_id", "text", "source")
    val rates = Map("junk" -> 0)
    val prepare = Pipeline.ingestPrepare(rates, defaultPct = 100)

    // ---- batch twin: the same recipe run by hand, batch by batch ----
    val twinRoot = tmp()
    IncrementalDedup.saveSignatures(corpus.select("doc_id", "text"),
      s"$twinRoot/index")
    def twinStep(b: org.apache.spark.sql.DataFrame) = {
      val idx = IncrementalDedup.openSignatures(spark, s"$twinRoot/index")
      val prepared = prepare(b)
      val flagged = IncrementalDedup.dedupAgainst(idx, prepared)
        .localCheckpoint(true)
      IncrementalDedup.appendSignatures(idx, prepared.join(
        flagged.filter(!col("is_duplicate")).select("doc_id"), "doc_id"))
      flagged.collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)))).toMap
    }
    val want = twinStep(b1) ++ twinStep(b2)

    // ---- the streaming loop over the same two micro-batches ----
    b1.coalesce(1).write.parquet(s"$stage/b=1")
    Thread.sleep(1500)
    b2.coalesce(1).write.parquet(s"$stage/b=2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, source STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(stage)
    val q = IncrementalDedup.streamingIngest(stream, s"$root/index",
      s"$root/flags", s"$root/ckpt", prepare = prepare)
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$root/flags")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)))).toMap
    assert(got === want,
      s"streaming flags diverge from the batch twin:\n got=$got\nwant=$want")
    // and the recipe semantics held: curation dropped the spam, the
    // mixture dropped the junk-source docs, cross-batch dedup fired
    assert(got.keySet === Set(301L, 303L, 400L, 401L))
    assert(got(400L) === ((true, Some(303L))))
    assert(got(401L) === ((true, Some(1L))))
  }

  test("probe prunes both layout scans at the source (PartitionFilters)") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 100 === 0) // small → sparse pb set
    val path = tmp()
    // explicit partition counts far above the batch's footprint, so the
    // pb/sp sets are strict subsets and pruning is observable
    IncrementalDedup.saveSignatures(corpus, path, parts = 64, sigParts = 16)
    val idx = IncrementalDedup.openSignatures(spark, path)
    def partitionFilter(df: org.apache.spark.sql.DataFrame,
        partCol: String): String = {
      val plan = df.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      val hit = pf.filter(f => f.contains(partCol) && f.trim.nonEmpty)
      assert(hit.nonEmpty, s"no $partCol partition filter at the scan:\n$plan")
      hit.head
    }
    // compose the probe exactly as dedupAgainst does, stopping before the
    // eager checkpoints so the scans stay inspectable
    val p = graft.operators.IndexMeta.readDirMeta(spark, s"$path/buckets")
    val sp = graft.operators.IndexMeta.readDirMeta(spark, s"$path/sigs")
    val signedBatch = IncrementalDedup.signed(batch, idx.k, idx.bands)
    val batchB = IncrementalDedup.batchBuckets(signedBatch, p)
      .localCheckpoint(true)
    val pbs = batchB.select("pb").distinct().collect().map(_.getInt(0)).toSeq
    assert(pbs.size < p, "batch pb set must be a strict subset for this spec")
    val cand = IncrementalDedup.candidates(spark, path, batchB, pbs, None,
      batchB.count())
    partitionFilter(cand, "pb")
    val sps = cand.select(pmod(col("c_id"), lit(sp.toLong)).cast("int").as("s"))
      .distinct().collect().map(_.getInt(0)).toSeq
    partitionFilter(IncrementalDedup.prunedSigs(spark, path, sps), "sp")
    // and the full probe over this pruned layout flags real duplicates
    val flagged = IncrementalDedup.dedupAgainst(idx, batch, 0.7)
    assert(flagged.filter(col("is_duplicate")).count() > 0)
  }

  test("frozen build-time geometry never changes answers, only cost") {
    val docs = Tables.documents(spark, sf)
    // build at SMALL n (60 docs → tiny auto partition counts), then grow
    // the index far past build size through appends
    val small = docs.filter(col("doc_id") < 60)
    val grown = docs.filter(col("doc_id") >= 60 && col("doc_id") % 5 =!= 0)
    val probe = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") >= 60)
    val frozenPath = tmp()
    IncrementalDedup.saveSignatures(small, frozenPath)
    val frozen = IncrementalDedup.openSignatures(spark, frozenPath)
    IncrementalDedup.appendSignatures(frozen, grown)
    val frozenFlags = IncrementalDedup.dedupAgainst(
        IncrementalDedup.openSignatures(spark, frozenPath), probe, 0.8)
      .collect().map(_.toSeq).toSet
    // the same corpus indexed FRESH (auto geometry resolved at full size)
    val freshPath = tmp()
    IncrementalDedup.saveSignatures(small.unionByName(grown), freshPath)
    val freshFlags = IncrementalDedup.dedupAgainst(
        IncrementalDedup.openSignatures(spark, freshPath), probe, 0.8)
      .collect().map(_.toSeq).toSet
    assert(frozenFlags.exists(_(1) == true), "probe must flag something")
    assert(frozenFlags === freshFlags,
      "geometry affects cost and recall telemetry, never the flags")
  }

  test("pruned and streamed probe paths are row-identical") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val idx = IncrementalDedup.openSignatures(spark, path)
    val signedBatch = IncrementalDedup.signed(batch, idx.k, idx.bands)
      .localCheckpoint(true)
    // drive BOTH match paths on the identical signed batch: the path
    // dedupAgainst picks is a cost decision, never a semantic one
    val pruned = IncrementalDedupSpec.prunedMatchSet(idx, signedBatch, 0.8)
    val streamed = IncrementalDedupSpec.heldMatchSet(idx, signedBatch, 0.8)
    assert(pruned.nonEmpty, "threshold 0.8 must flag something on this corpus")
    assert(pruned === streamed)
  }

  test("probe routing: streamed below the corpus floor, pruned above") {
    import IncrementalDedup.{useStreamedProbe, StreamedCorpusDocsFloor, StreamingBatchFraction}
    // any micro-batch streams while the index is small enough that one
    // scan undercuts the pruned path's fixed job floor
    assert(useStreamedProbe(500L, StreamedCorpusDocsFloor))
    assert(useStreamedProbe(1L, StreamedCorpusDocsFloor))
    // past the floor, micro-batches go pruned...
    assert(!useStreamedProbe(500L, StreamedCorpusDocsFloor + 1))
    // ...but corpus-scale batches still stream — at ANY batch size: the
    // streamed join broadcasts only while the exploded batch fits the
    // heap-derived budget and shuffle-joins past it, so there is no
    // batch-size ceiling to route around (r14 — the old 50k cap sent a
    // 100k-doc corpus-scale probe to the pruned path, which
    // materialized its ~10× candidate set at 139.6 s)
    val big = StreamedCorpusDocsFloor * 4
    assert(useStreamedProbe(big / StreamingBatchFraction, big))
    assert(useStreamedProbe(big, big))
  }

  test("appended batches are visible to later batches") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (50L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val b2 = Seq(
      (90L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val idx1 = IncrementalDedup.openSignatures(spark, path)
    val before = IncrementalDedup.dedupAgainst(idx1, b2)
      .collect().map(r => (r.getBoolean(1))).head
    assert(!before, "b2 must be clean before b1 is appended")
    IncrementalDedup.appendSignatures(idx1, b1)
    val idx2 = IncrementalDedup.openSignatures(spark, path)
    val after = IncrementalDedup.dedupAgainst(idx2, b2)
      .collect().map(r => (r.getBoolean(1), Option(r.get(2)))).head
    assert(after === ((true, Some(50L))))
  }

  test("compact drops replayed duplicates and preserves flagging exactly") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch1 = docs.filter(col("doc_id") % 10 === 0)
    val batch2 = docs.filter(col("doc_id") % 10 === 5)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val idx = IncrementalDedup.openSignatures(spark, path)
    // two append rounds, the first REPLAYED (crash-recovery double-append)
    IncrementalDedup.appendSignatures(idx, batch1)
    IncrementalDedup.appendSignatures(idx, batch1)
    IncrementalDedup.appendSignatures(idx, batch2)
    val bloated = IncrementalDedup.openSignatures(spark, path)
    val expectedIds = bloated.sigs.select("doc_id").distinct().count()
    assert(bloated.sigs.count() > expectedIds, "replay must leave duplicates")
    val flagsBefore = IncrementalDedup.dedupAgainst(bloated, probe, 0.7)
      .collect().map(_.toSeq).toSet

    // a stale sigs_old from an earlier crashed compact must not make the
    // swap silently no-op (Hadoop rename reports failure by returning
    // false when the target exists)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$path/sigs_old"))
    IncrementalDedup.compact(spark, path, numFiles = 4)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/sigs_old")))
    val compacted = IncrementalDedup.openSignatures(spark, path)
    // duplicates gone, params sidecar intact, file count bounded
    assert(compacted.sigs.count() === expectedIds)
    assert((compacted.k, compacted.bands) === ((idx.k, idx.bands)))
    // v2 layout nests parquet files under sp=… partition dirs; numFiles
    // bounds the writing tasks, so each dir holds at most numFiles files
    def parquetFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    val perDir = parquetFiles(s"$path/sigs").groupBy(_.getParentFile).values
    assert(perDir.nonEmpty && perDir.forall(_.size <= 4))
    // flagging over the compacted index is row-identical
    val flagsAfter = IncrementalDedup.dedupAgainst(compacted, probe, 0.7)
      .collect().map(_.toSeq).toSet
    assert(flagsAfter === flagsBefore)
  }

  test("compact recovers a live dir lost between swap renames instead of sweeping it") {
    import java.nio.file.{Files, Paths}
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp()
    IncrementalDedup.saveSignatures(corpus, path)
    val idx = IncrementalDedup.openSignatures(spark, path)
    val flagsBefore = IncrementalDedup.dedupAgainst(idx, probe, 0.7)
      .collect().map(_.toSeq).toSet

    // simulate a compact that crashed between swapDir's two renames:
    // live sigs/ is GONE, the only complete copy sits in sigs_new (the
    // written-complete rewrite), plus a stale junk sigs_old. The old
    // sweep-first code deleted BOTH archives and then failed on the
    // missing live dir — permanent loss of the signature base.
    Files.move(Paths.get(s"$path/sigs"), Paths.get(s"$path/sigs_new"))
    Files.createDirectory(Paths.get(s"$path/sigs_old"))
    IncrementalDedup.compact(spark, path, numFiles = 4)
    val afterNew = IncrementalDedup.dedupAgainst(
      IncrementalDedup.openSignatures(spark, path), probe, 0.7)
      .collect().map(_.toSeq).toSet
    assert(afterNew === flagsBefore)

    // fallback leg: only the pre-compact archive survives (_old, no _new)
    Files.move(Paths.get(s"$path/buckets"), Paths.get(s"$path/buckets_old"))
    IncrementalDedup.compact(spark, path, numFiles = 4)
    val afterOld = IncrementalDedup.dedupAgainst(
      IncrementalDedup.openSignatures(spark, path), probe, 0.7)
      .collect().map(_.toSeq).toSet
    assert(afterOld === flagsBefore)
  }

  test("sidecar records real row counts so probe routing survives pinned partition counts") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val n = corpus.count()
    val path = tmp()
    // a pinned sigParts way above the auto size: the old corpus estimate
    // (sp × DocsPerSigDir) would be ~64×1024 regardless of real size
    IncrementalDedup.saveSignatures(corpus, path, parts = 8, sigParts = 64)
    assert(graft.operators.IndexMeta.readDirRows(spark, s"$path/sigs")
      === Some(n))
    // compact refreshes the count
    IncrementalDedup.compact(spark, path, numFiles = 4)
    assert(graft.operators.IndexMeta.readDirRows(spark, s"$path/sigs")
      === Some(n))
  }

  // ---- held-batch scan ---------------------------------------------

  /** A high-collision synthetic corpus: every doc is one of six 10-word
    * token sets over a 16-word vocabulary with 0-3 words swapped by id,
    * so many docs share an exact token set and most pairs collide in
    * some band. */
  private def collidingText(id: Long): String = {
    val base = (id % 6).toInt
    val words = (0 until 10).map(j => s"v${(base + j) % 16}").toArray
    for (s <- 0 until ((id / 6) % 4).toInt)
      words((s * 3 + id.toInt) % 10) = s"v${(base + 10 + s) % 16}"
    words.mkString(" ")
  }

  private def collidingDocs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, collidingText(id))).toDF("doc_id", "text")
  }

  /** Agreement count of two signature columns by Spark built-ins, so the
    * reference stays independent of the estimate kernel. */
  private def agreement(a: String, b: String) =
    size(filter(zip_with(col(a), col(b), (x, y) => x === y), m => m))

  /** (doc_id, dup_of, match_est) by brute force: every (corpus, batch)
    * pair sharing ANY band bucket, full agreement count, est ≥ θ. */
  private def bruteMatches(idx: IncrementalDedup.SigIndex,
      batch: org.apache.spark.sql.DataFrame, threshold: Double): Set[Seq[Any]] =
    batch.select(col("doc_id").as("q_id"), col("sig").as("q_sig"),
        col("bkts").as("q_bkts"))
      .crossJoin(idx.sigs.select(col("doc_id").as("c_id"), col("sig").as("c_sig"),
        col("bkts").as("c_bkts")))
      .filter(arrays_overlap(
        zip_with(col("c_bkts"), col("q_bkts"), (a, b) => a === b), array(lit(true))))
      .withColumn("est", agreement("c_sig", "q_sig").cast("double") / lit(idx.k))
      .filter(col("est") >= threshold)
      .groupBy(col("q_id").as("doc_id"))
      .agg(min("c_id").as("dup_of"), max("est").as("match_est"))
      .collect().map(_.toSeq).toSet

  /** dedupAgainstSigned's flags as sorted "doc_id,is_dup,dup_of,est"
    * lines, plus the analyzed plan that produced them. */
  private def flagsOf(idx: IncrementalDedup.SigIndex,
      signedBatch: org.apache.spark.sql.DataFrame, threshold: Double): (Seq[String], String) = {
    val df = IncrementalDedup.dedupAgainstSigned(idx, signedBatch, threshold)
    (df.collect().map(_.toSeq.mkString(",")).sorted.toSeq, df.queryExecution.analyzed.toString)
  }

  /** The flags brute-force matches imply, one line per batch row. */
  private def flagsFrom(truth: Set[Seq[Any]],
      signedBatch: org.apache.spark.sql.DataFrame): Seq[String] = {
    val byId = truth.map(r => r.head -> r.tail).toMap
    signedBatch.select("doc_id").collect().map { r =>
      byId.get(r.get(0)).fold(s"${r.get(0)},false,null,null")(m =>
        s"${r.get(0)},true,${m.mkString(",")}")
    }.sorted.toSeq
  }

  /** The three routes of dedupAgainstSigned on one signed batch — the
    * held-batch scan, the shuffle join (forced through the
    * broadcast-budget property) and the pruned probe (forced through the
    * recorded corpus size) — each checked against brute force. The
    * route each one took shows in its plan: only the SQL forms carry the
    * batch signature column, and only the shuffle join carries the
    * batch's bucket array. Returns the brute-force matches. */
  private def assertAllPathsMatchBruteForce(idx: IncrementalDedup.SigIndex,
      signedBatch: org.apache.spark.sql.DataFrame, threshold: Double): Set[Seq[Any]] = {
    val truth = bruteMatches(idx, signedBatch, threshold)
    val want = flagsFrom(truth, signedBatch)
    val (held, heldPlan) = flagsOf(idx, signedBatch, threshold)
    val (shuffled, shuffledPlan) = {
      System.setProperty("graft.broadcastBudgetBytes", "1")
      try flagsOf(idx, signedBatch, threshold)
      finally System.clearProperty("graft.broadcastBudgetBytes")
    }
    val (pruned, prunedPlan) = IncrementalDedupSpec.asPruned(spark, idx.path)(
      flagsOf(idx, signedBatch, threshold))
    assert(held === want, s"held-batch scan differs from brute force at θ=$threshold")
    assert(shuffled === want, s"shuffle branch differs from brute force at θ=$threshold")
    assert(pruned === want, s"pruned probe differs from brute force at θ=$threshold")
    // a batch with matches reaches every route's probe (an empty kept
    // set short-circuits all three to a local relation)
    if (truth.nonEmpty) {
      assert(!heldPlan.contains("q_sig"), "a budget-sized batch must take the held-batch scan")
      assert(shuffledPlan.contains("q_bkts"), "the forced budget must take the shuffle join")
      assert(prunedPlan.contains("q_sig") && !prunedPlan.contains("q_bkts"),
        "a 10⁶-row corpus must route the micro-batch pruned")
    }
    truth
  }

  test("held-batch scan, shuffle branch and pruned probe equal brute force on a high-collision index") {
    import spark.implicits._
    val path = tmp()
    IncrementalDedup.saveSignatures(collidingDocs(1L to 240L), path)
    // delta rows, appended twice: a replayed duplicate append
    val delta = collidingDocs(1001L to 1040L)
    IncrementalDedup.appendSignatures(IncrementalDedup.openSignatures(spark, path), delta)
    IncrementalDedup.appendSignatures(IncrementalDedup.openSignatures(spark, path), delta)
    // tombstoned ids in the base and in the delta: ids 1 and 7 are the
    // smallest keepers of several token sets, so dup_of must move on
    IncrementalDedup.deleteDocs(spark, path, Seq(1L, 7L, 1003L))
    val idx = IncrementalDedup.openSignatures(spark, path)
    // the batch: near copies, fresh text, and a doc_id repeated with
    // different text (every row of an id gets the id's merged answer)
    val batchDocs = collidingDocs(5001L to 5060L)
      .unionByName(Seq((5061L, "fresh words nobody indexed ever"),
        (5001L, collidingText(2L))).toDF("doc_id", "text"))
    val signedBatch = IncrementalDedup.signed(batchDocs, idx.k, idx.bands)
      .localCheckpoint(true)
    val at09 = assertAllPathsMatchBruteForce(idx, signedBatch, 0.9)
    assert(at09.nonEmpty, "θ=0.9 must flag something on this corpus")
    assert(!at09.exists(r => Set(1L, 7L, 1003L)(r(1).asInstanceOf[Long])),
      "a tombstoned id survived as dup_of")
    // θ exactly at an estMinCount boundary: a pair whose agreement count
    // is exactly the decision floor must pass, one below must not
    // (agreement counts of the CANDIDATE pairs — those sharing a band)
    val k = idx.k
    val counts = signedBatch.select(col("sig").as("q_sig"), col("bkts").as("q_bkts"))
      .crossJoin(idx.sigs.select(col("sig").as("c_sig"), col("bkts").as("c_bkts")))
      .filter(arrays_overlap(
        zip_with(col("c_bkts"), col("q_bkts"), (a, b) => a === b), array(lit(true))))
      .select(agreement("c_sig", "q_sig").as("c"))
      .distinct().collect().map(_.getInt(0)).toSet
    val c = counts.filter(c => c < k && counts(c - 1)).max
    val theta = c.toDouble / k
    assert(graft.operators.MinHashLsh.estMinCount(k, theta) === c)
    assert(assertAllPathsMatchBruteForce(idx, signedBatch, theta).nonEmpty)
    // dedupAgainst on the held route agrees row for row with the forced
    // shuffle route, repeated id included
    def flags() = IncrementalDedup.dedupAgainst(idx, batchDocs, 0.9)
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val heldFlags = flags()
    System.setProperty("graft.broadcastBudgetBytes", "1")
    val shuffledFlags = try flags() finally System.clearProperty("graft.broadcastBudgetBytes")
    assert(heldFlags === shuffledFlags)
    val repeated = heldFlags.filter(_.startsWith("5001,"))
    assert(repeated.size === 2 && repeated.distinct.size === 1,
      s"both rows of a repeated id must carry the id's answer: $repeated")
  }

  test("held-batch scan on an all-gated-out batch and on an empty corpus") {
    import spark.implicits._
    val path = tmp()
    IncrementalDedup.saveSignatures(collidingDocs(1L to 120L), path)
    IncrementalDedup.writeBucketBloom(spark, path, fpp = 1e-6)
    val idx = IncrementalDedup.openSignatures(spark, path)
    val novel = (0 until 40).map(i =>
      (70000L + i, s"unseen$i words$i nobody$i indexed$i")).toDF("doc_id", "text")
    val novelSigned = IncrementalDedup.signed(novel, idx.k, idx.bands)
      .localCheckpoint(true)
    val bloom = IncrementalDedup.readBucketBloom(spark, path).get._1
    val gatedOut = novelSigned.filter(!IncrementalDedup.bucketBloomGate(bloom))
      .localCheckpoint(true)
    assert(gatedOut.count() > 0, "test premise: some novel docs must fail the gate")
    assert(assertAllPathsMatchBruteForce(idx, gatedOut, 0.9).isEmpty)
    val flagged = IncrementalDedup.dedupAgainstSigned(idx, gatedOut, 0.9).collect()
    assert(flagged.length.toLong === gatedOut.count())
    assert(flagged.forall(r => !r.getBoolean(1) && r.isNullAt(2) && r.isNullAt(3)))
    // an empty logical corpus: every indexed doc tombstoned
    val emptyPath = tmp()
    IncrementalDedup.saveSignatures(collidingDocs(1L to 5L), emptyPath)
    IncrementalDedup.deleteDocs(spark, emptyPath, 1L to 5L)
    val empty = IncrementalDedup.openSignatures(spark, emptyPath)
    val batch = IncrementalDedup.signed(collidingDocs(1L to 12L), empty.k, empty.bands)
      .localCheckpoint(true)
    assert(assertAllPathsMatchBruteForce(empty, batch, 0.9).isEmpty)
    assert(IncrementalDedup.dedupAgainstSigned(empty, batch, 0.9)
      .filter(col("is_duplicate")).count() === 0L)
  }

  test("a 500-doc probe on a sub-floor index runs a pinned number of Spark jobs") {
    import spark.implicits._
    // the benchmark ingest shape: an index with an un-compacted delta, a
    // 500-doc batch with planted copies, the probe checkpointed as the
    // ingest loop does it
    val path = tmp()
    val texts = (1L to 2000L).map(id => (id,
      (0 until 30).map(j => s"t${(id * 7 + j * j) % 97}").mkString(" ")))
    IncrementalDedup.saveSignatures(texts.take(1800).toDF("doc_id", "text"), path)
    IncrementalDedup.appendSignatures(IncrementalDedup.openSignatures(spark, path),
      texts.drop(1800).toDF("doc_id", "text"))
    val idx = IncrementalDedup.openSignatures(spark, path)
    val batch = (0 until 500).map { i =>
      if (i % 5 < 2) (100000L + i, texts(i * 4)._2.split(" ").reverse.mkString(" "))
      else (100000L + i, s"fresh batch doc $i with words $i and more $i")
    }.toDF("doc_id", "text").localCheckpoint(true)
    val (flagged, jobs) = org.apache.spark.sql.graft.JobProbe(spark) {
      IncrementalDedup.dedupAgainst(idx, batch, 0.9).localCheckpoint(true)
    }
    // the batch count (which signs), the hold collect, the corpus scan,
    // the broadcast of the local matches and the flag join's checkpoint
    val maxJobs = 5
    assert(jobs.count <= maxJobs,
      s"${jobs.count} Spark jobs for one sub-floor 500-doc probe (pinned at $maxJobs)")
    assert(flagged.filter(col("is_duplicate")).count() === 200L)
  }

  test("the router's pruned branch flags like the held route and brute force") {
    import spark.implicits._
    import IncrementalDedupSpec.asPruned
    val path = tmp()
    IncrementalDedup.saveSignatures(collidingDocs(1L to 240L), path)
    IncrementalDedup.appendSignatures(IncrementalDedup.openSignatures(spark, path),
      collidingDocs(1001L to 1040L))
    val idx = IncrementalDedup.openSignatures(spark, path)
    // near copies, fresh text, and id 900 twice: one row copies an
    // indexed doc, the other is novel
    val batch = IncrementalDedup.signed(collidingDocs(5001L to 5040L).unionByName(
        Seq((5041L, "fresh words nobody indexed ever"), (900L, collidingText(3L)),
          (900L, "novel words nobody indexed here")).toDF("doc_id", "text")),
        idx.k, idx.bands).localCheckpoint(true)
    val want = flagsFrom(bruteMatches(idx, batch, 0.9), batch)
    assert(want.exists(_.contains(",true,")), "θ=0.9 must flag something on this corpus")
    assert(flagsOf(idx, batch, 0.9)._1 === want, "held route differs from brute force")
    def pruned(b: org.apache.spark.sql.DataFrame) = asPruned(spark, path) {
      val (flags, plan) = flagsOf(idx, b, 0.9)
      assert(!plan.contains("q_bkts"), "the pruned branch must not stream the index")
      flags
    }
    def prunedJobs() = org.apache.spark.sql.graft.JobProbe(spark) {
      asPruned(spark, path)(
        IncrementalDedup.dedupAgainstSigned(idx, batch, 0.9).localCheckpoint(true))
    }._2.count
    assert(pruned(batch) === want, "pruned branch without a sidecar differs")
    val plainJobs = prunedJobs()
    // with a bucket-Bloom sidecar: the novel row of id 900 fails the gate,
    // yet both rows of the id carry the id's answer
    IncrementalDedup.writeBucketBloom(spark, path, fpp = 1e-6)
    val bloom = IncrementalDedup.readBucketBloom(spark, path).get._1
    val gatedOut = batch.filter(!IncrementalDedup.bucketBloomGate(bloom))
      .localCheckpoint(true)
    assert(gatedOut.filter(col("doc_id") === 900L).count() === 1L,
      "test premise: exactly one row of id 900 fails the gate")
    val gated = pruned(batch)
    assert(gated === want, "pruned branch with a sidecar differs")
    val repeated = gated.filter(_.startsWith("900,"))
    assert(repeated.size === 2 && repeated.distinct.size === 1 &&
      repeated.head.contains(",true,"),
      s"both rows of a repeated id must carry the id's answer: $repeated")
    val gatedJobs = prunedJobs()
    // an all-gated-out batch short-circuits: every row flags false
    assert(pruned(gatedOut) === flagsFrom(Set.empty, gatedOut))
    // batch count, bucket collect, candidate materialization (its
    // aggregate runs under AQE), the probe's broadcasts and the
    // checkpoint: 12 on a 4-core local session. The gate adds none: it
    // runs inside the bucket collect
    val maxJobs = 12
    assert(plainJobs <= maxJobs && gatedJobs <= maxJobs,
      s"pruned probe ran $plainJobs jobs without and $gatedJobs with a sidecar (pinned at $maxJobs)")
  }

  test("bucket-Bloom sidecar bytes equal the SQL aggregate's and no session conf is written") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val docs = Tables.documents(spark, sf)
    val path = tmp()
    IncrementalDedup.saveSignatures(docs.filter(col("doc_id") % 5 =!= 0), path)
    val confBefore = spark.conf.getAll
    IncrementalDedup.writeBucketBloom(spark, path)
    assert(spark.conf.getAll === confBefore, "writeBucketBloom wrote session conf")
    val (bytes, items, bits) = IncrementalDedup.readBucketBloom(spark, path).get
    // the aggregate the sidecar was formerly built with, at parameters
    // under the runtime-filter conf maxima (so it is not clamped)
    assert(items <= 4000000L && bits <= 67108864L)
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    def aggBytes(sigRows: org.apache.spark.sql.DataFrame): Array[Byte] =
      sigRows.select(posexplode(col("bkts")).as(Seq("band", "bucket")))
        .select(xxhash64(col("band"), col("bucket")).as("key"))
        .agg(bridge.column(new BloomFilterAggregate(bridge.expression(col("key")),
          Literal(items), Literal(bits)).toAggregateExpression()).as("bf"))
        .head.getAs[Array[Byte]]("bf")
    val idx = IncrementalDedup.openSignatures(spark, path)
    assert(java.util.Arrays.equals(bytes, aggBytes(idx.sigs)),
      "sidecar bytes differ from the SQL aggregate's for the same keys")
    // an append merges its batch in, still byte-identical to the
    // aggregate over the grown corpus, still without touching conf
    IncrementalDedup.appendSignatures(idx, docs.filter(col("doc_id") % 5 === 0))
    assert(spark.conf.getAll === confBefore, "the append's sidecar merge wrote session conf")
    val merged = IncrementalDedup.readBucketBloom(spark, path).get._1
    assert(java.util.Arrays.equals(merged,
      aggBytes(IncrementalDedup.openSignatures(spark, path).sigs)))
  }
}

object IncrementalDedupSpec {
  import graft.operators.IndexMeta

  /** The held-batch scan's matches on a signed, checkpointed batch
    * (ungated), as (doc_id, dup_of, match_est) rows. */
  def heldMatchSet(idx: IncrementalDedup.SigIndex,
      signedBatch: org.apache.spark.sql.DataFrame, threshold: Double): Set[Seq[Any]] =
    IncrementalDedup.heldMatches(idx, IncrementalDedup.holdBatch(signedBatch), threshold)
      .map { case (id, (dupOf, est)) => Seq[Any](id, dupOf, est) }.toSet

  /** The pruned probe's matches on a signed, checkpointed batch
    * (ungated: every row's pb dirs are scanned), in the same form. */
  def prunedMatchSet(idx: IncrementalDedup.SigIndex,
      signedBatch: org.apache.spark.sql.DataFrame, threshold: Double): Set[Seq[Any]] = {
    val spark = signedBatch.sparkSession
    val sp = IndexMeta.readDirMeta(spark, s"${idx.path}/sigs")
    val bkts = signedBatch.select("bkts").collect().map(_.getSeq[Int](0).toArray).toSeq
    IncrementalDedup.prunedMatches(idx, signedBatch, bkts.size.toLong, bkts, sp, threshold)
      .collect().map(_.toSeq).toSet
  }

  /** Runs `body` with the index's recorded corpus size at 10⁶ rows, so
    * dedupAgainstSigned routes micro-batches to the pruned probe; the
    * recorded size is restored afterwards. */
  def asPruned[T](spark: org.apache.spark.sql.SparkSession, path: String)(body: => T): T = {
    val dir = s"$path/sigs"
    val sp = IndexMeta.readDirMeta(spark, dir)
    val rows = IndexMeta.readDirRows(spark, dir)
    IndexMeta.writeDirMeta(spark, dir, sp, rows = 1000000L)
    try body finally IndexMeta.writeDirMeta(spark, dir, sp, rows.getOrElse(-1L))
  }
}
