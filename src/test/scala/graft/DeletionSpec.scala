package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{IncrementalDedup, Ivf}
import graft.sources.Tables

/** Index deletion (takedown propagation): after deleteDocs /
  * deleteFromIndex, every probe path must behave exactly as if the index
  * had been rebuilt without the deleted ids; compact folds the
  * tombstones physically and the sidecar machinery stays consistent. */
class DeletionSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs = Tables.documents(spark, sf)

  private def flags(idx: IncrementalDedup.SigIndex,
      batch: org.apache.spark.sql.DataFrame): Seq[(Long, Boolean, Option[Long])] =
    IncrementalDedup.dedupAgainst(idx, batch)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq.sortBy(_._1)

  test("dedup probe after deleteDocs equals an index rebuilt without the docs") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val removed = corpus.filter(col("doc_id") % 3 === 0)
    val survivors = corpus.filter(col("doc_id") % 3 =!= 0)

    val deletedPath = tmp("del-idx")
    IncrementalDedup.saveSignatures(corpus, deletedPath)
    IncrementalDedup.deleteDocs(spark, deletedPath,
      removed.select("doc_id"))
    val rebuiltPath = tmp("del-rebuilt")
    IncrementalDedup.saveSignatures(survivors, rebuiltPath)

    val del = flags(IncrementalDedup.openSignatures(spark, deletedPath), batch)
    val reb = flags(IncrementalDedup.openSignatures(spark, rebuiltPath), batch)
    assert(del === reb,
      "probe over a tombstoned index diverges from the rebuilt-without index")
    // the deletion had teeth: some doc flagged before is clean after, or
    // its canonical keeper changed
    val full = {
      val p = tmp("del-full")
      IncrementalDedup.saveSignatures(corpus, p)
      flags(IncrementalDedup.openSignatures(spark, p), batch)
    }
    assert(full !== del, "deleting a third of the corpus changed nothing — " +
      "the spec corpus has no duplicates crossing the deleted set")
  }

  test("tombstone mask short-circuits on a clean index: no anti-join in the probe plan") {
    // a tombstone-free index must not pay for the deletion feature —
    // Tombstones.minus returns the input frame untouched when
    // `tombstones/` is absent, so the probe plan carries NO LeftAnti
    // node and no tombstone scan (the steady-state ingest loop runs
    // this plan every micro-batch; a mask that billed on clean indexes
    // would tax every batch for deletions that never happened)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp("del-clean")
    IncrementalDedup.saveSignatures(corpus, path)
    val idx = IncrementalDedup.openSignatures(spark, path)
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    // the probe's corpus-side plans on both streamed routes: the
    // held-batch scan runs eagerly over `idx.sigs` (its matches are a
    // local relation), the shuffle route — forced through the
    // broadcast-budget property — returns its corpus read inside the
    // probe plan
    def probePlans(idx: IncrementalDedup.SigIndex): Seq[String] = {
      System.setProperty("graft.broadcastBudgetBytes", "1")
      val shuffled = try planOf(IncrementalDedup.dedupAgainst(idx, batch))
        finally System.clearProperty("graft.broadcastBudgetBytes")
      Seq(planOf(idx.sigs), shuffled)
    }
    for (clean <- probePlans(idx))
      assert(!clean.contains("LeftAnti") && !clean.contains("tombstones"),
        s"clean-index probe plan carries tombstone-mask work:\n$clean")
    // …and the mask appears exactly when a deletion is pending
    IncrementalDedup.deleteDocs(spark, path, Seq(3L))
    for (masked <- probePlans(IncrementalDedup.openSignatures(spark, path)))
      assert(masked.contains("LeftAnti"),
        "pending tombstones did not add the anti-join mask")
  }

  test("both probe paths suppress tombstoned ids identically") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val path = tmp("del-paths")
    IncrementalDedup.saveSignatures(corpus, path)
    IncrementalDedup.deleteDocs(spark, path,
      corpus.filter(col("doc_id") % 3 === 0).select("doc_id"))
    val idx = IncrementalDedup.openSignatures(spark, path)
    val signedBatch = IncrementalDedup.signed(batch, idx.k, idx.bands)
      .localCheckpoint(true)
    val pruned = IncrementalDedupSpec.prunedMatchSet(idx, signedBatch, 0.8)
    val streamed = IncrementalDedupSpec.heldMatchSet(idx, signedBatch, 0.8)
    assert(pruned === streamed)
    val deletedIds = corpus.filter(col("doc_id") % 3 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!pruned.exists(r => deletedIds(r(1).asInstanceOf[Long])),
      "a tombstoned id survives as dup_of in the pruned path")
  }

  test("compact folds tombstones physically and the probe is unchanged") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val removedIds = corpus.filter(col("doc_id") % 3 === 0).select("doc_id")
    val path = tmp("del-compact")
    IncrementalDedup.saveSignatures(corpus, path)
    IncrementalDedup.deleteDocs(spark, path, removedIds)
    val before = flags(IncrementalDedup.openSignatures(spark, path), batch)
    IncrementalDedup.compact(spark, path, numFiles = 4)
    // tombstone dir gone, rows physically absent from the raw layout
    assert(!new java.io.File(s"$path/tombstones").exists())
    val rawIds = spark.read.parquet(s"$path/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = removedIds.collect().map(_.getLong(0)).toSet
    assert(rawIds.intersect(removed).isEmpty,
      "compact left tombstoned rows in the rewritten base")
    val after = flags(IncrementalDedup.openSignatures(spark, path), batch)
    assert(after === before)
  }

  test("a tombstone suppresses pre-compact re-appends; post-compact appends are fresh") {
    import spark.implicits._
    val corpus = (0L until 200L).map(i =>
      (i, s"corpus document body $i with some shared words " * 3))
      .toDF("doc_id", "text")
    val path = tmp("del-reapp")
    IncrementalDedup.saveSignatures(corpus, path)
    IncrementalDedup.deleteDocs(spark, path, Seq(7L))
    // re-append the tombstoned doc before compact: still suppressed
    val idx = IncrementalDedup.openSignatures(spark, path)
    IncrementalDedup.appendSignatures(idx,
      corpus.filter(col("doc_id") === 7L))
    val copy = corpus.filter(col("doc_id") === 7L)
      .withColumn("doc_id", lit(9999L))
    val idx2 = IncrementalDedup.openSignatures(spark, path)
    assert(flags(idx2, copy).forall(!_._2),
      "a copy matched a tombstoned doc through a pre-compact re-append")
    IncrementalDedup.compact(spark, path, numFiles = 2)
    // after compact the id is forgotten: appending it fresh works
    val idx3 = IncrementalDedup.openSignatures(spark, path)
    IncrementalDedup.appendSignatures(idx3,
      corpus.filter(col("doc_id") === 7L))
    val idx4 = IncrementalDedup.openSignatures(spark, path)
    assert(flags(idx4, copy).exists(_._2),
      "a post-compact re-append of a previously-deleted id is not probed")
  }

  test("bucket-Bloom sidecar stays exact across delete and is rebuilt by compact") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val removedIds = corpus.filter(col("doc_id") % 3 === 0).select("doc_id")
    val path = tmp("del-bloom")
    IncrementalDedup.saveSignatures(corpus, path)
    IncrementalDedup.writeBucketBloom(spark, path)
    IncrementalDedup.deleteDocs(spark, path, removedIds)
    val rebuiltPath = tmp("del-bloom-reb")
    IncrementalDedup.saveSignatures(
      corpus.join(removedIds, Seq("doc_id"), "left_anti"), rebuiltPath)
    val gated = flags(IncrementalDedup.openSignatures(spark, path), batch)
    val want = flags(IncrementalDedup.openSignatures(spark, rebuiltPath), batch)
    assert(gated === want,
      "stale sidecar keys changed gated probe RESULTS (they may only cost time)")
    val staleBytes = IncrementalDedup.readBucketBloom(spark, path).get._1
    IncrementalDedup.compact(spark, path, numFiles = 4)
    val rebuilt = IncrementalDedup.readBucketBloom(spark, path)
    assert(rebuilt.isDefined, "compact dropped the sidecar instead of rebuilding it")
    assert(!java.util.Arrays.equals(rebuilt.get._1, staleBytes),
      "compact left the stale sidecar bytes (deleted keys still admitted)")
    val after = flags(IncrementalDedup.openSignatures(spark, path), batch)
    assert(after === want)
  }

  test("IVF compact swap is checked and crash-recoverable; tombstones survive a failed swap") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Ivf.kmeansCentroids(emb, 8, iters = 2)
    val dir = tmp("ivf-crash")
    Ivf.saveIndex(emb, cents, dir)
    Ivf.deleteFromIndex(spark, dir, emb.filter(col("vec_id") % 11 === 3)
      .select("vec_id"))
    val removedSet = emb.filter(col("vec_id") % 11 === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // simulate the crash window between the two swap renames: live
    // corpus missing, the only full copy in corpus_new (plus a stale
    // _old) — the pre-r13 unchecked renames silently no-op'd here and
    // then DROPPED the tombstones, resurrecting taken-down vectors
    val f = new java.io.File(s"$dir/corpus")
    val fNew = new java.io.File(s"$dir/corpus_new")
    val fOld = new java.io.File(s"$dir/corpus_old")
    assert(f.renameTo(fNew), "test setup: could not stage the crash state")
    java.nio.file.Files.createDirectory(fOld.toPath)

    // compact must recover the live dir from corpus_new, finish, and
    // fold the tombstones — the probe equals a rebuilt-without index
    Ivf.compactIndex(dir, spark)
    assert(new java.io.File(s"$dir/corpus").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val raw = spark.read.parquet(s"$dir/corpus")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(raw.intersect(removedSet).isEmpty,
      "crashed-swap recovery resurrected deleted vectors")
    // the secondary stayed consistent with the primary
    val byId = spark.read.parquet(s"$dir/corpus_by_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(byId === raw, "primary and id-secondary diverged after recovery")
  }

  test("IVF compact recovers a crashed SECONDARY swap (corpus_by_id mid-rename)") {
    // the r13 advisor finding: compact probed fs.exists(corpus_by_id)
    // BEFORE recovery ran, so a compact that crashed inside
    // IndexSwap.swap("corpus_by_id") — live secondary renamed away, the
    // only copy in corpus_by_id_new — read as "no secondary": recover was
    // called for the primary only, the orphan _new was never restored or
    // swept, and every later compact silently ran secondary-less (point
    // fetches degraded to the O(corpus) fallback forever)
    val emb = Tables.embeddings(spark, sf)
    val cents = Ivf.kmeansCentroids(emb, 8, iters = 2)
    val dir = tmp("ivf-crash2")
    Ivf.saveIndex(emb, cents, dir)
    val live = new java.io.File(s"$dir/corpus_by_id")
    val staged = new java.io.File(s"$dir/corpus_by_id_new")
    assert(live.exists(), "test setup: saveIndex wrote no secondary")
    assert(live.renameTo(staged), "test setup: could not stage the crash state")

    Ivf.compactIndex(dir, spark)
    assert(new java.io.File(s"$dir/corpus_by_id").exists(),
      "secondary not restored from corpus_by_id_new")
    assert(!staged.exists(), "orphan corpus_by_id_new left behind")
    val raw = spark.read.parquet(s"$dir/corpus")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val byId = spark.read.parquet(s"$dir/corpus_by_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(byId === raw, "recovered secondary diverged from the primary")
  }

  test("IVF probes after deleteFromIndex equal an index rebuilt without the vectors") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Ivf.kmeansCentroids(emb, 16, iters = 4)
    val removed = emb.filter(col("vec_id") % 7 === 1).select("vec_id")
    val survivors = emb.join(removed, Seq("vec_id"), "left_anti")

    val delDir = tmp("ivf-del")
    Ivf.saveIndex(emb, cents, delDir)
    Ivf.deleteFromIndex(spark, delDir, removed)
    val rebDir = tmp("ivf-reb")
    Ivf.saveIndex(survivors, cents, rebDir)

    val idxDel = Ivf.openIndex(spark, delDir)
    val idxReb = Ivf.openIndex(spark, rebDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSeq
    val got = rows(Ivf.topKIndexed(idxDel, 0L, 10, nprobe = 4))
    val want = rows(Ivf.topKIndexed(idxReb, 0L, 10, nprobe = 4))
    assert(got === want)
    assert(got.nonEmpty)
    // the id-fetch path refuses a deleted query id, like a rebuilt index
    val deletedId = removed.limit(1).collect().head.getLong(0)
    intercept[IllegalArgumentException] {
      Ivf.topKIndexed(idxDel, deletedId, 5)
    }
    // compact folds: raw layouts physically drop the ids, tombstones gone
    Ivf.compactIndex(delDir, spark)
    assert(!new java.io.File(s"$delDir/tombstones").exists())
    val removedSet = removed.collect().map(_.getLong(0)).toSet
    val rawCorpus = spark.read.parquet(s"$delDir/corpus")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val rawById = spark.read.parquet(s"$delDir/corpus_by_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rawCorpus.intersect(removedSet).isEmpty)
    assert(rawById.intersect(removedSet).isEmpty)
    val after = rows(Ivf.topKIndexed(Ivf.openIndex(spark, delDir), 0L, 10,
      nprobe = 4))
    assert(after === want)
  }
}
