package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Dedup, MinHashLsh, SimHash, TextAnalysis}
import graft.sources.Tables

/** Scale-robustness guards: hot-bucket degradation in the LSH paths and
  * fail-fast misuse protection on the quadratic verifiers. */
class SkewGuardSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  /** 2000 near-identical docs: a shared 60-token base plus one unique
    * token each — every pair has jaccard 60/62 ≈ 0.968 and nearly every
    * doc lands in the same bucket in every band: the degenerate
    * boilerplate-corpus shape that goes quadratic without a guard. */
  private lazy val degenerate = {
    val rnd = new scala.util.Random(7)
    val base = rnd.shuffle((1 to 400).map(i => s"w$i").toVector).take(60)
    (0 until 2000).map { i =>
      (i.toLong, rnd.shuffle(base :+ s"u$i").mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("hot-bucket guard bounds candidate volume on a degenerate corpus") {
    val sigs = MinHashLsh.signatures(degenerate)
    val guarded = MinHashLsh.bandedPairs(sigs, 128, 16, maxBucket = 256).count()
    // unguarded volume approaches m(m−1)/2 ≈ 2.0M candidate pairs; hub
    // pairing keeps it linear in corpus size
    assert(guarded < 50000, s"candidate volume $guarded not bounded")
    assert(guarded >= 1999, s"hub pairing must still cover every member, got $guarded")
  }

  test("guarded exactPairs keep the degenerate cluster connected at diameter 2") {
    val pairs = MinHashLsh.exactPairs(degenerate, 0.9, maxBucket = 256)
    // strict default maxIter: the star topology must converge in O(1)
    // rounds — a chain fallback would blow the iteration cap here
    val comps = ConnectedComponents.components(pairs).cache()
    assert(comps.count() === 2000)
    val sizes = comps.groupBy("comp").count().collect()
    assert(sizes.length === 1 && sizes.head.getLong(1) === 2000,
      s"expected one 2000-member component, got ${sizes.length} components")
  }

  test("guard leaves the normal corpus bit-identical (no oversized buckets)") {
    val docs = Tables.documents(spark, sf)
    val normal = MinHashLsh.exactPairs(docs, 0.9).select("doc_a", "doc_b")
    val unguarded = MinHashLsh.exactPairs(docs, 0.9, maxBucket = Int.MaxValue)
      .select("doc_a", "doc_b")
    assert(normal.exceptAll(unguarded).count() === 0)
    assert(unguarded.exceptAll(normal).count() === 0)
  }

  test("embedding LSH guard bounds pairing on a constant-vector corpus") {
    val base = Array.fill(8)(0.5f)
    val vecs = (0 until 300).map(i => (i.toLong, base, i % 5))
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupLsh(vecs, 0.3, maxBucket = 64).cache()
    // every vector is identical → one degenerate bucket per table; the
    // star emits exactly m−1 verified pairs instead of m(m−1)/2 = 44850
    assert(pairs.count() === 299)
    assert(pairs.filter(col("cosine") < 0.999999).count() === 0)
  }

  test("multi-block simhash candidates are exhaustive within maxDist — including cross-prefix pairs") {
    // 80 planted pairs: a 60-token base with one token replaced. The
    // fingerprints of a pair differ by a few scattered bits; pairs whose
    // differing bits touch the first 16 are exactly the ones the old
    // single-prefix blocking missed.
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 4000).map(i => s"t$i")
    val docs = (0 until 80).flatMap { g =>
      val base = rnd.shuffle(vocab.toVector).take(60)
      val variant = base.updated(rnd.nextInt(60), s"x$g")
      Seq((2L * g, base.mkString(" "), "s"), (2L * g + 1, variant.mkString(" "), "s"))
    }.toDF("doc_id", "text", "source")
    val fps = SimHash.fingerprints(docs)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp")))
      .sortBy(_._1)
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // ground truth: ALL pairs within hamming 6, by exhaustive scan
    val want = (for {
      i <- fps.indices; j <- (i + 1) until fps.length
      if hamming(fps(i)._2, fps(j)._2) <= 6
    } yield (fps(i)._1, fps(j)._1)).toSet
    // at least one qualifying pair differs inside the first 16 bits —
    // the case a single-prefix blocking scheme silently dropped
    val crossPrefix = want.filter { case (a, b) =>
      (fps(a.toInt)._2 >>> 48) != (fps(b.toInt)._2 >>> 48)
    }
    assert(crossPrefix.nonEmpty,
      "corpus has no cross-prefix near-dup pair — strengthen the plant")
    val got = SimHash.nearDupPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got === want, "multi-block candidates must be exhaustive (pigeonhole)")
  }

  test("first-agree pairing equals distinct-over-candidates, with and without hub buckets") {
    val docs = Tables.documents(spark, sf)
    val sigs = MinHashLsh.signatures(docs).localCheckpoint(true)
    def viaDistinct(maxBucket: Int) = {
      val rows = sigs.select(col("doc_id"),
        org.apache.spark.sql.functions.transform(sequence(lit(0), lit(15)),
          b => hash(slice(col("sig"), b * 8 + lit(1), lit(8)), b)).as("bkts"))
        .select(col("doc_id"), col("bkts"),
          posexplode(col("bkts")).as(Seq("band", "bucket")))
      MinHashLsh.guardedBucketPairs(rows, Seq("band", "bucket"), "doc_id", maxBucket)
    }
    for (maxBucket <- Seq(4096, 40)) { // 40 forces hub-star degradation
      val fa = MinHashLsh.bandedPairs(sigs, 128, 16, maxBucket)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val dd = viaDistinct(maxBucket)
      assert(fa.exceptAll(dd).count() === 0, s"extra pairs at maxBucket=$maxBucket")
      assert(dd.exceptAll(fa).count() === 0, s"missing pairs at maxBucket=$maxBucket")
    }
  }

  test("simhash hub mode matches the guard semantics exactly (reference emulation)") {
    // corpus = normal sf docs; a tiny maxBucket forces hub degradation.
    // Reference semantics, per combo bucket: |bucket| <= maxBucket -> all
    // pairs; else hub stars (min id x others). Union, dedup, Hamming-verify.
    val docs = Tables.documents(spark, sf).limit(600)
    val maxBucket = 20
    val maxDist = 6
    val nChunks = maxDist + 2
    val fps = SimHash.fingerprints(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp")))
    def chunks(fp: Long): Seq[Long] = {
      val base = 64 / nChunks; val rem = 64 % nChunks
      (0 until nChunks).map { p =>
        val start = p * base + math.min(p, rem)
        val len = base + (if (p < rem) 1 else 0)
        (fp >>> (64 - start - len)) & ((1L << len) - 1)
      }
    }
    val combos = for { i <- 0 until nChunks; j <- (i + 1) until nChunks } yield (i, j)
    val expected = scala.collection.mutable.Set[(Long, Long)]()
    combos.foreach { case (i, j) =>
      fps.map { case (id, fp) =>
        val c = chunks(fp); (((c(i) << 32) | c(j)), id)
      }.groupBy(_._1).values.foreach { members =>
        val ids = members.map(_._2).sorted
        if (ids.length <= maxBucket)
          for (a <- ids.indices; b <- (a + 1) until ids.length)
            expected += ((ids(a), ids(b)))
        else ids.tail.foreach(m => expected += ((ids.head, m)))
      }
    }
    val fpMap = fps.toMap
    val want = expected.filter { case (a, b) =>
      java.lang.Long.bitCount(fpMap(a) ^ fpMap(b)) <= maxDist }
    val got = SimHash.nearDupPairs(docs, maxDist, maxBucket).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got === want)
  }

  test("ngramJaccard fails fast on an oversized block") {
    val docs = (0 until 60).map(i => (i.toLong, s"a b c d$i", "same"))
      .toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(docs, 0.9, maxBlock = 50)
    }
    assert(e.getMessage.contains("MinHashLsh.exactPairs"))
    // under the cap it still runs
    assert(Dedup.ngramJaccard(docs, 0.9, maxBlock = 60).count() >= 0)
  }

  test("embeddingNearDup fails fast on an oversized block") {
    val emb = Tables.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(emb, 0.3, maxBlock = 10)
    }
    assert(e.getMessage.contains("embeddingNearDupLsh"))
  }

  test("embedding near-dup paths return empty on an empty corpus, no sizing crash") {
    // r15 advisor: the former unconditional head() on the width-sizing
    // job threw NoSuchElementException on an empty input (and NPE'd on a
    // null first embedding); the gate now decides without a job outside
    // the middle zone
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Dedup.embeddingNearDupLsh(empty).count() === 0L)
    assert(Dedup.embeddingNearDupTopM(empty).count() === 0L)
  }

  /** Planted-Zipf corpus: one bigram is ~90% of ALL gram occurrences —
    * the shape under which a count-over-gram window (no partial agg)
    * ships every occurrence of the hot gram to ONE task. The r15 form
    * collapses within-doc repetition in the row (token_term_counts) and
    * partially aggregates the model, so no gram-keyed boundary ever
    * carries occurrence-level rows. */
  private lazy val zipf = {
    (0 until 400).map { i =>
      val filler = (0 until 5).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, Seq.fill(100)("h").mkString(" ") + " " + filler)
    }.toDF("doc_id", "text")
  }

  test("lm score on a planted-Zipf corpus: exact vs brute force") {
    val gramsOf: String => Seq[String] = { t =>
      val toks = t.split(" ", -1).toSeq
      if (toks.length < 2) Seq(toks.mkString(" "))
      else toks.sliding(2).map(_.mkString(" ")).toSeq
    }
    val docs = zipf.collect()
      .map(r => r.getLong(0) -> gramsOf(r.getString(1))).toMap
    val freq = docs.values.flatten
      .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val out = TextAnalysis.lmScore(zipf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === docs.keySet)
    docs.foreach { case (id, grams) =>
      val r = out(id)
      assert(r.getAs[Long]("n_grams") === grams.size.toLong)
      assert(r.getAs[Long]("sum_freq") === grams.map(freq).sum)
    }
  }

  test("lm score bounds per-task input under Zipf, even past the broadcast budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // the hot gram has 99 occurrences × 400 docs = 39,600 occurrence
    // rows; a window-by-gram plan reads ≥ all of them in one task. The
    // two-phase form shuffles only df-bounded distinct (doc, gram) rows
    // and partial-agg model rows — a few thousand in TOTAL, so even if
    // AQE coalesces everything into one task it stays far under the
    // occurrence count.
    val records = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) records.add(m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // hint past any budget: forces the shuffle-join fallback path
      val forced = TextAnalysis.lmScore(zipf, 2, Some(Long.MaxValue))
      assert(!forced.queryExecution.optimizedPlan.toString.contains("Window"))
      val rows = forced.collect()
      assert(rows.length === 400)
      // every task-end event posted by now reaches the listener
      org.apache.spark.sql.graft.JobProbe.drain(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    val maxTask = records.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).foldLeft(0L)(math.max)
    assert(maxTask > 0L, "listener captured no shuffle reads")
    assert(maxTask < 10000L,
      s"a task read $maxTask shuffle rows — occurrence-level skew is back " +
        "(the planted hot gram alone has 39,600 occurrences)")
  }
}
