package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators._
import graft.sources.Tables
import graft.streaming.StreamingAlerts

class ScalePathSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("minhash-LSH recovers most exact-Jaccard near-dup pairs (recall)") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccard(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = MinHashLsh.candidatePairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall over ${exact.size} exact pairs")
  }

  test("minhash estimate tracks exact jaccard on identical-set docs") {
    import spark.implicits._
    val two = Seq((1L, "x y z w v", "s"), (2L, "v w z y x", "s"))
      .toDF("doc_id", "text", "source")
    val p = MinHashLsh.candidatePairs(two, threshold = 0.99).collect()
    assert(p.length === 1 && p.head.getAs[Double]("jaccard_est") === 1.0)
  }

  test("simhash: identical token sets give hamming 0; corpus has such pairs") {
    val pairs = SimHash.nearDupPairs(Tables.documents(spark, sf)).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Long]("hamming") <= 6))
    assert(pairs.exists(_.getAs[Long]("hamming") === 0L))
  }

  test("embedding dedup auto-planes scale with corpus size, fixed at oracle scales") {
    import spark.implicits._
    import graft.operators.Dedup
    // the resolution rule itself (r14 candidate-anchored): 6 at every
    // oracle size (so dd_embedding stays bit-exact), then 1.5 planes per
    // corpus doubling — fast enough that per-vector candidate work stays
    // near-constant on the measured heavy-tailed buckets (the
    // occupancy-constant +1/doubling rule left candidates growing
    // ~n^1.26: 310k -> 11.05M per 10x rows, the key's r13 slope)
    assert(Dedup.resolvePlanes(0, 200L) === 6)
    assert(Dedup.resolvePlanes(0, 1024L) === 6)
    assert(Dedup.resolvePlanes(0, 2000L) === 8)
    assert(Dedup.resolvePlanes(0, 20000L) === 13)
    assert(Dedup.resolvePlanes(0, 1L << 20) === 21)
    assert(Dedup.resolvePlanes(4, 1L << 20) === 4) // explicit wins

    // r18: the schedule is a precomputed integer threshold table. Pin
    // (a) every entry against an independent exact re-derivation —
    // entry m (1-based) is ⌊2^(10+2(m−1)/3)⌋ = icbrt(2^(2m+28)), via
    // BigInt cube root, no floating point anywhere — and (b) the
    // table-driven schedule against the retired double formula
    // 6 + ⌈1.5·log₂(n/1024)⌉ at every threshold boundary ±1, so the
    // r14 geometry is provably unchanged where the two forms overlap.
    def icbrt(x: BigInt): BigInt = {
      var r = BigInt(math.cbrt(x.doubleValue).toLong)
      while (r.pow(3) > x) r -= 1
      while ((r + 1).pow(3) <= x) r += 1
      r
    }
    assert(Dedup.PlaneThresholds.length === 57) // 6 + 57 = 63-plane cap
    Dedup.PlaneThresholds.zipWithIndex.foreach { case (t, i) =>
      val m = i + 1
      assert(BigInt(t) === icbrt(BigInt(2).pow(2 * m + 28)),
        s"threshold $m diverges from exact ⌊2^(10+2(m−1)/3)⌋")
    }
    def doubleForm(n: Long): Int =
      if (n <= 1024L) 6
      else 6 + math.ceil(
        1.5 * math.log(n.toDouble / 1024L) / math.log(2.0)).toInt
    for (t <- Dedup.PlaneThresholds; n <- Seq(t - 1, t, t + 1))
      assert(Dedup.resolvePlanes(0, n) === doubleForm(n),
        s"table and double schedules diverge at n=$n")
    // beyond the table the schedule clamps at the 63-plane BIGINT cap
    // (the double form would have requested an overflowing shift)
    assert(Dedup.resolvePlanes(0, Long.MaxValue) === 63)

    // at a corpus size where auto resolves ABOVE 6 (n=3000 → 9 planes),
    // planted near-identical pairs still surface: near-zero angle means
    // per-plane collision probability ~1 at any plane count
    val vecs = ((0 until 3000).map { i =>
      (i.toLong,
        Array.tabulate(8)(d => (((i * 31 + d * 17) % 1000) / 500.0 - 1.0).toFloat),
        i % 5)
    } :+ ((9001L,
      Array.tabulate(8)(d => ((((0 * 31) + d * 17) % 1000) / 500.0 - 1.0 + 1e-4).toFloat),
      0))).toDF("vec_id", "embedding", "label")
    assert(Dedup.resolvePlanes(0, vecs.count()) === 9)
    val pairs = Dedup.embeddingNearDupLsh(vecs, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 9001L)),
      s"planted near-dup not found under auto planes; got ${pairs.length} pairs")
    // and auto output is exactly the explicit-planes output it resolves to
    val explicit = Dedup.embeddingNearDupLsh(vecs, threshold = 0.999, planes = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === explicit.toSeq)
  }

  test("embedding top-m == pair form on planted near-dups; output bounded per vector") {
    import spark.implicits._
    // seeded-random background vectors (8-dim: two of 800 clearing
    // cosine 0.99 by chance is vanishingly unlikely) + three planted
    // groups of four near-identical vectors each (±1e-4 component
    // nudges → pairwise cosine ≈ 1); threshold 0.99 keeps ONLY
    // planted-group pairs, so the pair form's per-vector partner sets
    // are the ground truth the bounded form must reproduce exactly
    // (group size 4 → 3 partners < m = 10)
    val rng = new scala.util.Random(42)
    val base = (0 until 800).map { i =>
      (i.toLong,
        Array.fill(8)((rng.nextDouble() * 2.0 - 1.0).toFloat),
        s"l${i % 5}")
    }
    val groupVecs = Seq(100L, 200L, 300L).map { g =>
      g -> Array.fill(8)((rng.nextDouble() * 2.0 - 1.0).toFloat)
    }
    val planted = groupVecs.flatMap { case (g, v) =>
      (1 to 4).map { j =>
        (10000L + g * 10L + j,
          v.map(x => x + j * 1e-4f),
          "lp")
      }
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding", "label")
    val pairRows = Dedup.embeddingNearDupLsh(emb, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairRows.nonEmpty, "no planted pairs surfaced")
    val partners = (pairRows.map(p => (p._1, p._2)) ++
      pairRows.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val topm = Dedup.embeddingNearDupTopM(emb, threshold = 0.99, m = 10)
      .collect()
    val got = topm.map(_.getLong(0)).distinct.map { v =>
      v -> topm.filter(_.getLong(0) == v).map(_.getLong(1)).toSet
    }.toMap
    assert(got === partners,
      s"top-m neighbor sets differ from the pair form's partner sets")
    // ranks are 1..count by non-increasing cosine, counts bounded by m
    topm.groupBy(_.getLong(0)).foreach { case (v, rows) =>
      assert(rows.length <= 10, s"vec $v kept ${rows.length} > m rows")
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to rows.length).toSeq)
      val cos = sorted.map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        s"vec $v ranks not cosine-ordered")
    }
    // m truly bounds: each planted vector keeps exactly its best
    // neighbor at m = 1, and it is a fellow group member
    val top1 = Dedup.embeddingNearDupTopM(emb, threshold = 0.99, m = 1)
      .collect()
    assert(top1.length === partners.size)
    top1.foreach { r =>
      assert(partners(r.getLong(0)).contains(r.getLong(1)))
      assert(r.getLong(3) === 1L)
    }
  }

  test("density cap: bounded per-vector generation, planted recall intact") {
    import spark.implicits._
    // same corpus recipe as the top-m spec: seeded background + three
    // planted groups of four near-identical vectors
    val rng = new scala.util.Random(7)
    val base = (0 until 800).map { i =>
      (i.toLong, Array.fill(8)((rng.nextDouble() * 2.0 - 1.0).toFloat),
        s"l${i % 5}")
    }
    val planted = Seq(100L, 200L, 300L).map { g =>
      g -> Array.fill(8)((rng.nextDouble() * 2.0 - 1.0).toFloat)
    }.flatMap { case (g, v) =>
      (1 to 4).map(j => (10000L + g * 10L + j, v.map(x => x + j * 1e-4f), "lp"))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding", "label")

    // the capBuckets contract: each vector's kept buckets spend at most
    // `cap` candidate budget Σ(m−1) — except a lone first bucket, which
    // is always kept so no vector is orphaned
    val cap = 64
    val bucketed = Dedup.embeddingBuckets(emb, tables = 8, planes = 6)
      .select("vec_id", "t", "bucket")
    val sizes = bucketed.groupBy("t", "bucket").agg(count(lit(1)).as("m"))
    val kept = Dedup.capBuckets(bucketed, cap)
    val spend = kept.join(sizes, Seq("t", "bucket"))
      .groupBy("vec_id")
      .agg(sum(col("m") - 1).as("budget"), count(lit(1)).as("n_kept"),
        max(col("m")).as("max_m"))
      .collect()
    assert(spend.nonEmpty)
    spend.foreach { r =>
      val over = r.getAs[Long]("budget") > cap
      // over-budget is legal only via the always-kept first bucket
      assert(!over || r.getAs[Long]("n_kept") === 1L,
        s"vec ${r.getLong(0)} spent ${r.getAs[Long]("budget")} > $cap " +
          s"across ${r.getAs[Long]("n_kept")} kept buckets")
    }
    // every vector keeps at least one bucket
    assert(kept.select("vec_id").distinct().count() ===
      bucketed.select("vec_id").distinct().count())

    // planted recall: the capped dial reproduces the uncapped top-m
    // output exactly at threshold 0.99 — planted groups land in SMALL
    // buckets (4 near-identical members), which the size-ascending keep
    // order preserves first
    val uncapped = Dedup.embeddingNearDupTopM(emb, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.embeddingNearDupTopM(emb, threshold = 0.99,
        densityCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty)
    assert(capped === uncapped,
      s"capped dial lost planted pairs: ${(uncapped -- capped).take(5)}")

    // a cap that never binds reproduces the uncapped pair set exactly —
    // the guarded-distinct pairing and the first-agree pairing are
    // set-equal on the same kept buckets
    val loose = Dedup.embeddingNearDupLsh(emb, threshold = 0.3,
        densityCap = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.embeddingNearDupLsh(emb, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === full)

    // degenerate corpus: every vector identical — one giant bucket per
    // table; the cap keeps only each vector's first bucket and the hub
    // guard keeps pairing linear, but the near-dup star still surfaces
    val const = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(0.5f), "c")).toDF("vec_id", "embedding", "label")
    val star = Dedup.embeddingNearDupLsh(const, threshold = 0.99,
        maxBucket = 64, densityCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(star.length === 299, s"hub star expected 299 pairs, got ${star.length}")
    assert(star.forall(_._1 === 0L))
  }

  test("ANN dial geometry: recall-anchored defaults, constant-cost budget opt-ins") {
    import spark.implicits._
    // AnnLsh BUDGET planes (the pre-r14 default, now AdaptiveAnn's first
    // pass): max(5, floor(log2(n/64))) — constant bucket occupancy, one
    // more plane per corpus doubling
    assert(AnnLsh.autoPlanes(500L) === 5)
    assert(AnnLsh.autoPlanes(2000L) === 5)
    assert(AnnLsh.autoPlanes(20000L) === 8)
    assert(AnnLsh.autoPlanes(40000L) === 9)
    assert(AnnLsh.autoPlanes(1L << 20) === 14)
    // AnnLsh DEFAULT planes (r14): the anchor fraction tables/2^planes ≈
    // 0.75, corpus-size-free — 5 at the 24-table default at ANY corpus,
    // so the SQL twins stay bit-exact at every oracle size
    assert(AnnLsh.anchorPlanes(24) === 5)
    assert(AnnLsh.anchorPlanes(12) === 4)
    assert(AnnLsh.anchorPlanes(48) === 6)
    // Ivf BUDGET nprobe: ⌈DefaultProbeRows/cells⌉ capped at cells — the
    // sf0.1 anchor (45 cells) resolves to the same 13 cells as the
    // fraction dial, small corpora degenerate to a full (exact) probe,
    // big ones hold per-probe rows ~constant
    assert(Ivf.budgetNprobe(45) === 13)
    assert(Ivf.budgetNprobe(23) === 23)
    assert(Ivf.budgetNprobe(142) === 5)
    assert(Ivf.budgetNprobe(1000) === 1)
    // Ivf DEFAULT nprobe (r14): the ⌈0.27·cells⌉ recall-anchored
    // fraction — identical to the budget dial at the sf0.1 tuning anchor
    // (both dials read 13 of 45 cells) and holding the fraction beyond
    // it where the budget dial's coverage (and background recall) decays
    assert(Ivf.resolveNprobe(0, 45) === 13)
    assert(Ivf.resolveNprobe(0, 23) === 7)
    assert(Ivf.resolveNprobe(0, 142) === 39)
    assert(Ivf.resolveNprobe(0, 1000) === 270)
    assert(Ivf.resolveNprobe(7, 1000) === 7) // explicit wins
    assert(Ivf.wideNprobe(45) === 13)        // the fraction dial
    assert(Ivf.wideNprobe(142) === 39)
    assert(Ivf.resolveNprobe(0, 142) === Ivf.wideNprobe(142))

    // default output is exactly the explicit-anchor-planes output it
    // resolves to, at a size where the BUDGET dial would diverge
    // (n=9000 → autoPlanes 7, anchor 5)
    val vecs = (0 until 9000).map { i =>
      (i.toLong,
        Array.tabulate(8)(d => (((i * 37 + d * 13) % 1000) / 500.0 - 1.0).toFloat),
        s"l${i % 4}")
    }.toDF("vec_id", "embedding", "label")
    assert(AnnLsh.autoPlanes(vecs.count()) === 7)
    val auto = AnnLsh.topK(vecs, 0L, 10).collect().map(_.toSeq)
    val explicit = AnnLsh.topK(vecs, 0L, 10, planes = 5).collect().map(_.toSeq)
    assert(auto.toSeq === explicit.toSeq)
  }

  test("simhash fingerprints differ for disjoint-vocabulary docs") {
    import spark.implicits._
    val two = Seq((1L, "aa bb cc dd ee", "s"), (2L, "vv ww xx yy zz", "s"))
      .toDF("doc_id", "text", "source")
    assert(SimHash.nearDupPairs(two, maxDist = 6).count() === 0)
  }

  test("ANN top-k never beats brute force and keeps recall on clustered data") {
    import spark.implicits._
    // real corpus: ANN results are a subset of the corpus re-ranked
    // exactly, so nothing may exceed the true best (1e-6: brute scores
    // with the decimal oracle cosine, ANN with the double kernel)
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
    val ann = AnnLsh.topK(emb, 0L, 10).collect()
    assert(ann.nonEmpty)
    val bruteBest = brute.head.getAs[Double]("cosine")
    assert(ann.forall(_.getAs[Double]("cosine") <= bruteBest + 1e-6))
    // recall needs cosine structure (the test corpus's neighbours sit at
    // the ~0.3 background — random-hyperplane buckets have nothing to
    // exploit there), so it is asserted on planted gaussian clusters:
    // near neighbours at cos≈0.95 collide per table w.p. ~(1−θ/π)⁶≈0.5
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat), i % 7)
    }.toDF("vec_id", "embedding", "label")
    val bruteC = Similarity.bruteForceTopK(vecs, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val annC = AnnLsh.topK(vecs, 0L, 10, tables = 8).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = annC.intersect(bruteC).size
    assert(recall >= 5, s"recall@10 = $recall/10 on clustered corpus")
  }

  test("isolation forest flags a small fraction, biased to extreme readings") {
    val det = IsolationForest.detect(spark, sf).cache()
    val n = det.count()
    val total = TimeSeries.base(spark, sf).count()
    assert(n > 0, "no anomalies flagged")
    assert(n < total / 5, s"flagged $n of $total — too loose")
    // flagged rows should deviate from their rolling mean far more than avg
    val feats = TimeSeries.rollingFeatures(TimeSeries.base(spark, sf))
    val overallDev = feats.agg(avg(abs(col("value") - col("mean_12"))))
      .collect().head.getDouble(0)
    val flaggedDev = det.join(feats.select("event_id", "mean_12"), "event_id")
      .agg(avg(abs(col("value") - col("mean_12")))).collect().head.getDouble(0)
    assert(flaggedDev > overallDev, s"flagged dev $flaggedDev <= overall $overallDev")
  }

  test("isolation forest model digest is fit-deterministic and drift-sensitive") {
    val featureCols = Seq("value", "mean_3", "std_3", "mean_12", "std_12")
    val feats = TimeSeries.rollingFeatures(TimeSeries.base(spark, sf)).cache()
    val fitOnce = IsolationForest.fit(feats, featureCols,
      trainFilter = col("event_type") =!= "error")
    val fitAgain = IsolationForest.fit(
      feats.repartition(7), featureCols,  // partitioning must not leak in
      trainFilter = col("event_type") =!= "error")
    assert(IsolationForest.modelDigest(fitOnce) ===
      IsolationForest.modelDigest(fitAgain),
      "two fits on the same data produced different forests")
    // a changed seed is real model drift and must change the digest
    val drifted = IsolationForest.fit(feats, featureCols, seed = 43,
      trainFilter = col("event_type") =!= "error")
    assert(IsolationForest.modelDigest(fitOnce) !==
      IsolationForest.modelDigest(drifted))
    // save/load preserves the digest (portable JSON round-trips doubles)
    val path = java.nio.file.Files.createTempDirectory("ifd").toString + "/m.json"
    IsolationForest.save(fitOnce, path, spark)
    assert(IsolationForest.modelDigest(IsolationForest.load(path, spark)) ===
      IsolationForest.modelDigest(fitOnce))
  }

  test("isolation forest save/load round-trip scores identically") {
    val featureCols = Seq("value", "mean_3", "std_3", "mean_12", "std_12")
    val feats = TimeSeries.rollingFeatures(TimeSeries.base(spark, sf)).cache()
    val model = IsolationForest.fit(feats, featureCols,
      trainFilter = col("event_type") =!= "error")
    val dir = java.nio.file.Files.createTempDirectory("ifm").toString
    val path = dir + "/model.json"
    IsolationForest.save(model, path, spark)
    val loaded = IsolationForest.load(path, spark)
    // legacy Java-serialized model files are rejected with a rebuild
    // message, same as the index sidecars
    val legacy = dir + "/model.bin"
    val oos = new java.io.ObjectOutputStream(new java.io.FileOutputStream(legacy))
    try oos.writeObject(model) finally oos.close()
    val e = intercept[IllegalStateException] { IsolationForest.load(legacy, spark) }
    assert(e.getMessage.contains("legacy"))
    val a = IsolationForest.score(spark, feats, featureCols, model)
      .select("event_id", "if_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val b = IsolationForest.score(spark, feats, featureCols, loaded)
      .select("event_id", "if_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("normal-only training keeps error-row recall at least as high") {
    // trained without the anomalous `error` rows, the forest must still
    // flag them disproportionately: error rows' mean score >= overall mean
    val featureCols = Seq("value", "mean_3", "std_3", "mean_12", "std_12")
    val feats = TimeSeries.rollingFeatures(TimeSeries.base(spark, sf)).cache()
    val model = IsolationForest.fit(feats, featureCols,
      trainFilter = col("event_type") =!= "error")
    val scored = IsolationForest.score(spark, feats, featureCols, model).cache()
    val overall = scored.agg(avg("if_score")).collect().head.getDouble(0)
    val errRows = scored.filter(col("event_type") === "error")
      .agg(avg("if_score")).collect().head.getDouble(0)
    assert(errRows >= overall - 0.02,
      s"error-row mean score $errRows far below overall $overall")
  }

  test("isolation forest is deterministic across fits") {
    val a = IsolationForest.detect(spark, sf).collect().map(_.getLong(0))
    val b = IsolationForest.detect(spark, sf).collect().map(_.getLong(0))
    assert(a.sameElements(b))
  }

  test("streaming session windows equal the batch plan") {
    val stream = StreamingAlerts.readEvents(spark, sf)
    val q = StreamingAlerts.sessionCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("st_sess")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("st_sess")
      .orderBy("user_id", "session_start_us").collect()
    val want = StreamingAlerts.sessionCountsBatch(spark, sf).collect()
    assert(got.length === want.length)
    assert(got.sameElements(want))
  }

  test("readEvents streams the DIRECTORY table layout too") {
    // every real writer (ScaleUp, any Spark job) lays events.parquet out
    // as a directory of part files; the former glob-only read silently
    // matched ZERO of them (part-*.parquet), which the r16 streaming
    // scale record exposed as an empty state leg at sf1
    val dirSf = java.nio.file.Files.createTempDirectory("evdir").toString
    graft.sources.Tables.table(spark, sf, "events")
      .repartition(3).write.parquet(s"$dirSf/events.parquet")
    val q = StreamingAlerts.windowedCounts(
        StreamingAlerts.readEvents(spark, dirSf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("st_dirlayout")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("st_dirlayout")
      .orderBy("window_start_us", "event_type").collect()
    val want = StreamingAlerts.windowedCountsBatch(spark, sf).collect()
    assert(got.nonEmpty, "directory layout streamed zero rows")
    assert(got.length === want.length)
  }

  test("streaming windowed counts equal the batch plan") {
    val stream = StreamingAlerts.readEvents(spark, sf)
    val q = StreamingAlerts.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("st_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("st_out")
      .orderBy("window_start_us", "event_type").collect()
    val want = StreamingAlerts.windowedCountsBatch(spark, sf).collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) === w.getLong(0))
      assert(g.getString(1) === w.getString(1))
      assert(g.getLong(2) === w.getLong(2))
      assert(g.getDouble(3) === w.getDouble(3))
    }
  }

  test("streaming threshold alerts fire only above threshold") {
    val stream = StreamingAlerts.readEvents(spark, sf)
    val q = StreamingAlerts.thresholdAlerts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("st_alerts")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val alerts = spark.table("st_alerts")
    assert(alerts.count() > 0)
    assert(alerts.filter(col("value") <= 150).count() === 0)
  }
}
