package graft
import org.apache.spark.sql.graft.{JobProbe, Jobs}
import Mains.{f3, secsJson, timed}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // disk-headroom preflight (r18, verdict ask #3): the r17 sf10 sweep
    // lost q_approx_distinct and the streaming block to a transient
    // disk-full when a co-resident DuckDB oracle spill collided with
    // this JVM's shuffle files. Shuffle + localCheckpoint traffic
    // scales with the dataset, so refuse to start a sweep when free
    // space on the Spark local dir is under 4x the dataset footprint,
    // and warn under max(8 GB, 12x). SPARK_GRAFT_NO_DISK_GUARD=1
    // overrides the refusal for deliberately tight environments.
    locally {
      // symlinks are skipped: a link into the dataset (or a link cycle)
      // would double-count or never terminate — only regular files count
      def dirBytes(f: java.io.File): Long =
        if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
        else if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
      val data = dirBytes(new java.io.File(sfDir))
      val local = new java.io.File(
        sys.env.getOrElse("SPARK_LOCAL_DIRS",
          sys.props.getOrElse("java.io.tmpdir", "/tmp")).split(",").head)
      // getUsableSpace on a not-yet-created dir returns 0, which would
      // hard-refuse every run on a path Spark itself would mkdir — walk
      // up to the nearest EXISTING ancestor and read the volume there
      val probe = Iterator.iterate(local.getAbsoluteFile)(_.getParentFile)
        .takeWhile(_ != null).find(_.exists()).getOrElse(local)
      val free = probe.getUsableSpace
      val gb = 1L << 30
      val hard = 4L * data
      val soft = math.max(8L * gb, 12L * data)
      if (free < hard && !sys.env.get("SPARK_GRAFT_NO_DISK_GUARD").contains("1"))
        sys.error(f"disk preflight: ${free.toDouble / gb}%.1f GB free at " +
          f"$local < ${hard.toDouble / gb}%.1f GB (4x the " +
          f"${data.toDouble / gb}%.1f GB dataset at $sfDir) — shuffles " +
          "would die mid-sweep; free space, point SPARK_LOCAL_DIRS at a " +
          "roomier volume, or set SPARK_GRAFT_NO_DISK_GUARD=1")
      if (free < soft)
        Console.err.println(f"WARNING: disk preflight: " +
          f"${free.toDouble / gb}%.1f GB free < " +
          f"${soft.toDouble / gb}%.1f GB soft threshold for a " +
          f"${data.toDouble / gb}%.1f GB dataset — watch disk during the run")
    }
    val spark = Mains.session()
    // steady-state warm-up: JIT + codegen + parquet reader init on the
    // tiny sf so the first timed query isn't billed for JVM startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // min of three runs per query: steady-state cost, robust to the
    // sandbox's ±15-25% co-tenant noise (plans are freshly built each
    // run — no caching between them). A query that throws is recorded as
    // -1 (never as its time-to-crash).
    //
    // Evaluation is forced through the NOOP SINK, not count(): an
    // Aggregate(count) on top of a projection-only key lets Catalyst
    // prune every computed column (a per-row expression cannot change
    // the row count), so count() times a parquet ROW COUNT for keys
    // like tx_curate — measured 0.14 s "benched" vs ~2.9 s actually
    // evaluated (r12). The noop sink drives every column of every row
    // through the full plan, including the presentation sort — the same
    // work Verify's parquet dump and the pandas baseline twins pay, so
    // the bench-vs-baseline ratio compares like with like. (Bench
    // totals before r12 carried the pruned numbers for the pure
    // per-row keys; aggregation/join/window keys were never prunable
    // and are comparable across rounds.)
    // optional key filter for local iteration; a full run leaves it
    // unset and benches everything
    val only = Mains.only()
    // sweep skip-list (r17): frozen correctness INSTRUMENTS leave full
    // sweeps once the corpus outgrows their purpose. dd_embedding_anchor
    // pins planes=6 at any size so the oracle can bit-check the verify
    // arithmetic — with planes frozen its candidate volume grows linearly
    // ON TOP of corpus growth BY CONTRACT, and it consumed 28% (495 s) of
    // the r16 sf10 sweep while its gate reading is already the isolated
    // arbitration (tools/arbitrate.py always re-measures it). The bench
    // never knows its sf label, so the trigger is the measured corpus
    // size: above ~100k embeddings (sfN >= 10; every oracle/gate sf is
    // <= 20k) the anchor is skipped and RECORDED in the JSON's "skipped"
    // field. SPARK_GRAFT_SKIP overrides in both directions ("" disables).
    val autoSkip: Set[String] =
      if (only.nonEmpty) Set.empty
      else try {
        val n = graft.sources.Tables.embeddings(spark, sfDir).count()
        // dd_embedding_uncapped joined the list in r17: it preserves the
        // pre-cap oracle semantics (the dial a 100-TB deployment should
        // never choose — the r16 density study measured it OOMing an 8 GB
        // heap at 600k vectors), and at the r17 sf10 sweep it cost 64.6 s
        // (10%) and drove the shuffle-spill spike that filled /tmp. Its
        // scale reading is dd_embedding (capped, the production default);
        // its oracle runs at the gate sfs where it is hash-exact.
        if (n >= 100000L) Set("dd_embedding_anchor", "dd_embedding_uncapped")
        else Set.empty
      } catch { case _: Throwable => Set.empty }
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(autoSkip)
    require(skip.subsetOf(SparkEntry.queries.keySet),
      s"SPARK_GRAFT_SKIP names not in SparkEntry.queries: " +
        s"${skip.diff(SparkEntry.queries.keySet).mkString(", ")}")
    // box-noise probe (r15): five runs of ONE fixed data-independent
    // workload, recorded beside the timings — this session measured the
    // same code at 50.9 s and 54.9 s two hours apart (co-tenant drift),
    // and every cross-round or cross-scale comparison needs to know the
    // session's noise floor rather than assume the documented ±15-25 %.
    // The probe is a 200M-row range aggregate: pure CPU + scheduler, no
    // I/O, so its dispersion is the BOX, not the data. Skipped (like
    // recall/ingest) on subset runs.
    // A probe failure must not abort the bench before any query has been
    // timed (r15 advisor finding) — degrade to a sentinel noise field and
    // let the query loop produce its record.
    val noise =
      if (only.nonEmpty) ""
      else try {
        def probe(): Double =
          timed(1)(spark.range(200L * 1000 * 1000).selectExpr("sum(id * 3 + 1) AS s"))
        // second flavor (r16): a fixed SHUFFLE workload — exchange
        // serialization + memory bandwidth + sort, the resources a
        // co-tenant eating I/O/memory steals that the pure-CPU range
        // aggregate cannot see (this session's r16 sf1 sweep measured
        // real keys 1.5x slower while the CPU probe stayed at 1.2x
        // spread — the probe's measured blind spot)
        def shuffleProbe(): Double = timed(1)(spark.range(30L * 1000 * 1000)
          .selectExpr("pmod(id * 2654435761, 1000003) AS k", "id")
          .repartition(32, org.apache.spark.sql.functions.col("k"))
          .sortWithinPartitions("k", "id"))
        probe() // untimed: the probe's own codegen/JIT warm-up
        shuffleProbe()
        val secs = (1 to 5).map(_ => probe())
        val shuf = (1 to 5).map(_ => shuffleProbe())
        val mean = secs.sum / secs.size
        val cv = math.sqrt(secs.map(s => (s - mean) * (s - mean)).sum / secs.size) / mean
        s""","noise":{"secs":${secsJson(secs)},""" +
          s""""spread_x":${f3(secs.max / secs.min)},"cv":${f3(cv)},""" +
          s""""shuffle_secs":${secsJson(shuf)},""" +
          s""""shuffle_spread_x":${f3(shuf.max / shuf.min)}}"""
      } catch { case e: Throwable =>
        s""","noise":{"secs":[],"failed":true,"error":${errorJson(e)}}""" }
    val results = SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && !skip.contains(name) }
      .map { case (name, fn) =>
      // each run under the job probe: the run's Spark jobs (count and
      // summed seconds) split its wall time into serial actions and
      // driver-side work. The probe drains the listener bus after the
      // body returns, outside the timed region.
      val runs = (1 to 3).map { _ =>
        val ((secs, err), jobs) = JobProbe(spark) {
          val t0 = System.nanoTime()
          val err = try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None
          }
            catch { case e: Throwable => Some(e) }
          ((System.nanoTime() - t0) / 1e9, err)
        }
        (secs, err, jobs)
      }
      name -> (if (runs.forall(_._2.isEmpty)) {
        val (secs, _, jobs) = runs.minBy(_._1)
        (secs, None, jobs)
      } else (-1.0, runs.flatMap(_._2).headOption, Jobs.Unknown))
    }
    def perKey(v: ((Double, Option[Throwable], Jobs)) => String): String =
      results.map { case (k, r) => s"\"" + k + "\":" + v(r) }.mkString("{", ",", "}")
    val qs = perKey(_._1.toString)
    // the minimum run's jobs; -1 beside a failed key's -1 sentinel, and
    // for a run whose listener bus did not drain in time
    val jobs = perKey(_._3.count.toString)
    val jobSecs = perKey(r => if (r._3.count < 0) "-1" else f3(r._3.seconds))
    val failed = results.filter(_._2._1 < 0).keys.toSeq.sorted
    // the first exception of each failed key, beside its -1 sentinel
    val errors = failed.map(k => s"\"$k\":" + errorJson(results(k)._2.get))
      .mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    // sampled ANN recall@10 (100 queries vs brute force) rides along every
    // bench so tables/planes/nprobe drift is visible, not silent; runs
    // outside the timings. SPARK_GRAFT_RECALL=0 skips it.
    val recall =
      if (sys.env.get("SPARK_GRAFT_RECALL").contains("0") || only.nonEmpty) ""
      else try {
        val r = RecallProbe.run(spark, sfDir).toSeq.sortBy(_._1)
          .map { case (k, v) => s"\"$k\":$v" }.mkString(",")
        s""","recall":{$r}"""
      } catch { case e: Throwable => s""","recall":${failedJson(e)}""" }
    // per-batch ingest-loop slope (constant batches vs a growing
    // signature index) rides along too — near-flat batch_secs is the
    // measured form of the O(batch + collisions) ingest claim.
    // SPARK_GRAFT_INGEST=0 skips it.
    val ingest =
      if (sys.env.get("SPARK_GRAFT_INGEST").contains("0") || only.nonEmpty) ""
      else try s""","ingest":${IngestBench.run(spark, sfDir).json}"""
      catch { case e: Throwable => s""","ingest":${failedJson(e)}""" }
    // the streaming form of the ingest loop (foreachBatch under the
    // streaming runtime + a stateful RocksDB leg) rides along full runs
    // under the same skip dial — per-batch secs from the query's own
    // progress records, state rows/bytes from the stateful operator.
    val streamIngest =
      if (sys.env.get("SPARK_GRAFT_INGEST").contains("0") || only.nonEmpty) ""
      else try s""","ingest_streaming":${StreamingIngestBench.run(spark, sfDir).json}"""
      catch { case e: Throwable => s""","ingest_streaming":${failedJson(e)}""" }
    val skipped = skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"jobs":$jobs,"job_s":$jobSecs,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"errors":$errors,"skipped":$skipped$recall$ingest$streamIngest$noise,"sf":"$sfDir"}"""
    println(line)
    // the JSON also lands in a FILE: the driver's per-round artifact is a
    // captured stdout tail, and a 72-key line overflows the tail window —
    // BENCH_r07.json survived only truncated mid-JSON. The file is the
    // complete, parseable record regardless of how much stdout survives.
    // A SPARK_GRAFT_ONLY subset never writes the default BENCH.json: that
    // file is the committed 84-key record, and a subset overwrite has
    // clobbered it twice (r13 c3456c6, again during the r14 arbitration
    // runs). Subset runs still honor an EXPLICIT SPARK_GRAFT_BENCH_OUT.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH.json") else None)
    out.foreach(o => java.nio.file.Files.write(java.nio.file.Paths.get(o),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // …and a COMPACT final line (≤ ~300 B): the driver's per-round
    // artifact is a captured stdout TAIL, and the full per-key line
    // overflows its window at 80+ keys (BENCH_r07/r11 survived only
    // head-truncated mid-JSON). Printing the summary LAST means the
    // captured tail always ends with a complete, parseable record —
    // totals, failure names, and a pointer to the full file — no matter
    // how much of the big line survives.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir","full":"${out.getOrElse("(not written: subset run)")}"}""")
    spark.stop()
  }

  /** `"<class>: <message>"` of a failure, as a JSON string. */
  private[graft] def errorJson(e: Throwable): String =
    Mains.jsonString(s"${e.getClass.getName}: ${e.getMessage}")

  /** A block that could not run: `{"failed":true,"error":"<class>: <message>"}`. */
  private[graft] def failedJson(e: Throwable): String =
    s"""{"failed":true,"error":${errorJson(e)}}"""
}
