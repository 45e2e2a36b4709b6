package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic corpus sampling (SURVEY.md §2 ds_sample): reproducible,
  * engine-neutral subsetting for a training-data pipeline — ablation
  * subsets, eval holdouts, per-source mixture weighting ("sample web at
  * 10%, books at 50%") — where `df.sample()`'s RNG would give a different
  * subset per run, per partition layout, per engine.
  *
  * The sampling key is a Lehmer LCG step on the row id,
  * `(id * 48271) mod (2^31 - 1)` (the MINSTD generator; public constants
  * from Park & Miller 1988): one integer multiply, uniform over the
  * modulus, expressible in ANSI SQL — so the DuckDB oracle reproduces the
  * sample bit-for-bit, and on a cluster membership is a pure per-row
  * predicate computed at the scan (no shuffle, no RNG state, pushdown-
  * friendly). Re-running the pipeline — or running it on a different
  * engine — selects the SAME rows, which is what makes the subset a
  * reproducible experiment artifact at 100 TB.
  */
object Sampling {

  /** Lehmer/MINSTD sampling key in [0, 2^31-1).
    *
    * Domain contract, ENFORCED: ids must lie in [0, 2³¹−2]. The map is a
    * bijection on [1, 2³¹−2] (Park & Miller 1988) — that is what makes
    * ds_shuffle a permutation and keeps split/sample membership
    * collision-free — but ids at or past the modulus ALIAS onto the same
    * keys (shard placement silently correlates), and ids past 2⁶³/48271
    * overflow the multiply into negative keys. At multi-billion-doc
    * scale those are silent statistical corruptions, so out-of-domain
    * ids fail the row loudly (one codegen'd range check; the error
    * names the id). Corpora with wider ids should densify first (e.g.
    * `row_number` assignment, or fold through a 64-bit mix and store
    * THAT as the id — the key column must stay engine-neutral
    * arithmetic for the oracle contract). */
  def sampleKey(id: Column): Column =
    // NULL ids keep the pre-guard contract (NULL key → the membership
    // predicate drops the row, matching the SQL twin's NULL arithmetic);
    // only NON-null out-of-domain ids fail, and the message is null-safe
    when(id.isNull, lit(null).cast("long"))
      .when(id.between(lit(0L), lit(2147483646L)),
        (id * lit(48271L)) % lit(2147483647L))
      .otherwise(raise_error(concat(
        lit("Sampling.sampleKey: id outside the Lehmer domain [0, 2^31-2]: "),
        coalesce(id.cast("string"), lit("NULL")))))

  /** Uniform deterministic sample: keep rows whose key lands in the
    * lowest `pct` of 100 key-residue classes. */
  def uniformSample(df: DataFrame, idCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100] (got $pct)")
    df.filter(sampleKey(col(idCol)) % 100 < pct)
  }

  /** Deterministic train/val/test split assignment — the holdout-carving
    * pass of a training-data pipeline, where "which rows are eval" must be
    * reproducible across runs, engines and cluster layouts (a holdout that
    * drifts between pipeline versions silently contaminates evals).
    *
    * `splits` is an ordered (name, pct) list; each row's Lehmer key residue
    * class `key % 100` is walked through the cumulative pct thresholds and
    * the remainder falls to `defaultSplit`. Assignment is a pure per-row
    * expression (no shuffle, no RNG state), and because every split owns a
    * FIXED residue range, growing one split's pct only moves boundary
    * residue classes — the earlier splits' membership is stable under
    * later-split growth, and a split at p% is always a superset of the
    * same split at q% < p (specced). */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)], defaultSplit: String = "train"): DataFrame = {
    require(splits.nonEmpty, "splits must name at least one (name, pct)")
    require(splits.forall { case (_, p) => p >= 0 && p <= 100 },
      "every split pct must be in [0,100]")
    require(splits.map(_._2).sum <= 100,
      s"split pcts sum to ${splits.map(_._2).sum} > 100")
    val bucket = sampleKey(col(idCol)) % 100
    val cums = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    val assign = splits.zip(cums).foldRight(lit(defaultSplit): Column) {
      case (((name, _), cum), acc) => when(bucket < cum, lit(name)).otherwise(acc)
    }
    df.withColumn("sample_key", sampleKey(col(idCol)))
      .withColumn("split", assign)
  }

  /** Query view of [[assignSplits]] over the documents table: the standard
    * 2% test / 2% val carve with everything else in train. */
  def splitAssignments(documents: DataFrame, testPct: Int = 2,
      valPct: Int = 2): DataFrame =
    assignSplits(documents, "doc_id", Seq("test" -> testPct, "val" -> valPct))
      .select("doc_id", "source", "sample_key", "split")
      .orderBy("doc_id")

  /** Stratified deterministic sample over the documents table: per-source
    * percentage rates (defaulting to `defaultPct`), the mixture-weighting
    * pass of an LLM data pipeline. Emits the surviving rows with their
    * sampling key and effective rate — narrow, orderable, oracle-
    * comparable. Per-row predicate work only. */
  def stratifiedSample(documents: DataFrame, rates: Map[String, Int],
      defaultPct: Int = 10): DataFrame =
    stratifiedKeep(documents, rates, defaultPct)
      .select("doc_id", "source", "n_chars", "sample_key", "sample_pct")
      .orderBy("doc_id")

  /** [[stratifiedSample]]'s membership predicate over the FULL document
    * rows — the form composing pipelines consume (the streaming ingest
    * loop's prepare stage, where doc_id/text must survive for the dedup
    * probe and the index append). Same Lehmer residue test, same
    * determinism contract; the `sample_key`/`sample_pct` telemetry
    * columns ride along for callers that want them. */
  def stratifiedKeep(documents: DataFrame, rates: Map[String, Int],
      defaultPct: Int = 10): DataFrame = {
    require((defaultPct +: rates.values.toSeq).forall(p => p >= 0 && p <= 100),
      "every rate must be in [0,100]")
    // deterministic CASE chain (sorted by source) shared with the oracle
    val pct = rates.toSeq.sortBy(_._1).foldRight(lit(defaultPct): Column) {
      case ((src, p), acc) => when(col("source") === src, lit(p)).otherwise(acc)
    }
    documents
      .withColumn("sample_key", sampleKey(col("doc_id")))
      .withColumn("sample_pct", pct)
      .filter(col("sample_key") % 100 < col("sample_pct"))
  }

  /** Deterministic global shuffle + sharding — the "shuffle the corpus
    * before writing training shards" pass. Reading shard 0 position
    * 1..k, then shard 1, … replays a fixed pseudo-random permutation of
    * the corpus: the Lehmer map is a BIJECTION on [1, 2^31-2] (Park &
    * Miller 1988), so distinct ids below the modulus get distinct keys
    * and the (sample_key, doc_id) order is a total order with no
    * engine-dependent tie-breaking.
    *
    * Scale shape: the only exchange is the partition-by-shard the shard
    * WRITE needs anyway; within-shard sort is the only ordering work —
    * no global sort, no single-partition window. Shard sizes are
    * uniform-by-construction (key residues), so the write is skew-free. */
  def shuffleShards(documents: DataFrame, nShards: Int): DataFrame =
    shuffleInstances(documents, "doc_id", nShards)
      .withColumnRenamed("shuffle_key", "sample_key")
      .select("doc_id", "source", "sample_key", "shard", "pos")
      .orderBy("doc_id")

  /** Generalized form of [[shuffleShards]] over any integer id column —
    * used by the composed assembly pipeline where the unit being
    * shuffled is a (doc, epoch) INSTANCE rather than a document: the
    * Lehmer key of `idCol` is the permutation, `shard` its residue
    * class, `pos` the row's position within its shard under the
    * (key, id) total order. All pass-through columns are kept.
    *
    * Same scale shape as [[shuffleShards]]: the window's
    * partition-by-shard is the ONLY exchange — and it is the exchange
    * the shard write needs anyway (see [[writeShards]]), so shuffling +
    * writing costs one pass and one shuffle of narrow rows. */
  def shuffleInstances(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive (got $nShards)")
    df.withColumn("shuffle_key", sampleKey(col(idCol)))
      .withColumn("shard", col("shuffle_key") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_key"), col(idCol))).cast("long"))
  }

  /** The shard WRITER the shuffle plans for: one hash exchange on
    * `shard` co-locates each shard's rows, a within-partition sort puts
    * them in permutation order, and `partitionBy("shard")` lays each
    * shard down as its own directory — so a training loader reading
    * `shard=s/` front-to-back replays the Lehmer permutation with no
    * further sorting. No global sort, no coalesce-to-1; shard residues
    * are uniform so the write is skew-free at any corpus size. */
  def writeShards(assigned: DataFrame, path: String): Unit =
    assigned
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Per-row 64-bit content hash over the NAME-SORTED data columns (all
    * but the partition column), string-canonicalized — shared by the
    * manifest writer and the validator so both sides hash identically.
    * Each column goes through a NULL SENTINEL (r17): xxhash64 skips null
    * inputs entirely, so without it two rows differing only in WHICH of
    * two adjacent columns holds a value vs null hashed identically — a
    * silent validator false-pass. The sentinel starts with NUL, which no
    * cast-to-string value produces, so it cannot collide with data. */
  private def shardRowHash(df: DataFrame): (Seq[String], Column) = {
    val dataCols = df.columns.filter(_ != "shard").sorted.toSeq
    (dataCols, xxhash64(dataCols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null"))): _*))
  }

  /** Order-insensitive per-shard checksum over the `__h` row hashes:
    * SUM mod 2⁶⁴ (r17). The former bit_xor aggregate let any tamper
    * applied to an EVEN count of identical rows cancel to a clean
    * checksum (row count unchanged → validateShards passed); modular
    * addition is still read-order- and file-split-independent but only
    * cancels if the hash multiset's SUM is preserved, which duplicate-
    * row tampering does not do. Decimal(38,0) holds the pre-mod sum
    * exactly to ~10¹⁸ rows per shard. */
  private def shardChecksum: Column = {
    val two64 = new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(64))
    pmod(sum(col("__h").cast("decimal(38,0)")), lit(two64))
  }

  private def checksumHex(r: org.apache.spark.sql.Row, i: Int): String =
    r.getDecimal(i).toBigInteger.toString(16)

  /** Publishable-artifact manifest for a written shard set — the
    * engine-side half of dataset publication. The reference ships
    * upload scripts (push_to_huggingface.py:1-141); uploading is an
    * external-service action outside an engine's charter, but producing
    * the VERIFIABLE artifact record a publication step needs IS one:
    * per-shard row counts and order-insensitive content checksums
    * (sum mod 2⁶⁴ of null-sentinel xxhash64 over every data column,
    * name-sorted — modular addition so the checksum is independent of
    * read order and file split without XOR's even-count tamper
    * cancellation; see [[shardChecksum]]), plus
    * totals and the column list, written as `_manifest.json` inside the
    * shard root (underscore-prefixed, so Spark readers ignore it like
    * _SUCCESS). One column-pruned aggregate over the shard set; the
    * driver holds one row per shard.
    *
    * [[validateShards]] is the consumer gate: recompute and compare, an
    * empty result means the artifact on disk is exactly what the
    * manifest promises (the validateExport discipline, applied to the
    * training-data artifact). */
  def writeShardManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val back = Tables.parquet(spark, path)
    require(back.columns.contains("shard"),
      s"$path is not a shard layout (no `shard` partition column)")
    val (dataCols, rowHash) = shardRowHash(back)
    val per = back
      .withColumn("__h", rowHash)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("rows"), shardChecksum.as("checksum"))
      .orderBy("shard")
      .collect()
    val shardsJson = per.map(r =>
      s"""{"shard":${r.getLong(0)},"rows":${r.getLong(1)},""" +
        s""""checksum":"${checksumHex(r, 2)}"}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"n_shards":${per.length},"total_rows":${per.map(_.getLong(1)).sum},""" +
        s""""columns":${dataCols.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""shards":$shardsJson}"""
    val p = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Consumer-side artifact gate: recompute every shard's row count and
    * content checksum and compare against `_manifest.json`. Returns
    * (field, violation) rows — empty means the artifact matches its
    * manifest exactly, so a loader can gate on
    * `validateShards(...).isEmpty` the way publication gates on
    * [[graft.operators.Reports.validateExport]]. Violations: a missing
    * manifest, a changed column set, per-shard row/checksum mismatches,
    * and shards present on only one side. */
  def validateShards(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val err = (f: String, v: String) => Seq((f, v)).toDF("field", "violation")
    val mp = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) return err("<manifest>", "manifest_not_found")
    // parsed driver-side (Jackson, already on Spark's classpath): Spark's
    // default path filter hides underscore-prefixed files from its
    // readers even when pointed at the file directly — which is exactly
    // why the manifest is invisible to shard CONSUMERS, and why the
    // validator cannot use spark.read.json on it
    import scala.jdk.CollectionConverters._
    val in = fs.open(mp)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    if (root == null || root.get("shards") == null || root.get("columns") == null)
      return err("<manifest>", "invalid_json")
    val wantCols = root.get("columns").elements().asScala.map(_.asText()).toSeq
    val want = root.get("shards").elements().asScala.map { s =>
      s.get("shard").asLong() ->
        ((s.get("rows").asLong(), s.get("checksum").asText()))
    }.toMap
    val back = Tables.parquet(spark, path)
    val (dataCols, rowHash) = shardRowHash(back)
    if (dataCols != wantCols)
      return err("columns", "columns_mismatch")
    val got = back
      .withColumn("__h", rowHash)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("rows"), shardChecksum.as("checksum"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), checksumHex(r, 2)))).toMap
    val rows =
      (want.keySet -- got.keySet).toSeq.sorted.map(s =>
        (s"shard=$s", "shard_missing")) ++
      (got.keySet -- want.keySet).toSeq.sorted.map(s =>
        (s"shard=$s", "shard_unexpected")) ++
      (want.keySet & got.keySet).toSeq.sorted.flatMap { s =>
        val (wr, wc) = want(s)
        val (gr, gc) = got(s)
        (if (gr != wr) Seq((s"shard=$s", "rows_mismatch")) else Nil) ++
          (if (gc != wc) Seq((s"shard=$s", "checksum_mismatch")) else Nil)
      }
    if (rows.isEmpty) spark.emptyDataset[(String, String)].toDF("field", "violation")
    else rows.toDF("field", "violation")
  }

  /** Epoch/repetition planning — the step AFTER [[mixToTarget]] when the
    * target proportions exceed what sources can supply without
    * repetition: real LLM data recipes repeat scarce high-value domains
    * (books ×3, web ×1) up to a repetition cap. Given relative `weights`,
    * a total row `budget` and `maxEpochs`, each named source's take is
    * min(w_s·budget/W, n_s·maxEpochs) rows, realized as floor(take/n_s)
    * FULL epochs of the whole source plus a Lehmer-residue-selected
    * partial epoch for the remainder — one output row per (doc, epoch),
    * epochs numbered from 1. All Long integer arithmetic (div/%), so the
    * DuckDB oracle replays the plan bit-for-bit.
    *
    * Scale shape: per-source counts are one column-pruned map-side agg,
    * the tiny per-source plan broadcasts back, and the per-doc epoch
    * explode is scan-side row generation — the corpus never shuffles
    * (the output's presentation sort is the only exchange). Exact while
    * w·budget and take·10⁶ stay under 2⁶³. */
  def epochPlan(documents: DataFrame, weights: Map[String, Int],
      budget: Long, maxEpochs: Int = 4): DataFrame = {
    require(weights.nonEmpty, "weights must name at least one source")
    require(weights.values.forall(_ > 0), "weights must be positive")
    require(budget > 0, s"budget must be positive (got $budget)")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1 (got $maxEpochs)")
    val wsum = weights.values.map(_.toLong).sum
    val wcol = weights.toSeq.sortBy(_._1)
      .foldRight(lit(null).cast("long")) { case ((src, w), acc) =>
        when(col("source") === src, lit(w.toLong)).otherwise(acc)
      }
    val base = documents.withColumn("w", wcol).filter(col("w").isNotNull)
    val plan = base.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_source"))
      .withColumn("take_n", least(
        call_function("div", col("w") * lit(budget), lit(wsum)),
        col("n_source") * lit(maxEpochs.toLong)))
      .withColumn("full_ep",
        call_function("div", col("take_n"), col("n_source")))
      .withColumn("rate_ppm", call_function("div",
        (col("take_n") % col("n_source")) * lit(1000000L), col("n_source")))
      .select("source", "full_ep", "rate_ppm")
    base
      .join(broadcast(plan), Seq("source"))
      .withColumn("sample_key", sampleKey(col("doc_id")))
      .withColumn("n_ep", col("full_ep") +
        when(col("sample_key") % 1000000L < col("rate_ppm"), lit(1L))
          .otherwise(lit(0L)))
      // guard BEFORE the sequence: Spark's sequence(1, 0) would run
      // DESCENDING, not empty — sources whose plan gives a doc zero
      // epochs must drop here (DuckDB's generate_series(1, 0) is empty,
      // so the twin drops them in the unnest)
      .filter(col("n_ep") >= 1L)
      .select(col("doc_id"), col("source"), col("sample_key"),
        explode(sequence(lit(1L), col("n_ep"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Target-proportion mixture construction — the "web 60% / books 20% /
    * code 20%" recipe of an LLM data pipeline (Pile/DoReMi-style domain
    * weighting), derived from the corpus itself rather than hand-tuned
    * per-source rates: given relative `weights`, the largest total T*
    * for which every named source can supply its share WITHOUT
    * repetition is T* = min_s floor(n_s·W / w_s) (the bottleneck source
    * is taken whole — up to ONE doc of floor rounding: the chain gives
    * its take ∈ {n_b−1, n_b}, exact whenever w_b divides n_b·W), each
    * source's take is floor(w_s·T* / W), and
    * membership is the Lehmer residue test at rate_ppm = floor(take·10⁶
    * / n_s) — all Long integer arithmetic, so the DuckDB oracle replays
    * the selection bit-for-bit. Sources not named in `weights` are
    * dropped; named sources absent from the corpus are ignored in T*.
    *
    * Scale shape: one column-pruned pass for the per-source counts
    * (map-side partial agg → one row per source), the tiny rates table
    * broadcast back, and one scan-predicate pass selects — the corpus
    * itself never shuffles. Bounds: exact while n_s·W and take·10⁶ stay
    * under 2⁶³ (n_s ≤ ~9·10¹² at W ≤ 10⁶ — past any real corpus). */
  def mixToTarget(documents: DataFrame, weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty, "weights must name at least one source")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val wsum = weights.values.map(_.toLong).sum
    // deterministic CASE chain (sorted by source) shared with the oracle
    val wcol = weights.toSeq.sortBy(_._1)
      .foldRight(lit(null).cast("long")) { case ((src, w), acc) =>
        when(col("source") === src, lit(w.toLong)).otherwise(acc)
      }
    val base = documents.withColumn("w", wcol).filter(col("w").isNotNull)
    val counts = base.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_source"))
    val tstar = counts.agg(min(
      call_function("div", col("n_source") * lit(wsum), col("w")))
      .as("t_star"))
    val rates = counts.crossJoin(broadcast(tstar))
      .withColumn("take_n",
        call_function("div", col("w") * col("t_star"), lit(wsum)))
      .withColumn("rate_ppm",
        call_function("div", col("take_n") * lit(1000000L), col("n_source")))
      .select("source", "rate_ppm")
    base
      .join(broadcast(rates), Seq("source"))
      .withColumn("sample_key", sampleKey(col("doc_id")))
      .filter(col("sample_key") % 1000000L < col("rate_ppm"))
      .select("doc_id", "source", "n_chars", "sample_key", "rate_ppm")
      .orderBy("doc_id")
  }

  /** Deterministic dense-id assignment — the documented escape hatch for
    * [[sampleKey]]'s Lehmer domain (and assembleDataset's tightened
    * doc_id bound): rows sorted by `orderCols` (default: the id column)
    * get ids 0..n−1 in that order, appended as `dense_id`.
    *
    * Determinism contract: `orderCols` must be a TOTAL order (the
    * default requires unique ids) — under a tie the assignment within
    * the tie group depends on partitioning. With a total order the
    * mapping is a pure function of the data, stable across runs,
    * partition layouts and cluster sizes (specced).
    *
    * Scale shape: this is the one operator where an RDD primitive beats
    * every DataFrame form — a global `row_number()` window forces ALL
    * rows through a single partition, while `zipWithIndex` runs one
    * count job over the sorted partitions and one map with per-partition
    * offsets: two passes, no single-partition stage, exact at any corpus
    * size. */
  def densifyIds(df: DataFrame, orderCols: Seq[String] = Seq("doc_id")): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must name at least one column")
    val spark = df.sparkSession
    val ordered = df.orderBy(orderCols.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(
      ordered.schema.fields :+ org.apache.spark.sql.types.StructField(
        "dense_id", org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = ordered.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** [[mixToTarget]] in TOKEN units — the form real LLM mixtures are
    * specified in ("20% of TOKENS from code, 60% from web…" — domain
    * weights in Pile/DoReMi/Llama recipes weight token mass, not
    * document counts, because document length varies by orders of
    * magnitude across sources): per-source supply is
    * tok_s = Σ [[graft.operators.TextAnalysis.tokenCount]] (the ONE
    * engine token counter, so this budget means the same thing as
    * tx_tokens/tx_pack's), the largest repetition-free total is
    * T* = min_s floor(tok_s·W / w_s), each source's token take is
    * floor(w_s·T* / W), and membership stays the per-DOC Lehmer residue
    * test at rate_ppm = floor(take·10⁶ / tok_s): documents are atomic,
    * so the mixture thins documents uniformly per source and the
    * realized token share concentrates on the target (uniform doc
    * sampling is length-unbiased — E[token mass kept] = rate·tok_s),
    * exactly the estimator contract the doc-count form has at doc
    * granularity. All Long integer arithmetic — the DuckDB oracle
    * replays the selection bit-for-bit.
    *
    * Bottleneck rounding: the floor chain gives the token-bottleneck
    * source take ∈ {tok_b − 1, tok_b} (take ≥ tok_b·(1 − w_b/(tok_b·W))
    * > tok_b − 1), so its rate_ppm is 10⁶ when the divisions land exact
    * and at most one token's worth below otherwise — "taken whole up to
    * one token of floor rounding", material only on toy corpora
    * (at tok_b = 10⁶ the worst case is rate 999 999). The doc-count
    * [[mixToTarget]] has the same property in doc units.
    *
    * Scale shape: identical to [[mixToTarget]] — one column-pruned
    * aggregation pass for per-source token sums (map-side partials, one
    * row per source), the tiny rates table broadcast back, one
    * scan-predicate pass selects; the corpus never shuffles. Exact
    * while tok_s·W and take·10⁶ stay under 2⁶³ (tok_s ≤ ~9·10¹² tokens
    * at W ≤ 10⁶). A prefix-cut variant (take docs in key order until
    * the budget fills exactly) would need a per-source global running
    * sum — a single-partition-per-source window at any corpus size —
    * so the rate form is the deliberate scale choice. */
  def mixToTokenTarget(documents: DataFrame, weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty, "weights must name at least one source")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val wsum = weights.values.map(_.toLong).sum
    val wcol = weights.toSeq.sortBy(_._1)
      .foldRight(lit(null).cast("long")) { case ((src, w), acc) =>
        when(col("source") === src, lit(w.toLong)).otherwise(acc)
      }
    val base = documents.withColumn("w", wcol).filter(col("w").isNotNull)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
    val counts = base.groupBy(col("source"), col("w"))
      .agg(sum(col("n_tokens")).as("tok_source"))
    val tstar = counts.agg(min(
      call_function("div", col("tok_source") * lit(wsum), col("w")))
      .as("t_star"))
    val rates = counts.crossJoin(broadcast(tstar))
      .withColumn("take_tokens",
        call_function("div", col("w") * col("t_star"), lit(wsum)))
      .withColumn("rate_ppm",
        call_function("div", col("take_tokens") * lit(1000000L), col("tok_source")))
      .select("source", "rate_ppm")
    base
      .join(broadcast(rates), Seq("source"))
      .withColumn("sample_key", sampleKey(col("doc_id")))
      .filter(col("sample_key") % 1000000L < col("rate_ppm"))
      .select("doc_id", "source", "n_tokens", "sample_key", "rate_ppm")
      .orderBy("doc_id")
  }
}
