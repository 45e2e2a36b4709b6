package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType,
  DateType, DoubleType, FloatType, IntegerType, LongType, ShortType,
  StringType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.graft.{FileRelations, ScopedConf}

/** Typed access to the test-corpus tables (TPC-H-ish star schema plus
  * `events`/`documents`/`embeddings`), mirroring the reference's loaders
  * (reference: benchmarking/model.py:82 `load_benchmark_data`,
  * src/pipeline_batch.py:13 `load_raw_data` — CSV/Parquet ingestion).
  *
  * Scale notes: every parquet read in graft.sources and graft.operators
  * goes through [[parquet]] (directly or through [[table]]), which
  * returns the declarative scan `spark.read.parquet` builds, so Catalyst
  * pushes filters/projections into the scan and prunes partitions as
  * before. A table read ([[table]]: every named loader below) differs in
  * one case: when Spark would plan its scan as one file split (one
  * unpartitioned file within `FilePartition.maxSplitBytes` of the
  * session's `spark.sql.files.*` conf: 4 MB, `openCostInBytes`, at the
  * defaults), the scan is returned under a `coalesce(1)`. Its output then
  * reports a single
  * partition, so `EnsureRequirements` inserts no exchange for the
  * aggregates, windows, sorts and sort-merge joins above it, and a query
  * over such tables runs as one Spark job rather than one per AQE stage
  * (the data already sat in one task). A larger file, a multi-file
  * directory or a lowered `maxPartitionBytes` gets exactly the plain
  * read's plan. Dimension tables (region, nation, supplier, part,
  * customer) are small relative to the facts and should be broadcast at
  * join sites — helpers here never force a shuffle.
  *
  * What [[parquet]] caches: a plain read lists the files and runs a
  * one-task Spark job to infer the schema from a footer (93–103 ms per
  * open of an sf0.1 table, local[4] on a 4-core box; a reuse takes
  * 2–7 ms), even when nothing on disk changed. The front door keeps the
  * resolved relation (file listing, partition spec, schema) per
  * [[SessionScoped]] session, keyed by (path, the session's
  * `spark.conf.getAll`), since runtime conf changes what a read infers
  * (`binaryAsString`, partition-type inference, the nanos flag). A
  * repeated open of unchanged files runs no Spark job.
  *
  * How staleness is detected: each open fingerprints the files under the
  * path — the sorted (path, length, mtime) of every file — and reuses the
  * relation only when the fingerprint equals the one it was resolved
  * under. A write (AlertStore.append/clearRange, appendSignatures, an
  * overwrite, an index swap) changes the fingerprint — Spark names every
  * written file after its job's UUID — so the next open re-resolves; no
  * invalidation hook is needed. The fingerprint is taken before the
  * plain read, so a write racing the read can only make the stored
  * fingerprint older than the relation (a later miss), never newer.
  *
  * Why the walk uses `FileSystem.listStatus`: it is one call per
  * directory (3.7 ms for a 30-file, day-partitioned alert lake on the
  * same box), where `listFiles(path, true)` fetches block locations per
  * file and took 267 ms on that lake — more than the inference it
  * replaces.
  */
object Tables {

  /** The front door for parquet reads: `spark.read.parquet(path)`, with
    * the resolved relation reused while the files under `path` are
    * unchanged (see Scale notes above). A missing path, a glob or a
    * failed walk takes the plain read, so errors are those of
    * `spark.read.parquet`; a read that throws caches nothing. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    open(spark, path, onePartition = false)

  /** `<dir>/<name>.parquet` through the front door, as one partition when
    * Spark would read it as one split (see Scale notes above). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    open(spark, s"$dir/$name.parquet", onePartition = true)

  private def open(spark: SparkSession, path: String, onePartition: Boolean): DataFrame = {
    val files = fingerprint(spark, path)
    val key = (path, spark.conf.getAll)
    val cache = resolved(spark)
    files.flatMap(f => Option(cache.get(key)).filter(_.files == f)) match {
      case Some(hit) => hit.open(spark, onePartition)
      case None =>
        val df = spark.read.parquet(path)
        val fresh = for (f <- files; r <- FileRelations.of(df)) yield Resolved(f, r)
        fresh.foreach(cache.put(key, _))
        fresh.filter(onePartition && _.oneSplit).fold(df)(_.open(spark, onePartition))
    }
  }

  /** A resolved relation and the fingerprint it was resolved under.
    * Whether its scan is one split is decided once, at the first table
    * read of it, under the conf its cache key holds. */
  private final case class Resolved(files: Vector[(String, Long, Long)],
      relation: LogicalRelation) {
    lazy val oneSplit: Boolean = FileRelations.oneSplit(relation)

    def open(spark: SparkSession, onePartition: Boolean): DataFrame =
      FileRelations.reopen(spark, relation, onePartition && oneSplit)
  }

  private val resolved = new SessionScoped(
    new java.util.concurrent.ConcurrentHashMap[(String, Map[String, String]), Resolved]())

  /** Sorted (path, length, mtime) of every file under `path`, walked with
    * one `listStatus` per directory; None for a glob or a failed walk. */
  private def fingerprint(spark: SparkSession,
      path: String): Option[Vector[(String, Long, Long)]] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else scala.util.Try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(st: FileStatus): Iterator[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(walk)
        else Iterator(st)
      walk(fs.getFileStatus(root))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toVector.sorted
    }.toOption

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame =
    canonicalizeFactTs(tableAdaptive(spark, dir, "orders"), Seq("o_orderdate"))
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    canonicalizeFactTs(tableAdaptive(spark, dir, "lineitem"), Seq("l_shipdate"))
  def documents(spark: SparkSession, dir: String): DataFrame =
    canonicalizeDocuments(table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    canonicalizeEmbeddings(table(spark, dir, "embeddings"))

  /** Data contract for `documents.parquet` (same drift-insurance class as
    * the `events` ts contract — reference analog: src/pipeline_batch.py:13
    * `load_raw_data`'s tolerant parse). The pandas/pyarrow writer may ship:
    *
    *   - text columns (`text`, `lang`, `source`) as BYTE_ARRAY **without**
    *     the UTF8 annotation (pyarrow `binary` / `large_binary`), which
    *     Spark reads as `BinaryType` → canonicalized by a UTF-8-decoding
    *     cast to `StringType` (Arrow `large_string` is physically the same
    *     annotated BYTE_ARRAY as `string`, so it needs no branch);
    *   - integral columns (`doc_id`, `n_chars`) as INT32/INT16 instead of
    *     INT64 → widened to `LongType` (lossless).
    *
    * When the stored schema is already canonical the frame is returned
    * untouched — no extra `Project`, so pushdown/pruning plan shapes are
    * byte-identical to a bare scan (pinned by DocEmbSchemaDriftSpec). */
  def canonicalizeDocuments(df: DataFrame): DataFrame = {
    val fixes = df.schema.fields.flatMap { f =>
      f.dataType match {
        case BinaryType                       => Some(f.name -> col(f.name).cast(StringType))
        case IntegerType | ShortType | ByteType => Some(f.name -> col(f.name).cast(LongType))
        case _                                => None
      }
    }
    fixes.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  /** Data contract for `embeddings.parquet`. Canonical: `vec_id long,
    * embedding array<float>, label int`. Tolerated writer drift:
    *
    *   - `embedding` as `list<double>` (pandas upcasts float32 → float64;
    *     Arrow `fixed_size_list<float>` round-trips through parquet as a
    *     plain LIST, so it arrives identically to the canonical form) →
    *     cast back to `array<float>`. Exact when the doubles are promoted
    *     float32 values, which is the only drift the writer can produce —
    *     it never had more than float32 precision to begin with;
    *   - `vec_id` narrowed to INT32 → widened to long (lossless);
    *   - `label` widened to INT64 → cast to int (labels are small class
    *     ids; the canonical type is the reference's int32).
    *
    * Canonical input returns the frame untouched (no added `Project`). */
  def canonicalizeEmbeddings(df: DataFrame): DataFrame = {
    var out = df
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _)  => ()
      case ArrayType(DoubleType, _) =>
        out = out.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalArgumentException(
        s"embeddings.embedding: unsupported stored type $other (expected array<float|double>)")
    }
    if (out.schema("vec_id").dataType != LongType)
      out = out.withColumn("vec_id", col("vec_id").cast(LongType))
    if (out.schema.fieldNames.contains("label") && out.schema("label").dataType != IntegerType)
      out = out.withColumn("label", col("label").cast(IntegerType))
    out
  }

  /** Data contract for `events.parquet` — the writer (a pandas/pyarrow
    * pipeline, reference: src/pipeline_batch.py:36 `load_raw_data`'s
    * tolerant timestamp parse) has shipped `ts` in three physical forms
    * over time, and this loader accepts all of them, canonicalizing to a
    * session-TZ `TIMESTAMP` holding the same µs instants in every case:
    *
    *   - INT64 / TIMESTAMP(NANOS): Spark's reader rejects NANOS outright
    *     ([ILLEGAL_PARQUET_TYPE]), so on that failure we retry with the
    *     legacy nanos-as-long read and truncate ns→µs — the truncation
    *     DuckDB's µs-native timestamp applies, so both engines see
    *     identical instants.
    *   - plain INT64 (ns since epoch, no annotation): arrives as LongType;
    *     same ns→µs truncation.
    *   - INT64 / TIMESTAMP(MICROS): arrives as TIMESTAMP_NTZ (pyarrow
    *     writes isAdjustedToUTC=false) or TIMESTAMP; the stored µs values
    *     are exactly what the truncation produced, so a cast to the
    *     canonical type is value-preserving (sessions here pin
    *     spark.sql.session.timeZone=UTC, making NTZ→TZ epoch-preserving).
    *
    * The legacy conf is only touched on the NANOS fallback path — a µs or
    * plain-long file never mutates session conf.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    canonicalizeTs(eventsRaw(spark, dir))

  /** The events table as stored — no ts canonicalization. Schema-adaptive:
    * tries a plain read first; only a NANOS-annotated file (which Spark
    * cannot read at all without the legacy conf) falls back to
    * nanos-as-long. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    tableAdaptive(spark, dir, "events")

  /** [[table]] with the NANOS fallback: a file whose timestamp column
    * carries the TIMESTAMP(NANOS) annotation is unreadable by Spark
    * outright ([ILLEGAL_PARQUET_TYPE]); retry as nanos-as-long under a
    * CLONED session (same SparkContext, own SQLConf copy), so the legacy
    * conf is pinned for exactly this DataFrame's lifetime and never
    * leaks into — or races with — other reads on the shared session.
    * (Restoring the conf after building the lazy frame would not work:
    * the parquet scan captures its hadoop conf at plan time, after this
    * method returns.) Any readable file never touches conf anywhere. */
  def tableAdaptive(spark: SparkSession, dir: String, name: String): DataFrame =
    try table(spark, dir, name)
    catch {
      case e: Exception if e.getMessage != null &&
          e.getMessage.contains("PARQUET_TYPE") =>
        // the clone copies the caller's conf, so the fallback read plans
        // under the same SQLConf as sibling frames plus the nanos flag
        table(ScopedConf.session(spark,
          "spark.sql.legacy.parquet.nanosAsLong" -> "true"), dir, name)
    }

  /** Data contract for the fact tables' date-valued columns
    * (`l_shipdate`, `o_orderdate`) — the same drift-insurance class as
    * `events.ts` (the r9 outage: the writer flipping a timestamp's
    * physical form took down every dependent key). Accepted envelope per
    * named column, canonical form `TIMESTAMP` (session-TZ, µs):
    *
    *   - TIMESTAMP_NTZ(µs) — the canonical form: the pyarrow writer has
    *     always shipped these columns with isAdjustedToUTC=false, and
    *     every key + DuckDB oracle was built against it;
    *   - TIMESTAMP(MICROS, UTC-adjusted) — cast to NTZ is
    *     epoch-preserving under the UTC session pin;
    *   - INT64 ns-since-epoch (plain or NANOS-annotated via
    *     [[tableAdaptive]]) — integer-div truncation to µs, the same
    *     truncation DuckDB's µs-native reader applies;
    *   - DATE32 (a date-typed writer) — midnight promotion, matching
    *     DuckDB's DATE → TIMESTAMP semantics.
    *
    * A column already canonical is left untouched — no added `Project`,
    * so scan pushdown/pruning plans stay byte-identical to a bare read
    * (pinned by FactSchemaDriftSpec). */
  def canonicalizeFactTs(df: DataFrame, tsCols: Seq[String]): DataFrame =
    tsCols.filter(df.schema.fieldNames.contains).foldLeft(df) { (d, n) =>
      d.schema(n).dataType match {
        case TimestampNTZType => d
        case DateType | TimestampType =>
          d.withColumn(n, col(n).cast(TimestampNTZType))
        case LongType => d.withColumn(n,
          canonicalTs(LongType, col(n)).cast(TimestampNTZType))
        case other => throw new IllegalArgumentException(
          s"$n: unsupported stored type $other (expected TIMESTAMP, DATE " +
            "or INT64 ns)")
      }
    }

  /** Canonical form of a raw `ts` column: `TIMESTAMP` (session-TZ) at µs
    * resolution. Branches on the stored type — see the `events` contract. */
  def canonicalTs(dt: DataType, ts: Column): Column = dt match {
    // integer `div`, NOT `/`: ns-since-epoch (~1.7e18) exceeds double's
    // 2^53 exact-integer range, so float division would corrupt low bits
    case LongType          => timestamp_micros(call_function("div", ts, lit(1000L)))
    case TimestampNTZType  => ts.cast(TimestampType)
    case TimestampType     => ts
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported stored type $other (expected INT64 ns or TIMESTAMP)")
  }

  def canonicalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.withColumn(colName, canonicalTs(df.schema(colName).dataType, col(colName)))

  /** CSV/JSON round-trip helpers (reference supports CSV + Parquet + JSON
    * sinks: generate_sample_data.py:104-112, benchmarking/model.py:110). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC round-trip — the third columnar format Spark ships natively
    * (vectorized reader, predicate pushdown and column pruning like
    * parquet), for pipelines whose lake standardized on ORC. Same
    * overwrite-mode contract as the CSV/JSON helpers. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Raw-text corpus ingestion — the FRONT DOOR of a training-data
    * pipeline: a directory of text files becomes the engine's
    * `documents` shape (doc_id, source, text, n_chars). One file = one
    * document (`wholetext`); `source` is the caller's corpus label;
    * `doc_id` is xxhash64 of the file path — deterministic across runs
    * and partitionings, but HASH-width (full Long range), so chain
    * [[graft.operators.Sampling.densifyIds]] before any operator that
    * needs the dense Lehmer domain (ds_* sampling/mixing/assembly).
    * Scale shape: `text` is a distributed file-source scan (files split
    * across tasks, no driver listing beyond Spark's own file index);
    * everything added is per-row projection. */
  def ingestTextDir(spark: SparkSession, dir: String,
      source: String = "ingest"): DataFrame =
    spark.read.option("wholetext", "true").text(dir)
      .select(
        xxhash64(input_file_name()).as("doc_id"),
        lit(source).as("source"),
        col("value").as("text"),
        length(col("value")).cast("long").as("n_chars"),
        input_file_name().as("path"))

  /** Compressed-JSONL corpus ingestion — the shape real LLM corpora
    * ship in (HF-dataset exports: one JSON object per line, as *.jsonl
    * or *.jsonl.gz / *.jsonl.zst). Spark's text source resolves the
    * codec from the file extension natively (gzip pure-JVM, zstd via
    * the Hadoop codec), so the front door is a line scan plus one
    * `from_json` projection into the documents shape. One line = one
    * document; `textField`/`idField` name the payload and id keys (HF
    * defaults "text"/"id"; a numeric id reads as its string form).
    *
    * doc_id = xxhash64(path, id, text) when the line carries an id,
    * else xxhash64(path, text) — deterministic across runs and
    * partitionings but HASH-width, so chain
    * [[graft.operators.Sampling.densifyIds]] before Lehmer-domain ops,
    * exactly as with [[ingestTextDir]]. The id participates so two
    * byte-identical texts with DISTINCT ids keep distinct identities;
    * the text participates so two lines SHARING an id with different
    * payloads (malformed but observed in real exports) never alias one
    * doc_id — without it densifyIds' (path, doc_id) order would be
    * non-total there and dense-id assignment partition-dependent (r15
    * advisor finding). Lines that fail to parse or lack the text field
    * are DROPPED (a front door must not manufacture null documents);
    * byte-identical duplicate lines within one file (same id or none)
    * collapse to one doc_id (they are exact duplicates — dd_exact
    * would collapse them anyway).
    *
    * Scale shape: gz/zstd files are non-splittable, so parallelism is
    * one task per file — the sharded-many-files layout real corpora
    * arrive in; everything added is per-row projection. */
  def ingestJsonlDir(spark: SparkSession, dir: String,
      source: String = "ingest", textField: String = "text",
      idField: String = "id"): DataFrame = {
    require(textField != idField, "textField and idField must differ")
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField(idField, StringType), StructField(textField, StringType)))
    spark.read.text(dir)
      .select(from_json(col("value"), schema).as("j"),
        input_file_name().as("path"))
      .select(
        when(col(s"j.`$idField`").isNotNull,
          xxhash64(col("path"), col(s"j.`$idField`"), col(s"j.`$textField`")))
          .otherwise(xxhash64(col("path"), col(s"j.`$textField`")))
          .as("doc_id"),
        lit(source).as("source"),
        col(s"j.`$textField`").as("text"),
        length(col(s"j.`$textField`")).cast("long").as("n_chars"),
        col("path"))
      .filter(col("text").isNotNull)
  }

  /** A corpus directory tagged with its ingestion format — the source
    * unit of `Pipeline.ingestAndAssembleFrom`. */
  sealed trait CorpusDir { def dir: String }

  /** Raw text files, one file = one document ([[ingestTextDir]]). */
  final case class TextDir(dir: String) extends CorpusDir

  /** JSONL / JSONL.gz / JSONL.zst, one line = one document
    * ([[ingestJsonlDir]]). */
  final case class JsonlDir(dir: String, textField: String = "text",
      idField: String = "id") extends CorpusDir

  /** Binary-payload ingestion — the multimodal front door: a directory
    * of image/audio/video files becomes the engine's multimodal shape
    * (doc_id, payload, n_bytes, path, mod_time). Spark's `binaryFile`
    * source reads each file as one row with its bytes in `content`;
    * the mm_* operators (extractFeatures / resize / frames / dedup)
    * consume the payload column directly. Same doc_id contract as
    * [[ingestTextDir]]. */
  def ingestBinaryDir(spark: SparkSession, dir: String,
      pattern: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", pattern).load(dir)
      .select(
        xxhash64(col("path")).as("doc_id"),
        col("content").as("payload"),
        col("length").as("n_bytes"),
        col("path"),
        col("modificationTime").as("mod_time"))
}
