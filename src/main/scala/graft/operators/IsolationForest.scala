package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Isolation Forest — the ML half of the reference's detector
  * pair (reference: src/models.py:253 `MLBasedDetector`: StandardScaler +
  * sklearn IsolationForest(n_estimators=100, contamination≈0.02), trained
  * on normal rows, scored over all rows).
  *
  * Spark-shaped training/scoring split:
  *   - TRAIN on a bounded deterministic sample: rows are tagged with a
  *     uniform pseudo-random value derived from murmur3(event_id) — no RNG
  *     state, so the sample is reproducible on any cluster — and the first
  *     `sampleSize` in hash order are collected. Model size is
  *     O(trees · leaves), independent of data volume.
  *   - SCORE with the fitted forest broadcast to executors; scoring is a
  *     narrow map over the feature columns (no shuffle). The per-row cost
  *     is trees × depth ≤ 100·8 node hops.
  *
  * The forest itself follows Liu/Ting/Zhou (ICDM 2008): random split
  * feature + uniform split point, subsample of 256/tree, score
  * 2^(−E[pathLen]/c(n)).
  */
object IsolationForest {

  /** Binary tree node: either a split or a leaf holding its sample count. */
  sealed trait Node extends Serializable
  final case class Split(feature: Int, value: Double, lo: Node, hi: Node) extends Node
  final case class Leaf(size: Int) extends Node

  final case class Model(trees: Array[Node], subsample: Int,
      means: Array[Double], stds: Array[Double]) extends Serializable

  /** Average unsuccessful-search path length in a BST of n nodes —
    * the normalizer c(n) from the paper. */
  def avgPathLength(n: Int): Double =
    if (n <= 1) 0.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649) - 2.0 * (n - 1.0) / n

  private def buildTree(rows: Array[Array[Double]], depth: Int, maxDepth: Int,
      rng: scala.util.Random): Node = {
    if (rows.length <= 1 || depth >= maxDepth) Leaf(math.max(rows.length, 1))
    else {
      val f = rng.nextInt(rows.head.length)
      val vals = rows.map(_(f))
      val (mn, mx) = (vals.min, vals.max)
      if (mn == mx) Leaf(rows.length)
      else {
        val split = mn + rng.nextDouble() * (mx - mn)
        val (lo, hi) = rows.partition(_(f) < split)
        Split(f, split,
          buildTree(lo, depth + 1, maxDepth, rng),
          buildTree(hi, depth + 1, maxDepth, rng))
      }
    }
  }

  /** Reference traversal (kept as the ground truth the codegen kernel is
    * property-tested against). */
  private[graft] def pathLength(x: Array[Double], node: Node, depth: Int): Double =
    node match {
      case Leaf(size) => depth + avgPathLength(size)
      case Split(f, v, lo, hi) =>
        if (x(f) < v) pathLength(x, lo, depth + 1) else pathLength(x, hi, depth + 1)
    }

  /** Fit on a deterministic hash-ordered sample of the feature frame.
    * Features are standardized with exact-sample mean/std (the
    * StandardScaler analog, models.py:262). `trainFilter` restricts the
    * training sample — the reference trains only on normal rows
    * (models.py:270 `fault_type == 'none'`); scoring still covers every
    * row. */
  def fit(features: DataFrame, featureCols: Seq[String], trees: Int = 100,
      subsample: Int = 256, sampleSize: Int = 4096, seed: Int = 42,
      trainFilter: org.apache.spark.sql.Column = lit(true)): Model = {
    val cols = featureCols.map(col)
    val sample: Array[Array[Double]] = features
      .filter(trainFilter)
      .select(cols: _*)
      .withColumn("rnd", pmod(hash(featureCols.map(col) :+ lit(seed): _*), lit(1000003)))
      // tie-break by the feature values themselves: rnd alone is not a
      // total order (pmod collisions), and orderBy ties are
      // partitioning-dependent — the sample must be identical on any
      // cluster layout. Rows equal in every feature are interchangeable.
      .orderBy(col("rnd") +: cols: _*)
      .limit(sampleSize)
      .drop("rnd")
      .collect()
      .map(r => featureCols.indices.map(i => r.getDouble(i)).toArray)
    require(sample.nonEmpty,
      "isolation-forest training filter matched no rows — cannot fit a model")
    val d = featureCols.length
    val means = Array.tabulate(d)(i => sample.map(_(i)).sum / sample.length)
    val stds = Array.tabulate(d) { i =>
      val m = means(i)
      val v = sample.map(x => (x(i) - m) * (x(i) - m)).sum / math.max(sample.length - 1, 1)
      val s = math.sqrt(v); if (s > 0) s else 1.0
    }
    val scaled = sample.map(x => Array.tabulate(d)(i => (x(i) - means(i)) / stds(i)))
    val maxDepth = math.ceil(math.log(subsample.toDouble) / math.log(2.0)).toInt
    val forest = Array.tabulate(trees) { t =>
      val rng = new scala.util.Random(seed.toLong * 7919 + t)
      val sub = Array.fill(subsample)(scaled(rng.nextInt(scaled.length)))
      buildTree(sub, 0, maxDepth, rng)
    }
    Model(forest, subsample, means, stds)
  }

  /** Persist a fitted model through the Hadoop filesystem API, so the same
    * call works against local disk, HDFS or object stores — the
    * save_model/load_model pair of the reference (models.py:359-385), which
    * pickles the sklearn pipeline for reuse across jobs. Unlike a pickle,
    * the format is versioned JSON (doubles in shortest-decimal form, which
    * round-trips bit-exactly), so a saved model survives JVM upgrades and
    * is readable outside the JVM; a legacy Java-serialized model file is
    * rejected with a rebuild message. */
  def save(model: Model, path: String, spark: SparkSession): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def nodeJson(n: Node): com.fasterxml.jackson.databind.JsonNode = n match {
      case Leaf(size) =>
        val o = mapper.createObjectNode(); o.put("leaf", size); o
      case Split(f, v, lo, hi) =>
        val o = mapper.createObjectNode()
        o.put("f", f); o.put("v", v)
        o.set[com.fasterxml.jackson.databind.JsonNode]("lo", nodeJson(lo))
        o.set[com.fasterxml.jackson.databind.JsonNode]("hi", nodeJson(hi))
        o
    }
    val root = mapper.createObjectNode()
    root.put("format", IndexMeta.FormatVersion)
    root.put("kind", "isolation-forest")
    root.put("subsample", model.subsample)
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "means", mapper.valueToTree(model.means))
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "stds", mapper.valueToTree(model.stds))
    val trees = mapper.createArrayNode()
    model.trees.foreach(t => trees.add(nodeJson(t)))
    root.set[com.fasterxml.jackson.databind.JsonNode]("trees", trees)
    IndexMeta.writeText(spark, path, root.toString)
  }

  /** Load a model persisted by [[save]]; scoring with the loaded model is
    * bit-identical to scoring with the original (specced). */
  def load(path: String, spark: SparkSession): Model = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val text = IndexMeta.readText(spark, path)
    val root =
      try mapper.readTree(text)
      catch {
        case _: com.fasterxml.jackson.core.JacksonException =>
          throw new IllegalStateException(
            s"$path is not JSON — likely a legacy Java-serialized model " +
              "(pre-v1 format); re-save it with IsolationForest.save to get " +
              "the portable JSON form")
      }
    if (root == null || !root.isObject || root.get("trees") == null)
      throw new IllegalStateException(
        s"$path is not a v${IndexMeta.FormatVersion} isolation-forest document")
    val fmt = Option(root.get("format")).map(_.asInt(-1)).getOrElse(-1)
    if (fmt != IndexMeta.FormatVersion)
      throw new IllegalStateException(
        s"$path has format version $fmt; this reader supports ${IndexMeta.FormatVersion}")
    def nodeOf(n: com.fasterxml.jackson.databind.JsonNode): Node =
      if (n.has("leaf")) Leaf(n.get("leaf").asInt)
      else Split(n.get("f").asInt, n.get("v").asDouble,
        nodeOf(n.get("lo")), nodeOf(n.get("hi")))
    val trees = (0 until root.get("trees").size())
      .map(i => nodeOf(root.get("trees").get(i))).toArray
    def doubles(name: String): Array[Double] =
      mapper.treeToValue(root.get(name), classOf[Array[Double]])
    Model(trees, root.get("subsample").asInt, doubles("means"), doubles("stds"))
  }

  /** Deterministic structural digest of a fitted forest: MD5 over the
    * scaler stats and every tree's pre-order (split feature, split value
    * as IEEE bits, leaf sizes). Two fits agree iff they produced the
    * identical model, so drift in the forest itself — not just in the
    * flagged rows — is detectable across runs/clusters (the model analog
    * of the oracle hash check; fit is RNG-free by construction, seeded
    * per tree). */
  def modelDigest(model: Model): String = {
    val sb = new StringBuilder
    sb.append(model.subsample).append('|')
    model.means.foreach(d => sb.append(java.lang.Double.doubleToLongBits(d)).append(','))
    sb.append('|')
    model.stds.foreach(d => sb.append(java.lang.Double.doubleToLongBits(d)).append(','))
    def walk(n: Node): Unit = n match {
      case Leaf(size) => sb.append('L').append(size)
      case Split(f, v, lo, hi) =>
        sb.append('S').append(f).append(':')
          .append(java.lang.Double.doubleToLongBits(v))
        walk(lo); walk(hi)
    }
    model.trees.foreach { t => sb.append(';'); walk(t) }
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Forest flattened to parallel arrays for the codegen scoring kernel:
    * per node split feature (−1 = leaf), split value, child indices, and
    * the precomputed c(n) path adjustment per leaf; plus one root index
    * per tree. */
  private def flatten(model: Model): (Array[Int], Array[Double], Array[Int],
      Array[Int], Array[Double], Array[Int]) = {
    val feat = scala.collection.mutable.ArrayBuffer.empty[Int]
    val split = scala.collection.mutable.ArrayBuffer.empty[Double]
    val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    val adj = scala.collection.mutable.ArrayBuffer.empty[Double]
    def add(node: Node): Int = node match {
      case Leaf(size) =>
        val idx = feat.length
        feat += -1; split += 0.0; left += -1; right += -1
        adj += avgPathLength(size)
        idx
      case Split(f, v, lo, hi) =>
        val idx = feat.length
        feat += f; split += v; left += -1; right += -1; adj += 0.0
        val l = add(lo); val r = add(hi)
        left(idx) = l; right(idx) = r
        idx
    }
    val roots = model.trees.map(add)
    (feat.toArray, split.toArray, left.toArray, right.toArray, adj.toArray, roots)
  }

  /** Score every row: anomaly score in (0,1], flag above `cut`
    * (models.py:297's score threshold + severity bands). Scoring is the
    * native IsolationForestScore codegen expression over the flattened
    * forest — a shuffle-free narrow map with no UDF boxing; the ~1 MB of
    * node arrays ride as codegen reference objects (forests orders of
    * magnitude larger than the 100×256 default should move back to an
    * explicit broadcast). */
  def score(spark: SparkSession, features: DataFrame, featureCols: Seq[String],
      model: Model, cut: Double = 0.58): DataFrame = {
    val (feat, split, left, right, adj, roots) = flatten(model)
    val cN = avgPathLength(model.subsample)
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val scoreCol = bridge.column(
      org.apache.spark.sql.graft.IsolationForestScore(
        bridge.expression(array(featureCols.map(c => col(c).cast("double")): _*)),
        feat, split, left, right, adj, roots, model.means, model.stds, cN))
    features
      .withColumn("if_score", scoreCol)
      .withColumn("is_anomaly", col("if_score") > cut)
      .withColumn("severity",
        when(col("if_score") > cut + 0.07, "high")
          .when(col("if_score") > cut, "medium")
          .otherwise("none"))
  }

  /** End-to-end detector over the events rolling features (the pipeline
    * models.py:377 `run_anomaly_detection` runs: features → train → score
    * → anomaly records). */
  def detect(spark: SparkSession, dir: String, cut: Double = 0.58): DataFrame =
    scoreAll(spark, dir, cut)
      .filter(col("is_anomaly"))
      .select("event_id", "user_id", "ts_us", "value", "if_score", "severity")
      .orderBy("user_id", "ts_us", "event_id")

  /** Every scored row with its `if_score` / `is_anomaly` / `severity` —
    * the unfiltered scoring surface (`detect` is this minus the
    * non-anomalies). Registered as the `ad_isolation_forest` key because
    * its ROW SET is deterministic and SQL-expressible (one row per
    * rolling-features row), so the driver's DuckDB compare can pin
    * rows+schema and the exact id/ts/value columns; the three
    * model-derived columns are engine-specific by nature (bounded instead
    * by LlmOpsSpec/ScalePathSpec fault-recall + determinism specs). */
  def scoreAll(spark: SparkSession, dir: String, cut: Double = 0.58): DataFrame = {
    val featureCols = Seq("value", "mean_3", "std_3", "mean_12", "std_12")
    // materialize the window features once: the training-sample scan and
    // the scoring scan both read them, and each would otherwise re-run
    // the per-key rolling-window plan. UNSORTED: the checkpoint would
    // otherwise materialize rollingFeatures' presentation sort — a global
    // exchange+sort whose order neither fit (hash-ordered sample) nor
    // score (re-sorted output) uses. Measured 1.9 -> 1.1 s on this stage.
    // Partitioned on the window key first, so fit and scoring run one
    // task per partition even when the events read is one split.
    val features = TimeSeries.rollingFeaturesUnsorted(TimeSeries.baseByKey(spark, dir))
      // LAZY (r20): fit's training-sample collect is the first action
      // and materializes the feature blocks in its own job; scoring
      // re-reads the checkpointed RDD exactly as before
      .localCheckpoint(false)
    // normal-only training (models.py:270: fit on fault_type == 'none');
    // the `error` event rows are this corpus's fault analog
    val model = fit(features, featureCols,
      trainFilter = col("event_type") =!= "error")
    score(spark, features, featureCols, model, cut)
      .select("event_id", "user_id", "ts_us", "value",
        "if_score", "is_anomaly", "severity")
      .orderBy("user_id", "ts_us", "event_id")
  }
}
