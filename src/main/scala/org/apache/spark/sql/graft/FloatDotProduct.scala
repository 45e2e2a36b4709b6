package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>` columns,
  * accumulated in double.
  *
  * This is the hot kernel of every similarity/ANN/near-dup operator. The
  * built-in route (`aggregate(zip_with(...))`) allocates a lambda frame and
  * boxes per element and falls out of whole-stage codegen; this expression
  * generates a tight primitive loop (`getFloat` on the unsafe array, no
  * boxing) inside the enclosing WholeStageCodegen stage, which is the
  * preference-order step (b) — a custom `Expression` before reaching for a
  * custom physical operator.
  *
  * Null contract: null array → null result (BinaryExpression's default
  * null-intolerant path); null *elements* are treated as 0 contribution.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Bridge into Spark 4's sealed Column API (Column↔Expression became
  * private[sql] in 4.x; hosting this object in a sql subpackage is the
  * standard extension-library shim). */
object ColumnBridge {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** float_dot(a, b) as a Column. */
  def floatDot(a: Column, b: Column): Column =
    column(FloatDotProduct(expression(a), expression(b)))

  /** decimal_quantize7(a) as a Column. */
  def decimalQuantize7(a: Column): Column =
    column(DecimalQuantize7(expression(a)))

  /** quantized_dot14(a, b) as a Column. */
  def quantizedDot14(a: Column, b: Column): Column =
    column(QuantizedDot14(expression(a), expression(b)))

  /** quantized_cosine14(qa, qb, sqrtNormA, sqrtNormB) as a Column. */
  def quantizedCosine14(qa: Column, qb: Column, sa: Column, sb: Column): Column =
    column(QuantizedCosine14(expression(qa), expression(qb),
      expression(sa), expression(sb)))

  /** long_array_match_count(a, b) as a Column. */
  def matchCount(a: Column, b: Column): Column =
    column(LongArrayMatchCount(expression(a), expression(b)))

  /** long_array_match_count_min(a, b) as a Column — the early-exit
    * estimate kernel. `minCount` is the smallest count that passes the
    * caller's threshold filter; results below it are only guaranteed to
    * stay below it (see LongArrayMatchCountMin's contract). */
  def matchCountMin(a: Column, b: Column, minCount: Int): Column =
    column(LongArrayMatchCountMin(expression(a), expression(b), minCount))

  /** sorted_long_intersect_count_min(a, b, need) as a Column — the
    * early-exit verify kernel; `need` is the per-row decision floor. */
  def sortedLongIntersectCountMin(a: Column, b: Column, need: Column): Column =
    column(SortedLongArrayIntersectCountMin(expression(a), expression(b),
      expression(need)))

  /** sorted_intersect_count(a, b) as a Column. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedStringArrayIntersectCount(expression(a), expression(b)))

  /** sorted_long_intersect_count(a, b) as a Column. */
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    column(SortedLongArrayIntersectCount(expression(a), expression(b)))

  /** simhash_bits(hs) as a Column. */
  def simhashBits(hs: Column): Column =
    column(SimHashBits(expression(hs)))

  /** word_ngrams(text, n, distinct) as a Column. */
  def wordNGrams(text: Column, n: Int, distinct: Boolean = false): Column =
    column(WordNGrams(expression(text), n, distinct))

  /** token_term_counts(toks) as a Column. */
  def termCounts(toks: Column): Column =
    column(TokenTermCounts(expression(toks)))

  /** winnow_fingerprint(text, k, window) as a Column. */
  def winnowFingerprint(text: Column, k: Int, window: Int): Column =
    column(WinnowFingerprint(expression(text), k, window))

  /** normalize_text(text) as a Column. */
  def normalizeText(text: Column): Column =
    column(NormalizeText(expression(text)))

  /** quality_counts(text) as a Column — struct(n_tokens, alpha, n_stop). */
  def qualityCounts(text: Column, stopwords: Seq[String]): Column =
    column(QualityCounts(expression(text), stopwords))

  /** token_hashes_mod(toks, p) as a Column (murmur3 seed 42, pmod p). */
  def tokenHashesMod(toks: Column, p: Long): Column =
    column(TokenHashesMod(expression(toks), p))

  /** token_hashes64(toks) as a Column (engine-neutral poly+splitmix64). */
  def tokenHashes64(toks: Column): Column =
    column(TokenHashes64(expression(toks)))

  /** band_buckets(sig, bands, rows) as a Column. */
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    column(BandBuckets(expression(sig), bands, rows))

  /** minhash_signature(hs) as a Column. */
  def minhashSig(hs: Column, as: Array[Long], bs: Array[Long], p: Long): Column =
    column(MinHashSignature(expression(hs), as, bs, p))

  /** embedding_lsh_buckets(vec) as a Column. `tableOffset` shifts the
    * table ids feeding the plane derivation, giving callers an
    * independent plane family from the same kernel (offset 0 = the
    * oracle-twinned dd_embedding family). */
  def embeddingLshBuckets(vec: Column, tables: Int, planes: Int,
      tableOffset: Int = 0): Column =
    column(EmbeddingLshBuckets(expression(vec), tables, planes, tableOffset))

  /** Row-major flattening + precomputed inverse norms shared by both
    * centroid-assignment kernels. */
  private def flattenCentroids(
      centroids: Array[Array[Float]]): (Array[Float], Array[Double], Int, Int) = {
    val k = centroids.length
    val dim = if (k > 0) centroids(0).length else 0
    val flat = new Array[Float](k * dim)
    val invNorms = new Array[Double](k)
    var i = 0
    while (i < k) {
      var s = 0.0
      var j = 0
      while (j < dim) {
        flat(i * dim + j) = centroids(i)(j)
        s += centroids(i)(j).toDouble * centroids(i)(j).toDouble
        j += 1
      }
      invNorms(i) = if (s > 0) 1.0 / math.sqrt(s) else 0.0
      i += 1
    }
    (flat, invNorms, k, dim)
  }

  /** nearest_centroid(vec) as a Column: index of the centroid with the
    * highest cosine against `vec`. The centroid array rides inside the
    * expression (task-serialized with every stage) — right for the √n-cell
    * regime; above a few million floats use [[nearestCentroidBc]]. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]]): Column = {
    val (flat, invNorms, k, dim) = flattenCentroids(centroids)
    column(NearestCentroid(expression(vec), flat, k, dim, invNorms))
  }

  /** nearest_centroid over a torrent-BROADCAST centroid table: the
    * expression serializes only the broadcast handles, executors fetch the
    * k×dim payload once via the block manager — the large-k path where an
    * expression-embedded array would bloat every task binary. Scores and
    * tie-breaks are identical to [[nearestCentroid]] (property-specced). */
  def nearestCentroidBc(vec: Column, centroids: Array[Array[Float]],
      sc: org.apache.spark.SparkContext): Column = {
    val (flat, invNorms, k, dim) = flattenCentroids(centroids)
    column(NearestCentroidBroadcast(expression(vec),
      sc.broadcast(flat), k, dim, sc.broadcast(invNorms)))
  }
}

/** Native codegen expression: number of positions where two `array<long>`
  * columns hold equal values — the MinHash signature-agreement kernel.
  * The built-in form (`size(filter(zip_with(...)))`) allocates three
  * intermediate arrays per row in interpreted lambdas; on a self-similar
  * corpus the candidate-pair volume is millions, so this loop is the
  * difference between seconds and minutes. */
case class LongArrayMatchCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def prettyName: String = "long_array_match_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)
         |      && $a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayMatchCount =
    copy(left = newLeft, right = newRight)
}

/** [[LongArrayMatchCount]] with an EARLY EXIT below a caller-proved
  * decision floor — the r21 optimization-round form of the estimate
  * kernel (the VERDICT r20 "signature-prefix gate", generalized: instead
  * of gating on a fixed 32-hash prefix, the scan bails at the first
  * position where the remaining elements can no longer reach
  * `minCount` — the tightest zero-false-negative prefix there is).
  *
  * Contract: when the true match count is >= minCount the result is
  * EXACTLY the true count (the early exit provably cannot fire on such
  * a row); when it is below, the result is SOME value < minCount (the
  * partial count at bail-out). Callers must therefore consume it only
  * through a `>= minCount`-equivalent filter plus survivor values —
  * which is precisely the estimate-threshold shape
  * (`matchCount/k >= θ` with minCount = the smallest integer c where
  * c/k >= θ): survivors keep bit-identical estimates, non-survivors are
  * dropped either way. On a j≈0.6 background candidate at θ=0.95/k=128
  * (allowed mismatches: 6) the expected scan is ~18 of 128 positions.
  * Equivalence to the full kernel under the filter is property-specced
  * (KernelPropertySpec). */
case class LongArrayMatchCountMin(left: Expression, right: Expression,
    minCount: Int)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def prettyName: String = "long_array_match_count_min"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongArrayMatchCountMin.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], minCount)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.LongArrayMatchCountMin" +
        s".compute($a, $b, $minCount);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayMatchCountMin =
    copy(left = newLeft, right = newRight)
}

object LongArrayMatchCountMin {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** The early-exit agreement loop — the one copy behind the
    * interpreted eval, the generated code and IncrementalDedup's
    * held-batch scan, so every caller gets the same contract. */
  def compute(x: ArrayData, y: ArrayData, minCount: Int): Int = {
    val n = math.min(x.numElements(), y.numElements())
    val maxMiss = n - minCount
    if (maxMiss < 0) return 0 // can never reach minCount
    var c = 0
    var miss = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      else {
        miss += 1
        if (miss > maxMiss) return c // provably below minCount
      }
      i += 1
    }
    c
  }
}

/** Native codegen expression: full MinHash signature in one pass.
  * Input: array<long> of (pre-reduced mod p) token hashes. Output:
  * array<long> of k minima of the Carter-Wegman transforms
  * (a_i·h + b_i) mod p. One tight k×tokens loop per row instead of k
  * interpreted array transforms — signature cost becomes memory-bound.
  */
case class MinHashSignature(child: Expression, as: Array[Long], bs: Array[Long], p: Long)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val k = as.length
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      var mn = Long.MaxValue
      val a = as(i); val b = bs(i)
      var j = 0
      while (j < n) {
        if (!hs.isNullAt(j)) {
          val v = (a * hs.getLong(j) + b) % p
          if (v < mn) mn = v
        }
        j += 1
      }
      out(i) = if (mn == Long.MaxValue) 0L else mn
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, hs => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val out = ctx.freshName("out"); val mn = ctx.freshName("mn")
      val v = ctx.freshName("v")
      s"""
         |int $n = $hs.numElements();
         |int $k = $asRef.length;
         |long[] $out = new long[$k];
         |for (int $i = 0; $i < $k; $i++) {
         |  long $mn = Long.MAX_VALUE;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if (!$hs.isNullAt($j)) {
         |      long $v = ($asRef[$i] * $hs.getLong($j) + $bsRef[$i]) % ${p}L;
         |      if ($v < $mn) $mn = $v;
         |    }
         |  }
         |  $out[$i] = ($mn == Long.MAX_VALUE) ? 0L : $mn;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Native codegen expression: SimHash bit vector from an array of 64-bit
  * token hashes — each hash votes ±1 per bit position, output is the 64
  * sign bits (0/1 ints). Replaces an interpreted aggregate-over-zip_with
  * chain with one 64×tokens primitive loop. */
case class SimHashBits(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "simhash_bits"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        val h = hs.getLong(j)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(votes.map(v => if (v > 0) 1L else 0L))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val votes = ctx.freshName("votes")
      val h = ctx.freshName("h"); val out = ctx.freshName("out")
      s"""
         |int $n = $hs.numElements();
         |int[] $votes = new int[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$hs.isNullAt($j)) {
         |    long $h = $hs.getLong($j);
         |    for (int $i = 0; $i < 64; $i++) {
         |      if ((($h >>> $i) & 1L) == 1L) $votes[$i]++; else $votes[$i]--;
         |    }
         |  }
         |}
         |long[] $out = new long[64];
         |for (int $i = 0; $i < 64; $i++) $out[$i] = $votes[$i] > 0 ? 1L : 0L;
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

/** Native codegen expression: intersection size of two SORTED string
  * arrays (two-pointer merge, O(n+m) UTF8String comparisons). The exact
  * token-set intersection kernel — lets blocked pairwise Jaccard skip the
  * explode-join entirely and compare token arrays in place. */
case class SortedStringArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedStringArrayIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Native codegen expression: intersection size of two SORTED long
  * arrays — the [[SortedStringArrayIntersectCount]] merge on primitive
  * 8-byte elements (no UTF8String dereference or byte-wise compare per
  * step). The hashed-token twin of the string kernel: dedup verify
  * stages shuffle `sort_array(token_hashes64(toks))` long arrays in
  * place of the token strings and intersect those; on MULTISETS (a
  * within-doc hash collision duplicates a value) the merge counts
  * min-multiplicity, so the hashed count can only meet or EXCEED the
  * true token intersection — never undercount — which makes it a safe
  * exact-threshold prefilter and, when the hash is injective over the
  * corpus vocabulary (checked by callers), the exact count itself. */
case class SortedLongArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_long_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongArrayIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** [[SortedLongArrayIntersectCount]] with an EARLY EXIT below a per-row
  * decision floor `need` (third child, long) — the verify-stage twin of
  * [[LongArrayMatchCountMin]]. The two-pointer merge bails at the first
  * mismatch step where `count-so-far + min(remaining_a, remaining_b)`
  * can no longer reach `need`.
  *
  * Contract: result == the true intersection count whenever that count
  * is >= need; otherwise SOME value < need (the partial count at
  * bail-out). Callers consume it only through a `>= need`-equivalent
  * threshold filter plus survivor values — the exact Jaccard/containment
  * verify shape, where need = ceil of the algebraic floor the filter
  * encodes: survivor counts are bit-identical, non-survivors are dropped
  * either way (property-specced in KernelPropertySpec). The bound check
  * runs only on mismatch steps, so fully-matching (survivor) rows pay
  * the plain merge. */
case class SortedLongArrayIntersectCountMin(first: Expression,
    second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), LongType)

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_long_intersect_count_min"

  override protected def nullSafeEval(a: Any, b: Any, needAny: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val need = needAny.asInstanceOf[Long]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else {
        if (xv < yv) i += 1 else j += 1
        if (c + math.min(na - i, nb - j) < need) return c
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, needV) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else {
         |    if ($xv < $yv) $i++; else $j++;
         |    if ($c + java.lang.Math.min($na - $i, $nb - $j) < $needV) break;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SortedLongArrayIntersectCountMin =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native codegen expression: all random-hyperplane LSH bucket ids of an
  * `array<float>` embedding in one pass — `tables` bucket longs, each the
  * sign-pattern of `planes` integer-weight hyperplanes.
  *
  * Arithmetic contract (shared bit-for-bit with the DuckDB oracle twin in
  * SparkEntry.lshBucketSql): components quantize as floor(x·10⁴) longs;
  * plane weight w(t,p,i) derives from two LCG rounds mod 2³¹ and maps to
  * a signed 16-bit integer; the dot is a pure Long sum, so the sign bit
  * can never diverge between engines. Replaces a tables×planes stack of
  * interpreted aggregate-over-zip_with lambdas (~50 array traversals per
  * row) with one primitive loop nest.
  */
case class EmbeddingLshBuckets(child: Expression, tables: Int, planes: Int,
    tableOffset: Int = 0)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.LongType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "embedding_lsh_buckets"

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    val iv = new Array[Long](n)
    var i = 0
    while (i < n) {
      iv(i) = if (vec.isNullAt(i)) 0L
        else math.floor(vec.getFloat(i).toDouble * 10000.0).toLong
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var dot = 0L
        var j = 0
        while (j < n) {
          val x0 = (t + tableOffset).toLong * 1000003L + p.toLong * 8191L + j
          val x1 = (x0 * 1103515245L + 12345L) % 2147483648L
          val x2 = (x1 * 1103515245L + 12345L) % 2147483648L
          dot += iv(j) * (x2 % 65536L - 32768L)
          j += 1
        }
        bucket = bucket * 2 + (if (dot >= 0) 1L else 0L)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val n = ctx.freshName("n"); val iv = ctx.freshName("iv")
      val i = ctx.freshName("i"); val t = ctx.freshName("t")
      val p = ctx.freshName("p"); val j = ctx.freshName("j")
      val dot = ctx.freshName("dot"); val bucket = ctx.freshName("bucket")
      val out = ctx.freshName("out")
      val x0 = ctx.freshName("x0"); val x1 = ctx.freshName("x1")
      val x2 = ctx.freshName("x2")
      s"""
         |int $n = $vec.numElements();
         |long[] $iv = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $iv[$i] = $vec.isNullAt($i) ? 0L
         |    : (long) Math.floor(((double) $vec.getFloat($i)) * 10000.0);
         |}
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $bucket = 0L;
         |  for (int $p = 0; $p < $planes; $p++) {
         |    long $dot = 0L;
         |    for (int $j = 0; $j < $n; $j++) {
         |      long $x0 = ((long) ($t + $tableOffset)) * 1000003L + ((long) $p) * 8191L + $j;
         |      long $x1 = ($x0 * 1103515245L + 12345L) % 2147483648L;
         |      long $x2 = ($x1 * 1103515245L + 12345L) % 2147483648L;
         |      $dot += $iv[$j] * ($x2 % 65536L - 32768L);
         |    }
         |    $bucket = $bucket * 2 + (($dot >= 0L) ? 1L : 0L);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): EmbeddingLshBuckets =
    copy(child = newChild)
}

/** Native codegen expression: isolation-forest anomaly score of an
  * `array<double>` feature row against a flattened forest.
  *
  * The forest is flattened at bind time into parallel arrays — per node:
  * split feature (−1 marks a leaf), split value, left/right child index —
  * plus one precomputed path-length adjustment per leaf (the c(n)
  * normalizer) and the standardization means/stds. Traversal is an
  * iterative primitive loop per tree inside whole-stage codegen, replacing
  * the boxed Scala UDF (the only UDF the library had): no per-row
  * serialization, no closure dispatch, same broadcast-free plan shape
  * (the arrays ride along as codegen reference objects).
  */
case class IsolationForestScore(child: Expression, feat: Array[Int],
    split: Array[Double], left: Array[Int], right: Array[Int],
    leafAdj: Array[Double], roots: Array[Int], means: Array[Double],
    stds: Array[Double], cN: Double)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.DoubleType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  // nullable regardless of the child: a null ELEMENT nulls the score, so
  // codegen must always get a writable isNull slot
  override def nullable: Boolean = true

  override def prettyName: String = "forest_score"

  // a null feature element yields a null score (SQL semantics) rather
  // than silently scoring against 0 — callers decide how to treat
  // incomplete rows; the feature pipeline upstream coalesces its nulls
  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val d = xs.numElements()
    val z = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (xs.isNullAt(i)) return null
      z(i) = (xs.getDouble(i) - means(i)) / stds(i)
      i += 1
    }
    var sum = 0.0
    var t = 0
    while (t < roots.length) {
      var idx = roots(t)
      var depth = 0
      while (feat(idx) >= 0) {
        idx = if (z(feat(idx)) < split(idx)) left(idx) else right(idx)
        depth += 1
      }
      sum += depth + leafAdj(idx)
      t += 1
    }
    math.pow(2.0, -(sum / roots.length) / cN)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val featRef = ctx.addReferenceObj("ifFeat", feat, "int[]")
    val splitRef = ctx.addReferenceObj("ifSplit", split, "double[]")
    val leftRef = ctx.addReferenceObj("ifLeft", left, "int[]")
    val rightRef = ctx.addReferenceObj("ifRight", right, "int[]")
    val adjRef = ctx.addReferenceObj("ifAdj", leafAdj, "double[]")
    val rootsRef = ctx.addReferenceObj("ifRoots", roots, "int[]")
    val meansRef = ctx.addReferenceObj("ifMeans", means, "double[]")
    val stdsRef = ctx.addReferenceObj("ifStds", stds, "double[]")
    nullSafeCodeGen(ctx, ev, xs => {
      val d = ctx.freshName("d"); val z = ctx.freshName("z")
      val i = ctx.freshName("i"); val t = ctx.freshName("t")
      val idx = ctx.freshName("idx"); val depth = ctx.freshName("depth")
      val sum = ctx.freshName("sum"); val hasNull = ctx.freshName("hasNull")
      s"""
         |int $d = $xs.numElements();
         |double[] $z = new double[$d];
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $d; $i++) {
         |  if ($xs.isNullAt($i)) { $hasNull = true; break; }
         |  $z[$i] = ($xs.getDouble($i) - $meansRef[$i]) / $stdsRef[$i];
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $t = 0; $t < $rootsRef.length; $t++) {
         |    int $idx = $rootsRef[$t];
         |    int $depth = 0;
         |    while ($featRef[$idx] >= 0) {
         |      $idx = ($z[$featRef[$idx]] < $splitRef[$idx])
         |        ? $leftRef[$idx] : $rightRef[$idx];
         |      $depth++;
         |    }
         |    $sum += $depth + $adjRef[$idx];
         |  }
         |  ${ev.value} = Math.pow(2.0, -($sum / $rootsRef.length) / ${cN});
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IsolationForestScore =
    copy(child = newChild)
}

/** Native codegen expression: index of the nearest centroid (by cosine)
  * to an `array<float>` embedding — the IVF cell-assignment kernel.
  *
  * Centroids ride as a flattened row-major float array (k × dim) with
  * precomputed inverse norms; since the query vector's own norm is
  * constant across candidates, ranking by dot(vec, cᵢ)·invNormᵢ equals
  * ranking by cosine, so the per-row cost is one k×dim primitive loop
  * inside whole-stage codegen — no per-centroid expression stack, no
  * n×k join. Ties break to the smaller index; null elements count 0.
  */
case class NearestCentroid(child: Expression, centroids: Array[Float],
    k: Int, dim: Int, invNorms: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = IntegerType

  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = math.min(vec.numElements(), dim)
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < k) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        if (!vec.isNullAt(j)) {
          dot += vec.getFloat(j).toDouble * centroids(i * dim + j).toDouble
        }
        j += 1
      }
      val s = dot * invNorms(i)
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ncCentroids", centroids, "float[]")
    val nRef = ctx.addReferenceObj("ncInvNorms", invNorms, "double[]")
    nullSafeCodeGen(ctx, ev, vec => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val dot = ctx.freshName("dot")
      val s = ctx.freshName("s"); val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      s"""
         |int $n = java.lang.Math.min($vec.numElements(), $dim);
         |int $best = 0;
         |double $bestScore = java.lang.Double.NEGATIVE_INFINITY;
         |for (int $i = 0; $i < $k; $i++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if (!$vec.isNullAt($j)) {
         |      $dot += (double) $vec.getFloat($j) * (double) $cRef[$i * $dim + $j];
         |    }
         |  }
         |  double $s = $dot * $nRef[$i];
         |  if ($s > $bestScore) { $bestScore = $s; $best = $i; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** [[NearestCentroid]] with the centroid table behind Spark broadcast
  * variables instead of expression-embedded arrays.
  *
  * Why a second kernel: `NearestCentroid` carries k×dim floats inside the
  * expression tree, so every task binary (and every plan copy) serializes
  * the whole table — fine at √n cells, a driver/scheduler ceiling once
  * k×dim reaches 10⁷⁺ floats (10¹²-vector corpora). Here the expression
  * serializes two broadcast HANDLES; each executor fetches the payload
  * once through the torrent block manager and caches it process-wide.
  * The generated loop hoists `.value()` into class init, so the per-row
  * cost is identical to the literal kernel. Scoring math is the same
  * statement sequence — assignments are bit-identical (property-specced).
  */
case class NearestCentroidBroadcast(child: Expression,
    bcCentroids: org.apache.spark.broadcast.Broadcast[Array[Float]],
    k: Int, dim: Int,
    bcInvNorms: org.apache.spark.broadcast.Broadcast[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.IntegerType

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = IntegerType

  override def prettyName: String = "nearest_centroid_bc"

  @transient private lazy val centroids = bcCentroids.value
  @transient private lazy val invNorms = bcInvNorms.value

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = math.min(vec.numElements(), dim)
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < k) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        if (!vec.isNullAt(j)) {
          dot += vec.getFloat(j).toDouble * centroids(i * dim + j).toDouble
        }
        j += 1
      }
      val s = dot * invNorms(i)
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCRef = ctx.addReferenceObj("ncBcCentroids", bcCentroids,
      "org.apache.spark.broadcast.Broadcast")
    val bcNRef = ctx.addReferenceObj("ncBcInvNorms", bcInvNorms,
      "org.apache.spark.broadcast.Broadcast")
    // broadcast fetch hoisted to class init: one .value() per task, the
    // row loop reads plain primitive arrays exactly like the literal kernel
    val cVar = ctx.addMutableState("float[]", "ncBcCents",
      v => s"$v = (float[]) $bcCRef.value();")
    val nVar = ctx.addMutableState("double[]", "ncBcInvs",
      v => s"$v = (double[]) $bcNRef.value();")
    nullSafeCodeGen(ctx, ev, vec => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val dot = ctx.freshName("dot")
      val s = ctx.freshName("s"); val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      s"""
         |int $n = java.lang.Math.min($vec.numElements(), $dim);
         |int $best = 0;
         |double $bestScore = java.lang.Double.NEGATIVE_INFINITY;
         |for (int $i = 0; $i < $k; $i++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if (!$vec.isNullAt($j)) {
         |      $dot += (double) $vec.getFloat($j) * (double) $cVar[$i * $dim + $j];
         |    }
         |  }
         |  double $s = $dot * $nVar[$i];
         |  if ($s > $bestScore) { $bestScore = $s; $best = $i; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidBroadcast =
    copy(child = newChild)
}
