package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution,
  Partitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Custom whole-operator: top-k rows per key WITHOUT sorting each group.
  *
  * The built-in formulation (`row_number().over(Window.partitionBy(keys)
  * .orderBy(ord)) <= k`) sorts every group in full — O(n log n) per group
  * and a full spill surface. This operator keeps a bounded k-element
  * binary heap per key: O(n log k) with memory k·|keys| regardless of
  * group size, which is the difference between a report query and an OOM
  * when one key holds a billion rows.
  *
  * Preference-order step (c): logical node + planner strategy + physical
  * exec, registered through GraftExtensions (injectPlannerStrategy) and
  * exposed as `TopKPerKeyApi.topKPerKey(df, keys, ord, k)`.
  *
  * Output rows are the per-key top-k by `ord` descending; row order within
  * the output is unspecified (callers order for presentation).
  *
  * SQL metrics (in the UI and on the executed plan): `numInputRows`,
  * `numOutputRows`, and `numEvictions`, the rows that entered a full heap
  * and pushed out its weakest entry.
  */
case class TopKPerKeyNode(k: Int, keys: Seq[Expression], ord: Expression,
    tie: Option[Expression], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

case class TopKPerKeyExec(k: Int, keys: Seq[Expression], ord: Expression,
    tie: Option[Expression], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // co-locate each key's rows so the heap sees the whole group
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  // every output row stays in its input partition
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numEvictions" -> SQLMetrics.createMetric(sparkContext, "number of heap evictions"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val keysLocal = keys
    val ordLocal = ord
    val tieLocal = tie
    val numInputRows = longMetric("numInputRows")
    val numOutputRows = longMetric("numOutputRows")
    val numEvictions = longMetric("numEvictions")
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(keysLocal, childOutput)
      val boundOrd = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(ordLocal, childOutput)
      val boundTie = tieLocal.map(org.apache.spark.sql.catalyst.expressions
        .BindReferences.bindReference(_, childOutput))
      // per-key bounded min-heap on the order value: the root is the
      // weakest of the current top-k, evicted when something better
      // shows. With a tie-break column the heap order is the total order
      // (score asc, tie DESC) — the root is the row the (score desc,
      // tie asc) ranking drops first — so the output is exactly the
      // row_number()-window top-k regardless of arrival order. Without
      // one, equal scores keep the first arrival (partition-order
      // dependent at ties).
      final class Entry(val score: Double, val tieId: Long, val row: UnsafeRow)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[Entry]]()
      val javaCmp = new java.util.Comparator[Entry] {
        def compare(a: Entry, b: Entry): Int = {
          val c = java.lang.Double.compare(a.score, b.score)
          if (c != 0) c else java.lang.Long.compare(b.tieId, a.tieId)
        }
      }
      // hoisted out of the row loop: the Option match (and the lambda
      // it would allocate) must not run per input row — the hot path
      // below does only primitive comparisons and virtual eval calls
      val tieExpr = boundTie.orNull
      val hasTie = tieExpr != null
      iter.foreach { row =>
        numInputRows += 1
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[Entry](kLocal + 1, javaCmp)
          heaps.put(key.copy(), heap)
        }
        val scoreAny = boundOrd.eval(row)
        if (scoreAny != null) {
          val score = scoreAny match {
            case d: java.lang.Double => d.doubleValue()
            case f: java.lang.Float => f.doubleValue()
            case l: java.lang.Long => l.doubleValue()
            case i: java.lang.Integer => i.doubleValue()
            case s: java.lang.Short => s.doubleValue()
            case b: java.lang.Byte => b.doubleValue()
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case other => throw new IllegalStateException(
              s"TopKPerKey: unsupported ord value ${other.getClass} — " +
                "the API validates types at plan time; this is a bug")
          }
          // a NULL tie id sorts as the weakest among its score ties
          // (Long.MaxValue under tie-desc) — ASC NULLS LAST semantics;
          // see the API scaladoc for the Spark-vs-DuckDB default caveat
          val tieId = if (!hasTie) 0L else {
            val v = tieExpr.eval(row)
            if (v == null) Long.MaxValue else v match {
              case l: java.lang.Long => l.longValue()
              case i: java.lang.Integer => i.longValue()
              case s: java.lang.Short => s.longValue()
              case b: java.lang.Byte => b.longValue()
              case other => throw new IllegalStateException(
                s"TopKPerKey: unsupported tie value ${other.getClass} — " +
                  "the API validates types at plan time; this is a bug")
            }
          }
          if (heap.size < kLocal) {
            heap.add(new Entry(score, tieId, row.asInstanceOf[UnsafeRow].copy()))
          } else {
            val peek = heap.peek()
            if (peek.score < score ||
                (hasTie && peek.score == score && tieId < peek.tieId)) {
              heap.poll()
              numEvictions += 1
              heap.add(new Entry(score, tieId, row.asInstanceOf[UnsafeRow].copy()))
            }
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      heaps.values().forEach { h => h.forEach { e => out += e.row } }
      numOutputRows += out.size
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, keys, ord, tie, child) =>
      TopKPerKeyExec(k, keys, ord, tie, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKeyApi {
  /** Top-k rows per key by `ord` descending, as a DataFrame transform.
    * Key/order columns are resolved directly against the analyzed child
    * (Spark 4's Column nodes stay unresolved inside custom logical nodes).
    * Ensures the planner strategy is installed on the session (idempotent),
    * so the API also works without `withExtensions`.
    *
    * Contract: `ord` must be numeric (integral, floating or decimal) —
    * validated here at plan time, not per-row in the executor. Rows whose
    * ord value is NULL are dropped (a null score can never be in the
    * top-k); this differs from the `row_number` window form, which keeps
    * null rows when a group has fewer than k non-null scores.
    *
    * `tieBreak` names an integral column establishing a TOTAL order
    * (ord desc, tieBreak ASC NULLS LAST): with it the output is
    * deterministic under any partitioning — exactly the rows a
    * `row_number() OVER (PARTITION BY keys ORDER BY ord DESC, tieBreak
    * ASC NULLS LAST) <= k` window keeps. Note the explicit NULLS LAST:
    * a NULL tie id ranks WEAKEST among its score ties (mapped to
    * Long.MaxValue), matching DuckDB's ascending default but NOT
    * Spark's (ascending sorts NULLS FIRST) — pass a non-null tie column
    * when twinning against a default-order Spark window. Without a
    * tieBreak, score ties keep the first arrival (partition-order
    * dependent). */
  def topKPerKey(df: DataFrame, keys: Seq[String], ord: String, k: Int,
      tieBreak: Option[String] = None): DataFrame = {
    val session = df.sparkSession
    if (!session.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
      session.experimental.extraStrategies =
        session.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    val lp = df.queryExecution.analyzed
    def attr(name: String): Attribute = lp.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not in [${lp.output.map(_.name).mkString(", ")}]"))
    val ordAttr = attr(ord)
    if (!ordAttr.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) {
      throw new IllegalArgumentException(
        s"TopKPerKey: ord column '$ord' must be numeric, got ${ordAttr.dataType.sql}")
    }
    val tieAttr = tieBreak.map { name =>
      val a = attr(name)
      if (!Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.ByteType).contains(a.dataType)) {
        throw new IllegalArgumentException(
          s"TopKPerKey: tieBreak column '$name' must be integral, got ${a.dataType.sql}")
      }
      a
    }
    Dataset.ofRows(session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      TopKPerKeyNode(k, keys.map(attr), ordAttr, tieAttr, lp))
  }
}
