package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation,
  LogicalRelation}

/** Reuse of a resolved file-source relation across reads, for
  * `graft.sources.Tables.parquet`: the package-private `Dataset.ofRows`
  * route `TopKPerKey` already takes.
  *
  * A plain `spark.read.parquet(path)` resolves to a `LogicalRelation`
  * holding the file listing, the partition spec and the inferred schema.
  * [[reopen]] wraps a copy of that relation with fresh expression ids
  * (`newInstance`), so each reopen is an independent read: a self-join
  * of two reopens resolves exactly as a self-join of two plain reads
  * does. Spark's own `SessionCatalog.tableRelationCache` reuses catalog
  * tables' relations the same way. A table contract's conversions are
  * built over the copy's own attributes, in the same frame.
  */
object FileRelations {

  /** The v1 file relation a plain read resolved to; None for any other
    * plan shape (a v2 scan, or a reader that wrapped the relation). */
  def of(df: DataFrame): Option[LogicalRelation] =
    df.queryExecution.analyzed match {
      case lr: LogicalRelation => Some(lr)
      case _ => None
    }

  /** Whether Spark plans a scan of `rel` as one file split: one file,
    * no partition columns, no buckets, and its bytes fit the split size
    * `FilePartition.maxSplitBytes` gives under the relation's session
    * conf (`spark.sql.files.maxPartitionBytes`, `openCostInBytes`,
    * `minPartitionNum`), which is the call `FileSourceScanExec` makes. */
  def oneSplit(rel: LogicalRelation): Boolean = rel.relation match {
    case fs: HadoopFsRelation if fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty =>
      val dirs = fs.location.listFiles(Nil, Nil)
      dirs.flatMap(_.files) match {
        case Seq(f) => f.getLen <= FilePartition.maxSplitBytes(fs.sparkSession, dirs)
        case _ => false
      }
    case _ => false
  }

  /** A new frame over `rel` with fresh expression ids. With
    * `onePartition`, the read is wrapped in `Repartition(1, shuffle =
    * false)` (a `coalesce(1)`), so it reports a single output partition
    * and `EnsureRequirements` plans no exchange above it. For a
    * [[oneSplit]] relation that is the partitioning its scan has anyway.
    * The `conversions` (see [[frame]]) sit above that. */
  def reopen(spark: SparkSession, rel: LogicalRelation, onePartition: Boolean,
      conversions: Map[String, Column => Column] = Map.empty): DataFrame = {
    val read = rel.newInstance()
    frame(spark, if (onePartition) Repartition(1, shuffle = false, read) else read,
      conversions)
  }

  /** `df` with `conversions` applied (see [[frame]]); `df` itself when
    * there is nothing to convert. */
  def convert(df: DataFrame, conversions: Map[String, Column => Column]): DataFrame =
    if (conversions.isEmpty) df
    else frame(df.sparkSession, df.queryExecution.analyzed, conversions)

  /** One `Dataset.ofRows` over `plan`, under a `Project` that replaces
    * each column `conversions` names, in place and under its own name,
    * by its expression over the plan's own resolved attribute; no
    * `Project` when `conversions` is empty. */
  private def frame(spark: SparkSession, plan: LogicalPlan,
      conversions: Map[String, Column => Column]): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val projected = if (conversions.isEmpty) plan else Project(plan.output.map { a =>
      conversions.get(a.name).fold[NamedExpression](a)(f =>
        Alias(session.expression(f(ExpressionUtils.column(a))), a.name)())
    }, plan)
    Dataset.ofRows(session, projected)
  }
}
