package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.datasources.LogicalRelation

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
  * tables' relations the same way.
  */
object FileRelations {

  /** The v1 file relation a plain read resolved to; None for any other
    * plan shape (a v2 scan, or a reader that wrapped the relation). */
  def of(df: DataFrame): Option[LogicalRelation] =
    df.queryExecution.analyzed match {
      case lr: LogicalRelation => Some(lr)
      case _ => None
    }

  /** A new frame over `rel` with fresh expression ids. */
  def reopen(spark: SparkSession, rel: LogicalRelation): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      rel.newInstance())
}
