package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Dataset

/** Runtime conf pinned for one plan without writing the caller's
  * session: the plan is built under a clone of the session (same
  * SparkContext, its own copy of the caller's SQLConf) with the pinned
  * keys set on the clone only. Another thread planning on the caller's
  * session never sees the pinned values, and the caller's
  * `spark.conf.getAll` is the same before and after.
  */
object ScopedConf {

  /** A clone of `spark` with `conf` set on top of a copy of its conf. */
  def session(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val scoped = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => scoped.conf.set(k, v) }
    scoped
  }

  /** A frame of `spark` over `df`'s logical plan, re-analyzed there. A
    * plan that was physically planned already (a `localCheckpoint`'s
    * LogicalRDD) keeps the partitioning and ordering it was planned
    * with. */
  def rehome(spark: SparkSession, df: DataFrame): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)
}
