package graft.sources

import java.lang.ref.SoftReference

import org.apache.spark.sql.SparkSession

/** One value per SparkSession: the scope of graft's session-level caches
  * (the resolved relations behind [[Tables.parquet]], SparkEntry's
  * persisted indexes). A value made for one session is never handed to
  * another, even on the same SparkContext, because what it caches
  * (DataFrames, resolved relations) belongs to the session that built it.
  *
  * Sessions are held weakly. Values are held softly: a cached relation or
  * DataFrame refers back to its session, so a strongly held value would
  * keep its weak key reachable for ever. Under memory pressure the JVM
  * may drop a value; the next call then builds a fresh one, which for a
  * cache only costs the rebuild.
  */
final class SessionScoped[V <: AnyRef](make: => V) {

  private val bySession =
    new java.util.WeakHashMap[SparkSession, SoftReference[V]]()

  /** This session's value, made on first use (or after the JVM dropped
    * it). */
  def apply(spark: SparkSession): V = bySession.synchronized {
    Option(bySession.get(spark)).flatMap(r => Option(r.get)).getOrElse {
      val v = make
      bySession.put(spark, new SoftReference(v))
      v
    }
  }
}
