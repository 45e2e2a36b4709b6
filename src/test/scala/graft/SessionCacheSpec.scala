package graft

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Session-level caches are scoped to the session that made them: a second
  * session on the same SparkContext gets its own persisted indexes and its
  * own resolved parquet relations, never the first session's DataFrames;
  * the index temp dirs go when the SparkContext stops. */
class SessionCacheSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("SparkEntry's signature and IVF indexes are per session, reused within one") {
    val other = spark.newSession()
    val sig = SparkEntry.sigIndexFor(spark, sf)
    assert(SparkEntry.sigIndexFor(spark, sf) eq sig)
    val sigOther = SparkEntry.sigIndexFor(other, sf)
    assert(!(sigOther eq sig))
    assert(sigOther.path != sig.path)
    assert(SparkEntry.sigIndexFor(other, sf) eq sigOther)

    val (ivf, n) = SparkEntry.ivfIndexFor(spark, sf)
    assert(SparkEntry.ivfIndexFor(spark, sf)._1 eq ivf)
    val (ivfOther, nOther) = SparkEntry.ivfIndexFor(other, sf)
    assert(!(ivfOther eq ivf))
    assert(nOther === n)
    assert(ivfOther.corpus.sparkSession eq other)
    assert(ivf.corpus.sparkSession eq spark)
  }

  test("an index temp dir is deleted when its SparkContext stops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toFile
    java.nio.file.Files.write(new java.io.File(dir, "part-0").toPath, Array[Byte](1, 2))
    val l = SparkEntry.deleteOnStop(spark.sparkContext, dir)
    try {
      assert(dir.exists())
      l.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis))
      assert(!dir.exists())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a second session reuses its own resolved relation, not the first's") {
    val other = spark.newSession()
    // the one-split nation read is a coalesce(1) over the relation
    def sessionOf(s: org.apache.spark.sql.SparkSession) =
      Tables.table(s, sf, "nation").queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation].sparkSession
      }.get
    (1 to 2).foreach { _ =>
      assert(sessionOf(spark) eq spark)
      assert(sessionOf(other) eq other)
    }
  }
}
