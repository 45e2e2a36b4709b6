package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Shared tombstone side-table machinery behind index deletion
  * (IncrementalDedup.deleteDocs / Ivf.deleteFromIndex) — one
  * implementation of the takedown lifecycle, parameterized on the id
  * column, so the two stores cannot drift:
  *
  *   - [[add]]: ids land as ONE parquet file under `tombstones/`
  *     (O(ids), no base rewrite), stored under the canonical column
  *     name `id`;
  *   - [[minus]]: read-time masking — broadcast anti-join of a frame
  *     against the pending ids (no-op without tombstones; the set is
  *     takedown-sized by nature);
  *   - [[drop]]: compact's fold-then-delete step (delete LAST, after
  *     the layout swaps — a crash re-applies inert tombstones, never
  *     resurrects a row); returns whether tombstones existed, which
  *     drives e.g. the bucket-Bloom sidecar rebuild;
  *   - [[clearStale]]: rebuild-in-place sweep — a NEW corpus must not
  *     inherit the previous corpus's pending deletions.
  */
private[operators] object Tombstones {

  def dir(path: String): String = s"$path/tombstones"

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The pending tombstoned ids (column `id`), if any. Distinct across
    * FILES, not just within one: [[add]] dedups per call, but the same id
    * deleted in two calls lands in two tombstone files — without this,
    * the router's tombstone count overcounts, corpus estimates skew, and
    * the broadcast anti-join set carries duplicate rows until compact.
    * The set is takedown-sized, so the distinct is a few-row shuffle. */
  def ids(spark: SparkSession, path: String): Option[DataFrame] = {
    val t = new org.apache.hadoop.fs.Path(dir(path))
    if (fs(spark, path).exists(t)) Some(Tables.parquet(spark, dir(path)).distinct())
    else None
  }

  /** Append `newIds` (read from `idCol`) as one tombstone file. */
  def add(path: String, newIds: DataFrame, idCol: String): Unit =
    newIds.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(dir(path))

  /** Suppress tombstoned ids in `rows` on its `idCol` column. */
  def minus(spark: SparkSession, path: String, rows: DataFrame,
      idCol: String): DataFrame =
    ids(spark, path).map { t =>
      rows.join(broadcast(t.select(col("id").as(idCol))), Seq(idCol),
        "left_anti")
    }.getOrElse(rows)

  /** Delete the tombstone dir (compact's LAST step); true iff it existed. */
  def drop(spark: SparkSession, path: String): Boolean = {
    val t = new org.apache.hadoop.fs.Path(dir(path))
    val f = fs(spark, path)
    val existed = f.exists(t)
    if (existed) f.delete(t, true)
    existed
  }

  /** Rebuild-in-place sweep: clear any previous corpus's tombstones. */
  def clearStale(spark: SparkSession, path: String): Unit = { drop(spark, path); () }
}

/** Shared write-fresh-then-swap discipline for compaction — one
  * implementation of the crash-safe directory swap, so the two index
  * stores (IncrementalDedup sigs/buckets, Ivf corpus/corpus_by_id)
  * cannot drift in their recovery semantics. Hadoop's rename reports
  * failure by RETURNING FALSE (dst exists, src missing), not by
  * throwing — an unchecked swap can corrupt the live index while
  * looking successful, and worse, let a caller's
  * delete-tombstones-after-swap step run against an unswapped layout
  * (resurrecting taken-down rows). */
private[operators] object IndexSwap {

  /** Recovery preamble + stale sweep, run BEFORE writing `${name}_new`:
    * first restore a live dir lost to a compact that crashed between
    * the two renames (prefer `_new` — written-complete, the newer
    * consistent state — fall back to `_old`), then delete leftover
    * `_old`/`_new` dirs so the upcoming renames cannot silently no-op
    * against a stale target. */
  def recover(fs: org.apache.hadoop.fs.FileSystem, path: String,
      names: Seq[String]): Unit = {
    for (name <- names) {
      val live = new org.apache.hadoop.fs.Path(s"$path/$name")
      if (!fs.exists(live)) {
        val fresh = new org.apache.hadoop.fs.Path(s"$path/${name}_new")
        val old = new org.apache.hadoop.fs.Path(s"$path/${name}_old")
        val src = if (fs.exists(fresh)) Some(fresh)
          else if (fs.exists(old)) Some(old) else None
        src.foreach { s =>
          if (!fs.rename(s, live))
            throw new java.io.IOException(
              s"compact: live $live is missing (crashed earlier compact) " +
                s"and recovery rename $s -> $live failed; recover manually " +
                "before compacting")
        }
      }
    }
    for (name <- names; suffix <- Seq("_old", "_new")) {
      val stale = new org.apache.hadoop.fs.Path(s"$path/$name$suffix")
      if (fs.exists(stale)) fs.delete(stale, true)
    }
  }

  /** Checked three-way rename swap of `$path/$name` ← `$path/${name}_new`. */
  def swap(fs: org.apache.hadoop.fs.FileSystem, path: String,
      name: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$path/$name")
    val fresh = new org.apache.hadoop.fs.Path(s"$path/${name}_new")
    val old = new org.apache.hadoop.fs.Path(s"$path/${name}_old")
    if (!fs.rename(live, old))
      throw new java.io.IOException(
        s"compact: failed to archive $live to $old — live index untouched")
    if (!fs.rename(fresh, live)) {
      // restore the live dir before failing: the archive rename
      // succeeded, so rolling back cannot hit an existing target
      fs.rename(old, live)
      throw new java.io.IOException(
        s"compact: failed to swap $fresh into place — live dir restored")
    }
    fs.delete(old, true)
    ()
  }
}
