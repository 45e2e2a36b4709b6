package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver-generated sf directory — the data
  * side of the sf1 scaling study (SURVEY §5): replicates each table
  * `factor`× with per-replica key shifts so every intra-replica join
  * relationship (orders↔lineitem↔customer, part/supplier FKs) is
  * preserved exactly, while cross-replica keys never collide. The result
  * is a corpus with the SAME per-key statistical shape at `factor`× the
  * rows — what the per-key scaling-slope measurement needs.
  *
  * Shape-preserving choices, per table family:
  *   - region/nation stay single-copy (fixed-size dimensions, as in
  *     TPC-H's own scaling rules).
  *   - documents: every replica (r = 0 included) salts every token with
  *     its replica tag, so each replica's INTERNAL near-duplicate
  *     structure is identical to the original corpus while cross-replica
  *     token overlap is zero — duplicate/candidate-pair density scales
  *     linearly, the way a bigger crawl actually behaves (10 verbatim
  *     copies would instead explode pair counts quadratically and
  *     falsely flag the dedup family as super-linear). No replica is an
  *     identity image: identities break composability (see the inline
  *     comments — the double-application collision found in r14).
  *   - embeddings: replica r applies cyclic rotation ∘ per-replica
  *     sign-flip mask — norms, within-replica cosine structure and
  *     per-replica cell geometry are preserved exactly (both maps are
  *     orthogonal), while cross-replica cosines fall to the background,
  *     so ANN candidate volume scales linearly — and the mask keeps the
  *     transform family collision-free under repeated application.
  *   - events: user_id shifts per replica (10× users, each with the
  *     original per-user event stream) — sessionization and windowed
  *     state scale by key count, their true scaling axis.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <destDir> [factor]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <destDir> [factor]")
    val (src, dest) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Mains.session()
    try run(spark, src, dest, factor) finally spark.stop()
  }

  def run(spark: SparkSession, src: String, dest: String, factor: Int): Unit = {
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      // REALISTIC FILE LAYOUT: the replicate union inherits the source's
      // split count (typically 1 small file → ONE parquet row group), and
      // a one-row-group table caps every downstream scan at one task —
      // the r12 honest-bench audit caught per-row keys running 10× data
      // on 1 of 32 cores (tx_normalize slope 10.7×) purely from this
      // generator artifact. Real corpora arrive as many files at every
      // scale; write the scaled tables the same way: a fixed 32 files
      // whatever the session's core count, small dims 1 file.
      val parts = if (Set("region", "nation").contains(name)) 1 else 32
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dest/$name.parquet").count()} rows")
    }
    // fixed-size dimensions: single copy
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer")
    val orders = read("orders")
    val part = read("part")
    val supplier = read("supplier")
    val custOff = off(customer, "c_custkey")
    val orderOff = off(orders, "o_orderkey")
    val partOff = off(part, "p_partkey")
    val suppOff = off(supplier, "s_suppkey")

    write(replicate(customer, factor, Map("c_custkey" -> custOff)), "customer")
    write(replicate(supplier, factor, Map("s_suppkey" -> suppOff)), "supplier")
    write(replicate(part, factor, Map("p_partkey" -> partOff)), "part")
    write(replicate(orders, factor,
      Map("o_orderkey" -> orderOff, "o_custkey" -> custOff)), "orders")
    write(replicate(read("lineitem"), factor,
      Map("l_orderkey" -> orderOff, "l_partkey" -> partOff,
        "l_suppkey" -> suppOff)), "lineitem")

    // events: ts stays in its stored form (ns-as-long or µs TIMESTAMP —
    // the stored-form table read handles either) so the written table
    // round-trips through Tables.events unchanged
    val events = graft.sources.Tables.table(spark, src, "events")
    write(replicate(events, factor,
      Map("event_id" -> off(events, "event_id"),
        "user_id" -> off(events, "user_id"))), "events")

    // the salt ends in '§' so tokens from different replicas can only
    // collide if a source token itself starts with "r<digit>§" — without
    // the separator, an original token like "r1x" would equal replica 1's
    // salting of "x", breaking the zero-cross-replica-overlap invariant
    // the linear duplicate-density claim rests on.
    //
    // EVERY replica is salted, including r = 0. A verbatim replica 0 is
    // an identity transform, and identities make ScaleUp non-composable:
    // scaling sf0.1→sf1→sf10 (the r14 third-scale-point study) composed
    // the salts as "r{b}§r{a}§token", so outer-replica b over verbatim
    // inner 0 ("r{b}§t") collided with outer 0 over inner b (also
    // "r{b}§t") — 9 of 100 composed blocks were byte-identical twins,
    // 45,728 verbatim duplicate documents at sf10, and the dedup-family
    // slopes read 43-68× instead of the corpus's real growth. With no
    // identity replica, composed salt prefixes are distinct for every
    // (inner, outer) pair by construction, at any nesting depth.
    write(replicateDocuments(read("documents"), factor), "documents")

    val embeddings = read("embeddings")
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    // Every replica (including r = 0) gets rotation ∘ sign-flip — both
    // orthogonal, so norms and within-replica cosine structure are
    // preserved EXACTLY while cross-replica cosines fall to the
    // background. The sign-flip mask (deterministic splitmix64 of
    // (r, component)) is what makes the transform family composable:
    // pure rotations form a cyclic group, so scaling twice composes
    // shifts ADDITIVELY and different (inner, outer) replica pairs with
    // the same shift sum write VERBATIM cross-replica vector copies —
    // the r14 sf1→sf10 study landed on only 19 distinct composed shifts
    // across 100 blocks, i.e. 162,000 of 200,000 vectors were byte
    // duplicates, exactly the quadratic artifact the transform exists to
    // prevent. With per-replica masks, two composed transforms coincide
    // only if their 64·dim-bit composed masks collide (~2⁻⁶⁴ per pair,
    // and the ScaleUpSpec composition test verifies zero duplicates on
    // the corpus it generates). Masks also remove the old factor ≤ dim
    // cap: replicas past dim−1 repeat a rotation but never a mask.
    def signMask(r: Int): Seq[Float] = (0 until dim).map { i =>
      var z = (r.toLong << 32 | i.toLong) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      if (((z ^ (z >>> 31)) & 1L) == 0L) 1f else -1f
    }
    write(replicate(embeddings, factor, Map("vec_id" -> off(embeddings, "vec_id")),
      extra = (d, r) => {
        val shift = if (r == 0 || dim < 2) 0 else ((r - 1) % (dim - 1)) + 1
        val rotated =
          if (shift == 0) col("embedding")
          else concat(
            slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), 1, shift))
        d.withColumn("embedding",
          zip_with(rotated, typedLit(signMask(r)), (x, m) => x * m))
      }), "embeddings")
  }

  /** One key-domain offset per shifted id, from the source data itself. */
  private def off(df: DataFrame, c: String): Long =
    df.agg(max(col(c)).cast("long")).head().getLong(0) + 1L

  /** `factor` replicas of `df`: replica r shifts each `shifts` column by
    * r × its offset, then applies `extra`. */
  private def replicate(df: DataFrame, factor: Int, shifts: Map[String, Long],
      extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until factor).map { r =>
      val shifted = shifts.foldLeft(df) { case (d, (c, o)) =>
        d.withColumn(c, (col(c) + lit(o * r)).cast(d.schema(c).dataType))
      }
      extra(shifted, r)
    }.reduce(_ unionByName _)

  /** The documents table replicated `factor`x with the salt scheme
    * [[run]] explains: replica r shifts doc_id and prefixes every token
    * with `r<r>§`. */
  private[graft] def replicateDocuments(docs: DataFrame, factor: Int): DataFrame =
    replicate(docs, factor, Map("doc_id" -> off(docs, "doc_id")), (d, r) => d
      .withColumn("text", array_join(
        transform(split(col("text"), " "), t => concat(lit(s"r$r§"), t)), " "))
      .withColumn("n_chars", length(col("text")).cast("long")))
}
