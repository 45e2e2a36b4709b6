package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_SQL_ONLY=1: render oracle_sql.json and exit without a
    // Spark session — the determinism lint (tools/lint_oracle.py, r19)
    // needs the RENDERED SQL (builder-interpolated strings) but not the
    // query dumps, and the map itself is pure code
    if (sys.env.get("SPARK_GRAFT_SQL_ONLY").contains("1")) {
      new java.io.File(outDir).mkdirs()
      writeOracleSql(outDir, None)
      return
    }
    val spark = Mains.session()
    new java.io.File(outDir).mkdirs()
    // optional key filter for local iteration (same contract as Bench);
    // a full run leaves it unset and dumps everything
    val only = Mains.only()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, only)
    spark.stop()
  }

  private[graft] def writeOracleSql(outDir: String, only: Option[Set[String]]): Unit = {
    // every control char escaped: a tab or CR in builder-authored SQL
    // would otherwise make the reader's json.load fail and silently zero
    // the round's correctness
    val q = Mains.jsonString _
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
