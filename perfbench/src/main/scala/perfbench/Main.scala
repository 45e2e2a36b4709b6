package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry}

/** One benchmark run of one workload in this JVM, on one client thread.
  *
  * Usage: perfbench.Main <workload> <dataDir> <workDir> <outDir> <seed>
  *   <seconds> <trace 0|1> <setupReps>
  *
  * Reads the sf0.1 tables in `dataDir` (and, for ingest, the generated
  * `workDir/batches.parquet`), keeps every file it makes under `workDir`,
  * and writes `outDir/raw.json` (every operation with its
  * latency, outcome and traced layers, the set-up repetitions and the host
  * state), `outDir/spans.jsonl` on a traced run, and, for the sweeps, the
  * verification dumps plus `oracle_sql.json` for the oracle comparison that
  * run.py makes. */
object Main {

  val Workloads: Set[String] = Set("sweep_sf0.1", "ingest", "alert_api")

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("startup"))) return startup()
    require(args.length == 8, "usage: Main <workload> <dataDir> <workDir> " +
      "<outDir> <seed> <seconds> <trace> <setupReps>")
    val Array(workload, data, work, out, seedS, secondsS, traceS, repsS) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val (seed, seconds, trace, reps) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", repsS.toInt)
    val cpus = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // room for every generated class of a workload: at the default of
      // 100 entries the sweep's ~150 classes evict each other in an order
      // that follows the seeded key order, and recompiles (0.1-0.4 s a
      // key) land at random in the timed passes
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = (if (workload == "alert_api") builder.withExtensions(new GraftExtensions)
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = Runner.sinceJvmStart()
    val loadStart = loadAvg()
    val (cpuProbe, shuffleProbe) = noiseProbes(spark)

    val tracer = new Tracer(spark, trace)
    val runner = new Runner(tracer)
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val setupSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    workload match {
      case "ingest" =>
        (1 to reps).foreach(r => setupSecs += timed(Ingest.setUp(spark, data, s"$work/idx$r")))
        val idx = s"$work/idx$reps"
        Ingest.run(spark, runner, tracer, s"$work/batches.parquet", idx, seconds)
        if (trace) {
          val (rows, files) = Ingest.indexSize(spark, idx)
          extra ++= Seq("index_rows" -> rows, "index_files" -> files)
        }
      case "alert_api" =>
        (1 to reps).foreach(r => setupSecs += timed(AlertApi.setUp(spark, data, s"$work/lake$r")))
        val lake = s"$work/lake$reps"
        AlertApi.run(spark, runner, tracer, lake, seed, seconds)
        extra += "lake_files" -> AlertApi.lakeFiles(lake)
      case _ =>
        (1 to reps).foreach(_ => setupSecs += timed(Sweep.setUp(spark, data)))
        val refs = Sweep.verifyPass(spark, runner, data, s"$out/verify", Sweep.order(seed, 0))
        extra += "passes" -> Sweep.passes(spark, runner, tracer, data, seed, seconds, refs)
        write(s"$out/oracle_sql.json", Json.value(
          SparkEntry.oracleSql.filter { case (k, _) => Sweep.Keys.contains(k) }))
        extra += "keys" -> Sweep.Keys
        if (trace) extra += "kernels_rows_per_s" -> Kernels.probe(spark, data)
    }
    // wall time of the untimed phases (verification operations overlap)
    val warm = runner.ops.filter(o => o.kind == "verify" || o.kind == "warmup")
    val warmupSecs = Intervals.union(warm.map(o => (o.at, o.at + o.secs)).toSeq)
    val (compiles, compileNs) = Runner.codegen()
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "session_start_s" -> sessionStart, "setup_reps_s" -> setupSecs,
      "warmup_s" -> warmupSecs,
      "codegen" -> Map("total_compiles" -> compiles, "total_compile_s" -> compileNs / 1e9),
      "host" -> Map("nproc" -> cpus, "loadavg_start" -> loadStart,
        "loadavg_end" -> loadAvg(), "cpu_probe_s" -> cpuProbe,
        "shuffle_probe_s" -> shuffleProbe),
      "peak_rss_mb" -> peakRssMb(),
      "extra" -> extra,
      "ops" -> Json.Raw(runner.ops.map(_.json).mkString("[", ",", "]")))
    write(s"$out/raw.json", record)
    if (trace) write(s"$out/spans.jsonl", tracer.spanLines().mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Start a session and run one small query: the class-loading path every
    * run shares, recorded into the JVM's class-data-sharing archive. */
  private def startup(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.range(1000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    spark.stop()
  }

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }

  private def loadAvg(): Seq[Double] =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).map(_.toDouble).toSeq

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get

  /** `graft.Bench`'s two box-noise probes at a smaller size: a pure-CPU
    * range aggregate and a fixed shuffle + sort, two timed runs each after
    * one untimed run (about a second in all). They describe the host, not
    * the code under test. */
  private def noiseProbes(spark: SparkSession): (Seq[Double], Seq[Double]) = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def cpu(): Unit = spark.range(5L * 1000 * 1000).selectExpr("sum(id * 3 + 1) AS s")
      .write.format("noop").mode("overwrite").save()
    def shuffle(): Unit = spark.range(100L * 1000)
      .selectExpr("pmod(id * 2654435761, 1000003) AS k", "id")
      .repartition(8, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k", "id")
      .write.format("noop").mode("overwrite").save()
    cpu(); shuffle()
    ((1 to 2).map(_ => time(cpu())), (1 to 2).map(_ => time(shuffle())))
  }
}
