package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** One attempted operation. `at` is its start in seconds since the JVM
  * started. `err` is None exactly when `ok`; a failure always carries its
  * message. `layers` holds the traced per-layer numbers (empty for an
  * untraced operation). */
final case class OpRec(kind: String, name: String, pass: Int, at: Double,
    secs: Double, ok: Boolean, err: Option[String], traced: Boolean,
    layers: Map[String, Double], attrs: Map[String, Double] = Map.empty) {
  def json: String = Json.obj("kind" -> kind, "name" -> name, "pass" -> pass,
    "at" -> at, "secs" -> secs, "ok" -> ok, "err" -> err, "traced" -> traced,
    "layers" -> layers, "attrs" -> attrs)
}

/** Runs each operation on the calling thread (several threads may call it)
  * and accounts for each one: the body is timed, its output is checked
  * after the clock stops, and a body that throws or an output that fails
  * its check counts as a failed operation with its message recorded. Each record carries the
  * codegen compiles the operation caused and the JVM's CPU time during it
  * (shared among operations that overlap, as the verification pass's do). */
final class Runner(tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRec]

  /** Time `body`, then check its value with `check` (None = correct,
    * Some(msg) = wrong output). Returns the value when the body returned. */
  def run[T](kind: String, name: String, pass: Int = 0, traced: Boolean = false)(
      body: => T)(check: T => Option[String]): Option[T] = {
    val cg0 = Runner.codegen()
    val cpu0 = Runner.cpuNanos()
    val at = Runner.sinceJvmStart()
    val t0 = System.nanoTime()
    val res = try Right(tracer.op(name, traced)(body)) catch {
      case e: VirtualMachineError => throw e
      case e: Throwable => Left(e)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = (Runner.cpuNanos() - cpu0) / 1e9
    val cg1 = Runner.codegen()
    val compiles = Map("compiles" -> (cg1._1 - cg0._1).toDouble,
      "compile_s" -> (cg1._2 - cg0._2) / 1e9, "cpu_s" -> cpu)
    res match {
      case Left(e) =>
        ops.synchronized(ops += OpRec(kind, name, pass, at, secs, ok = false,
          Some(Runner.describe(e)), traced, Map.empty, compiles))
        None
      case Right((v, root)) =>
        val bad = try check(v) catch {
          case e: VirtualMachineError => throw e
          case e: Throwable => Some("output check threw: " + Runner.describe(e))
        }
        ops.synchronized(ops += OpRec(kind, name, pass, at, secs, bad.isEmpty,
          bad.map("wrong output: " + _), traced,
          root.map(tracer.opLayers).getOrElse(Map.empty), compiles))
        Some(v)
    }
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
}

object Runner {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** CPU time of this whole JVM so far (driver, executor threads, JIT, GC). */
  def cpuNanos(): Long = os.getProcessCpuTime

  /** (whole-stage and expression codegen compiles, their nanoseconds) so far
    * in this JVM, from Spark's CodegenMetrics and CodeGenerator. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.trim).filter(_.nonEmpty)
      .map(_.linesIterator.take(3).mkString(" | "))
    e.getClass.getName + msg.map(": " + _).getOrElse("")
  }
}

/** Order-insensitive digest of a result: row count plus the wrapping sum
  * and the xor of a 64-bit hash of each row's binary (UnsafeRow) form, so
  * two results with the same multiset of rows agree whatever their row
  * order or partitioning. */
final case class Digest(rows: Long, sum: Long, xor: Long, schema: String)

object Digest {
  private val Seed = 42L

  /** Combine per-row hashes; order-insensitive by construction. */
  def combine(hashes: Iterator[Long]): (Long, Long, Long) =
    hashes.foldLeft((0L, 0L, 0L)) { case ((n, s, x), h) => (n + 1, s + h, x ^ h) }

  private def merge(a: (Long, Long, Long), b: (Long, Long, Long)) =
    (a._1 + b._1, a._2 + b._2, a._3 ^ b._3)

  /** Digest of `df`'s result: executes its physical plan once, as a SQL
    * execution (so query-execution listeners see it), hashing every row. */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest"))(
      qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      Iterator(combine(it.map { r =>
        val u = proj(r)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed)
      }))
    }.collect())
    val (n, s, x) = parts.foldLeft((0L, 0L, 0L))(merge)
    Digest(n, s, x, schemaString(schema))
  }

  def schemaString(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
}
