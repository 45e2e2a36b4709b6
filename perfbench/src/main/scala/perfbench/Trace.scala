package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.perfbench.Bus

/** One traced interval. Times are seconds on the epoch clock Spark's
  * listener events use; `op` is the id shared by every span of one timed
  * operation, `parent` is 0 for an operation's root span. */
final case class Span(id: Long, op: Long, name: String, parent: Long,
    start: Double, end: Double)

/** Task-level totals of one Spark job, attributed to the span whose id the
  * benchmark put in the job description. */
final class JobRec(val id: Int, val span: Long, val start: Double) {
  var end: Double = start
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuS = 0.0
  var gcS = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var readBytes = 0L
  var readRows = 0L
}

/** Catalyst phases of one query execution, with the files its scans read. */
final case class QeRec(op: Long, phases: Map[String, (Double, Double)],
    files: Long, partitions: Long)

/** Spans around the benchmark's calls into each layer, plus Spark's own
  * view of them through a SparkListener and a QueryExecutionListener that
  * the tracer registers. With `enabled` false nothing is registered and
  * `op`/`span` only run their bodies. Spans stay in memory; [[opLayers]]
  * reduces one operation to its per-layer numbers. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1e3
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val seenTrackers = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private var nextId = 0L
  private var stack: List[Span] = Nil
  // the traced operation in flight (0 when none): events are drained at
  // both ends of a traced operation, so every event seen while it is set
  // belongs to it
  @volatile private var recording = 0L

  private val DescPrefix = "perfbench:"

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording != 0L) {
        val span = Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith(DescPrefix))
          .map(_.stripPrefix(DescPrefix).toLong)
        span.foreach { s =>
          jobs.synchronized {
            jobs(e.jobId) = new JobRec(e.jobId, s, e.time / 1e3)
            e.stageIds.foreach(stageJob(_) = e.jobId)
          }
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time / 1e3))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized(stageJob.get(e.stageInfo.stageId)
          .flatMap(jobs.get).foreach(_.stages += 1))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized(stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (e.reason != org.apache.spark.Success) j.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuS += m.executorCpuTime / 1e9
            j.gcS += m.jvmGCTime / 1e3
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
            j.readBytes += m.inputMetrics.bytesRead
            j.readRows += m.inputMetrics.recordsRead
          }
        })
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(p: SparkPlan): Seq[FileSourceScanLike] =
      collectWithSubqueries(p) { case s: FileSourceScanLike => s }
  }

  private def record(qe: QueryExecution): Unit = if (recording != 0L) {
    // one query's tracker can be reported by several executions (a
    // command and the query it runs); count its phases once
    val fresh = seenTrackers.synchronized(seenTrackers.add(qe.tracker))
    val scans = scala.util.Try(Scans.of(qe.executedPlan)).getOrElse(Nil)
    def metric(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    val phases =
      if (!fresh) Map.empty[String, (Double, Double)]
      else qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs / 1e3, v.endTimeMs / 1e3) }
    qes.synchronized(qes += QeRec(recording, phases, metric("numFiles"),
      metric("numPartitions")))
  }

  private def push(name: String, op: Long): Span = {
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(nextId, if (op == 0L) nextId else op, name, parent, now(), 0.0)
    stack = s :: stack
    sc.setJobDescription(DescPrefix + s.id)
    s
  }

  private def pop(s: Span): Span = {
    val done = s.copy(end = now())
    stack = stack.tail
    sc.setJobDescription(stack.headOption.map(DescPrefix + _.id).orNull)
    spans += done
    done
  }

  /** Run `body` as one operation; its spans, jobs and query executions are
    * recorded when `traced`. Returns the body's value and the root span. */
  def op[T](name: String, traced: Boolean)(body: => T): (T, Option[Span]) =
    if (!enabled || !traced) (body, None)
    else {
      Bus.drain(sc)
      val s = push(name, 0L)
      recording = s.op
      var root: Span = null
      val v = try body finally {
        Bus.drain(sc)
        recording = 0L
        root = pop(s)
      }
      (v, Some(root))
    }

  /** A child span of the current operation (a plain call when none is
    * being traced). */
  def span[T](name: String)(body: => T): T = stack.headOption match {
    case Some(parent) =>
      val s = push(name, parent.op)
      try body finally pop(s)
    case None => body
  }

  /** Per-layer numbers of one traced operation (its root span `root`). */
  def opLayers(root: Span): Map[String, Double] = {
    val mine = spans.filter(_.op == root.op)
    val ids = mine.map(_.id).toSet
    val buildIds = mine.filter(_.name == "build").map(_.id).toSet
    val js = jobs.synchronized(jobs.values.filter(j => ids(j.span)).toSeq)
    val myQes = qes.synchronized(qes.filter(_.op == root.op).toSeq)
    def phase(p: String) = myQes.flatMap(_.phases.get(p)).map { case (a, b) => b - a }.sum
    val build = mine.filter(_.name == "build").map(s => (s.start, s.end)).toSeq
    val gap = Intervals.selfTime((root.start, root.end),
      build ++ myQes.flatMap(_.phases.values) ++ js.map(j => (j.start, j.end)))
    val spanTimes = mine.filter(_.parent != 0L).groupBy(_.name).map {
      case (n, ss) => s"span.$n" -> ss.map(s => s.end - s.start).sum }
    Map(
      "wall_s" -> (root.end - root.start),
      "build_s" -> build.map { case (a, b) => b - a }.sum,
      "build_jobs" -> js.count(j => buildIds(j.span)).toDouble,
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "jobs" -> js.size.toDouble,
      "stages" -> js.map(_.stages).sum.toDouble,
      "tasks" -> js.map(_.tasks).sum.toDouble,
      "failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
      "job_s" -> js.map(j => j.end - j.start).sum,
      "executor_cpu_s" -> js.map(_.cpuS).sum,
      "gc_s" -> js.map(_.gcS).sum,
      "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> js.map(_.spill).sum.toDouble,
      "peak_exec_mem_bytes" -> js.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "read_bytes" -> js.map(_.readBytes).sum.toDouble,
      "read_rows" -> js.map(_.readRows).sum.toDouble,
      "files_read" -> myQes.map(_.files).sum.toDouble,
      "partitions_read" -> myQes.map(_.partitions).sum.toDouble,
      "gap_s" -> gap
    ) ++ spanTimes
  }

  /** Every span, job and Catalyst phase as one JSON object per line. */
  def spanLines(): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    val spanRows = spans.toSeq.sortBy(_.id).map(s => Json.obj(
      "kind" -> "span", "id" -> s.id, "op" -> s.op, "name" -> s.name,
      "parent" -> s.parent, "start" -> s.start, "end" -> s.end))
    val jobRows = jobs.synchronized(jobs.values.toSeq).map(j => Json.obj(
      "kind" -> "job", "id" -> j.id, "op" -> byId.get(j.span).map(_.op).getOrElse(0L),
      "parent" -> j.span, "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
      "tasks" -> j.tasks, "executor_cpu_s" -> j.cpuS,
      "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite))
    val phaseRows = qes.synchronized(qes.toSeq).flatMap(q => q.phases.toSeq.map {
      case (p, (a, b)) => Json.obj("kind" -> "phase", "name" -> s"catalyst.$p",
        "op" -> q.op, "parent" -> q.op, "start" -> a, "end" -> b) })
    spanRows ++ jobRows ++ phaseRows
  }
}

object Intervals {
  /** Total length covered by the union of closed intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(span: (Double, Double), children: Seq[(Double, Double)]): Double =
    (span._2 - span._1) - union(children.map { case (a, b) =>
      (math.max(a, span._1), math.min(b, span._2)) })
}
