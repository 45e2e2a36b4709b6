package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The stateful leg's replay chunks: equal-count runs of the event-time
  * order, cut without a window that moves every event to one task. */
class StreamingIngestBenchSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("timeChunks cuts events into nBatches near-equal runs of the (ts, event_id) order") {
    val events = Tables.table(spark, sf, "events").select("event_id", "ts", "value")
    val chunked = StreamingIngestBench.timeChunks(events, 8)
    val plan = chunked.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty, plan)
    // chunk numbers read along the (ts, event_id) total order never
    // decrease: every row of chunk i sorts before every row of i + 1
    val inOrder = chunked.orderBy("ts", "event_id").select("b").collect().map(_.getInt(0))
    assert(inOrder.length === events.count())
    assert(inOrder.sameElements(inOrder.sorted))
    val sizes = inOrder.groupBy(identity).map { case (b, xs) => b -> xs.length }
    assert(sizes.keySet === (1 to 8).toSet)
    assert(sizes.values.max - sizes.values.min <= 1, sizes)
  }
}
