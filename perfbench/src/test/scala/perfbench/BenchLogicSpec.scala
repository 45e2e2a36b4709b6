package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("digest ignores row order and partitioning") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"v$i", i * 0.5))
    val a = Digest.of(rows.toDF("k", "s", "d").repartition(1))
    val b = Digest.of(rows.reverse.toDF("k", "s", "d").repartition(5))
    val c = Digest.of(rows.toDF("k", "s", "d").orderBy($"d".desc))
    assert(a == b)
    assert(a == c)
    assert(a.rows == 200L)
  }

  test("digest sees a changed value, a lost row and a duplicated row") {
    import spark.implicits._
    val rows = (1 to 50).map(i => (i.toLong, s"v$i"))
    val base = Digest.of(rows.toDF("k", "s"))
    assert(Digest.of(rows.updated(7, (8L, "x")).toDF("k", "s")) != base)
    assert(Digest.of(rows.tail.toDF("k", "s")) != base)
    assert(Digest.of((rows :+ rows.head).toDF("k", "s")) != base)
  }

  test("combine is order-insensitive and counts rows") {
    val hs = Seq(3L, -9L, Long.MaxValue, 42L)
    assert(Digest.combine(hs.iterator) == Digest.combine(hs.reverse.iterator))
    assert(Digest.combine(hs.iterator)._1 == 4L)
  }

  test("a throwing operation counts as failed, with its message") {
    val runner = new Runner(new Tracer(spark, enabled = false))
    runner.run("key", "fine")(1)(_ => None)
    runner.run("key", "throws")(throw new IllegalStateException("injected"))(_ => None)
    runner.run("key", "wrong")(2)(v => if (v == 3) None else Some(s"got $v"))
    assert(runner.attempted == 3)
    assert(runner.failed == 2)
    val errs = runner.ops.map(o => o.name -> o.err).toMap
    assert(errs("fine").isEmpty)
    assert(errs("throws").contains("java.lang.IllegalStateException: injected"))
    assert(errs("wrong").contains("wrong output: got 2"))
  }

  test("a traced operation records its span, jobs and Catalyst phases") {
    val tracer = new Tracer(spark, enabled = true)
    val runner = new Runner(tracer)
    runner.run("key", "agg", traced = true) {
      val df = tracer.span("build")(spark.range(1000).selectExpr("sum(id) AS s"))
      tracer.span("exec")(df.collect())
    }(_ => None)
    val layers = runner.ops.head.layers
    assert(layers("jobs") >= 1.0)
    assert(layers("tasks") >= 1.0)
    assert(layers("job_s") > 0.0)
    assert(layers("analysis_s") + layers("optimization_s") + layers("planning_s") > 0.0)
    assert(layers("gap_s") >= 0.0 && layers("gap_s") <= layers("wall_s"))
    assert(tracer.spans.map(_.name).toSet == Set("agg", "build", "exec"))
  }

  test("the seed fixes the key order; another seed gives another") {
    assert(Sweep.order(7, 1) == Sweep.order(7, 1))
    assert(Sweep.order(7, 1).sorted == Sweep.Keys.sorted)
    assert((1 to 5).map(Sweep.order(7, _)) != (1 to 5).map(Sweep.order(8, _)))
  }

  test("self time subtracts the union of child intervals") {
    assert(Intervals.selfTime((0.0, 10.0), Seq((1.0, 3.0), (2.0, 4.0), (8.0, 12.0))) == 5.0)
    assert(Intervals.union(Seq((0.0, 1.0), (1.0, 2.0), (5.0, 5.0))) == 2.0)
  }
}
