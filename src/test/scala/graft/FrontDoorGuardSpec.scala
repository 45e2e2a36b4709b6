package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in graft.operators and graft.sources goes through
  * `Tables.parquet`, so it shares the session's resolved-relation cache: a
  * direct `spark.read.parquet(...)` (or a `read` chain ending in
  * `.parquet(` / `.format("parquet")`) anywhere else in those packages
  * fails this spec with its file and line. The front door's own plain
  * read is the one exemption. The tool mains under graft/ are out of
  * scope.
  *
  * The same scan keeps one session front door: a `SparkSession.builder`
  * anywhere in src/main/scala outside `Mains.session` fails with its
  * file and line. And no session conf is written: a `conf.set(`,
  * `conf.unset(` or `setConf(` anywhere in src/main/scala outside
  * `ScopedConf` (which sets keys on a clone only) fails with its file and
  * line. A written key changes `Tables.parquet`'s cache key for every
  * read on that session, and leaks into every query planned while it is
  * set. */
class FrontDoorGuardSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")

  /** A `read` chain that ends in a parquet scan; `readStream` does not
    * match (`read\b`). */
  private val ParquetRead =
    """\bread\b\s*(\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\)\s*)*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""".r

  private val SessionBuilder = """\bSparkSession\s*\.\s*builder\b""".r

  private val ConfWrite = """\bconf\s*\.\s*(?:set|unset)\s*\(|\bsetConf\s*\(""".r

  /** `src` with comments blanked out, line breaks kept. */
  private def code(src: String): String = {
    val noBlocks = """(?s)/\*.*?\*/""".r.replaceAllIn(src,
      m => m.matched.replaceAll("[^\n]", " "))
    """(?m)(^|[ \t])//[^\n]*""".r.replaceAllIn(noBlocks, m => " " * m.matched.length)
  }

  /** Lines of `f` where `pattern` matches outside comments. */
  private def sites(f: File, pattern: scala.util.matching.Regex = ParquetRead): Seq[Int] = {
    val text = code(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    pattern.findAllMatchIn(text).map(m => text.take(m.start).count(_ == '\n') + 1).toSeq
  }

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** Line range of `Tables.open`'s body, the one exempt read (behind
    * `Tables.parquet` and `Tables.table`). */
  private def frontDoor(tables: File): Range = {
    val lines = scala.io.Source.fromFile(tables, "UTF-8").getLines().toIndexedSeq
    val start = lines.indexWhere(_.trim.startsWith("private def open(spark: SparkSession, path: String,"))
    assert(start >= 0, s"no front door in $tables")
    val end = lines.indexWhere(_ == "  }", start)
    (start + 1) to (end + 1)
  }

  test("no parquet read in graft.operators or graft.sources bypasses Tables.parquet") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val tables = new File(root, "sources/Tables.scala")
    val exempt = frontDoor(tables)
    val all = Seq("operators", "sources").flatMap(d => scalaFiles(new File(root, d)))
      .flatMap(f => sites(f).map(f -> _))
    val (door, bypass) = all.partition { case (f, line) =>
      f.getCanonicalPath == tables.getCanonicalPath && exempt.contains(line) }
    assert(door.size === 1, s"the front door should hold exactly one plain read: $door")
    assert(bypass.isEmpty, "parquet reads outside Tables.parquet (route them through it):\n" +
      bypass.map { case (f, l) => s"  ${root.toPath.relativize(f.toPath)}:$l" }.mkString("\n"))
  }

  test("no SparkSession.builder in src/main/scala outside Mains.session") {
    val main = new File("src/main/scala")
    val helper = new File(root, "Mains.scala")
    val all = scalaFiles(main).flatMap(f => sites(f, SessionBuilder).map(f -> _))
    val (own, stray) = all.partition(_._1.getCanonicalPath == helper.getCanonicalPath)
    assert(own.size === 1, s"Mains.scala should hold exactly one session builder: $own")
    assert(stray.isEmpty, "sessions built outside Mains.session (use it):\n" +
      stray.map { case (f, l) => s"  ${main.toPath.relativize(f.toPath)}:$l" }.mkString("\n"))
  }

  test("no session conf write in src/main/scala outside ScopedConf") {
    val main = new File("src/main/scala")
    val scoped = new File(main, "org/apache/spark/sql/graft/ScopedConf.scala")
    val all = scalaFiles(main).flatMap(f => sites(f, ConfWrite).map(f -> _))
    val (own, stray) = all.partition(_._1.getCanonicalPath == scoped.getCanonicalPath)
    assert(own.size === 1, s"ScopedConf.scala should hold exactly one conf write: $own")
    assert(stray.isEmpty, "session conf written outside ScopedConf (plan on a " +
      "ScopedConf.session clone):\n" +
      stray.map { case (f, l) => s"  ${main.toPath.relativize(f.toPath)}:$l" }.mkString("\n"))
  }

  test("the conf-write scan catches set, unset and setConf, and skips reads and comments") {
    val f = java.nio.file.Files.createTempFile("guard", ".scala")
    java.nio.file.Files.write(f, Seq(
      "// spark.conf.set(k, v) in a comment",
      "/** spark.conf.unset(k) in a doc */",
      "spark.conf.set(\"k\", \"v\")",
      "spark.conf",
      "  .unset(\"k\")",
      "spark.sqlContext.setConf(\"k\", \"v\")",
      "val v = spark.conf.get(\"k\")",
      "val o = spark.conf.getOption(\"k\")",
      "val b = SparkSession.builder().config(\"k\", \"v\")",
      "sparkConf.set(\"k\", \"v\")",
      "scoped.conf.set(k, v)").mkString("\n").getBytes("UTF-8"))
    assert(sites(f.toFile, ConfWrite) === Seq(3, 4, 6, 11))
  }

  test("the scan catches the read forms it claims to, and skips comments") {
    val f = java.nio.file.Files.createTempFile("guard", ".scala")
    java.nio.file.Files.write(f, Seq(
      "// spark.read.parquet(p) in a comment",
      "/** spark.read.parquet(p) in a doc */",
      "val a = spark.read.parquet(p)",
      "val b = spark.read",
      "  .option(\"mergeSchema\", \"true\")",
      "  .schema(s).parquet(p)",
      "val c = spark.readStream.parquet(p)",
      "val d = spark.read.format(\"parquet\").load(p)",
      "val e = df.write.parquet(p)",
      "// SparkSession.builder() in a comment",
      "val s = SparkSession.builder().getOrCreate()",
      "val t = SparkSession",
      "  .builder()").mkString("\n").getBytes("UTF-8"))
    assert(sites(f.toFile) === Seq(3, 4, 8))
    assert(sites(f.toFile, SessionBuilder) === Seq(11, 12))
  }
}
