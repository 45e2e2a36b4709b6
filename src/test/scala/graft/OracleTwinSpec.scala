package graft

import java.io.File
import java.nio.file.Files

import scala.sys.process._

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** The oracle contract: every query key has a DuckDB twin, and the twin
  * map as Verify writes it (oracle_sql.json) passes the determinism lint
  * of SURVEY §4 (tools/lint_oracle.py). The lint half cancels where no
  * python3 is on the PATH. */
class OracleTwinSpec extends AnyFunSuite {

  test("every query key has an oracle twin and every twin a query key") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  /** Exit code and combined output of `cmd`; None when it cannot start. */
  private def run(cmd: String*): Option[(Int, String)] = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    try Some((Process(cmd).!(log), out.toString))
    catch { case _: java.io.IOException => None }
  }

  test("the rendered twins pass tools/lint_oracle.py, and its self-test holds") {
    assume(run("python3", "--version").exists(_._1 == 0), "python3 is not available")
    val dir = Files.createTempDirectory("oracle-twins").toFile
    try {
      Verify.writeOracleSql(dir.toString, None)
      val lint = new File("tools/lint_oracle.py").getPath
      val Some((rc, out)) = run("python3", lint, new File(dir, "oracle_sql.json").getPath)
      assert(rc === 0, out)
      assert(out.contains(s"${SparkEntry.queries.size} keys, 0 violations"), out)
      val Some((selfRc, selfOut)) = run("python3", lint, "--self-test")
      assert(selfRc === 0, selfOut)
    } finally FileUtils.deleteQuietly(dir)
  }
}
