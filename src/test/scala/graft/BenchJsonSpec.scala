package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench records a failure as a failure: a block that throws
  * becomes `{"failed":true,"error":"<class>: <message>"}`, valid JSON
  * whatever the message holds. */
class BenchJsonSpec extends AnyFunSuite {

  test("a failed block carries its exception class and message as valid JSON") {
    val e = new IllegalStateException("bad \"quote\" \\ back\nslash\ttab \u0001")
    val node = new ObjectMapper().readTree(Bench.failedJson(e))
    assert(node.get("failed").asBoolean())
    assert(node.get("error").asText() ===
      "java.lang.IllegalStateException: bad \"quote\" \\ back\nslash\ttab \u0001")
  }

  test("the one JSON string escaper round-trips every control character") {
    // Verify's oracle_sql.json cases (newline, CR, tab) beside the rest
    val raw = "SELECT 1\n\tFROM t\r\nWHERE s = \"x\\y\" \u0000\u001f end"
    assert(new ObjectMapper().readTree(Mains.jsonString(raw)).asText() === raw)
    assert(Mains.jsonString("a\nb\rc\td") === "\"a\\nb\\rc\\td\"")
  }

  test("a null message still names the class") {
    val node = new ObjectMapper().readTree(Bench.errorJson(new RuntimeException()))
    assert(node.asText() === "java.lang.RuntimeException: null")
  }
}
