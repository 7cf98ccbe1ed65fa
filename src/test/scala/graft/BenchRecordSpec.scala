package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench record's conf_overrides stamp stays valid JSON whatever
  * the override keys and values contain. */
class BenchRecordSpec extends AnyFunSuite {

  test("conf_overrides escapes backslashes and quotes in keys and values") {
    val key = """spark.graft.k\"x"""
    val value = """C:\tmp\"quoted" \\ end"""
    val stamp = Bench.confStamp(Seq(key -> value, "plain" -> "1"))
    val parsed = new ObjectMapper().readTree(stamp)
    assert(parsed.size() == 2)
    assert(parsed.get(key).asText() == value)
    assert(parsed.get("plain").asText() == "1")
    assert(Bench.confStamp(Nil) == "{}")
  }
}
