package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout contract: the full per-query line, then the short
  * contract line last, which a reader of the stdout tail parses. */
class BenchReportSpec extends AnyFunSuite {

  test("the last stdout line is the contract line with scalar counts, " +
    "after the unchanged per-query line") {
    val buf = new ByteArrayOutputStream
    val outcomes = Seq(("a_query", 1.5, None), ("b_query", 0.25, Some("IOException: boom")),
      ("c_query", 2.0, None))
    val full = Bench.report(new PrintStream(buf, true, "UTF-8"), outcomes, "/data/sf0.1",
      """{"load1":0.5}""", "null")
    val lines = buf.toString("UTF-8").split("\n").toSeq
    assert(lines.size === 2)
    assert(lines.head === full)
    assert(full === """{"metric":"total","value":3.5,"unit":"sec",""" +
      """"queries":{"a_query":1.5,"b_query":0.25,"c_query":2.0},""" +
      """"errors":{"b_query":"IOException: boom"},"sf":"/data/sf0.1",""" +
      """"load_start":{"load1":0.5},"load_end":null}""")

    val last = new ObjectMapper().readTree(lines.last)
    assert(last.fieldNames.asScala.toSeq === Seq("metric", "value", "unit", "queries", "errors", "sf"))
    assert(last.get("metric").asText === "total")
    assert(last.get("value").isNumber && last.get("value").asDouble === 3.5)
    assert(last.get("unit").asText === "sec")
    assert(last.get("queries").isIntegralNumber && last.get("queries").asInt === 3)
    assert(last.get("errors").isIntegralNumber && last.get("errors").asInt === 1)
    assert(last.get("sf").asText === "/data/sf0.1")
  }
}
