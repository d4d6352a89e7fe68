package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.StreamReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchMetricLineSpec extends AnyFunSuite {

  private val strict = JsonMapper.builder()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .build()

  private def parse(line: String): JsonNode = strict.readTree(line)

  private def fields(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  // more gates than the line holds, with gate-sized names, one failure
  private val results: Seq[(String, Double)] =
    (0 until 160).map(i => f"gate_$i%03d_family" -> (0.2 + (i * 37 % 101) / 10.0)) :+
      ("gate_broken" -> -1.0)

  test("the line parses strictly, holds only contract keys and fits 2000 chars") {
    val (line, foldedN, foldedDs) = Bench.metricLine(results, "/data/sf0.1")
    assert(line.length + 1 <= 2000, s"line + newline is ${line.length + 1} chars")
    val json = parse(line)
    assert(fields(json) === Seq("metric", "value", "unit", "queries", "sf"))
    assert(json.get("metric").asText === "total")
    assert(json.get("unit").asText === "sec")
    assert(json.get("sf").isNumber && json.get("sf").asDouble === 0.1)
    val ok = results.filter(_._2 >= 0)
    assert(math.abs(json.get("value").asDouble - ok.map(_._2).sum) < 0.05)
    val onLine = fields(json.get("queries"))
    assert(!onLine.contains("gate_broken"))
    // gates that do not fit fold off the line, fastest first
    assert(foldedN > 0 && onLine.size + foldedN === ok.size)
    val folded = ok.filterNot(g => onLine.contains(g._1))
    assert(folded.map(_._2).max <= ok.filter(g => onLine.contains(g._1)).map(_._2).min)
    assert(foldedDs === folded.map(g => math.round(g._2 * 10)).sum)
  }

  test("no sf key for a directory whose name states no scale factor") {
    val (line, _, _) = Bench.metricLine(results.take(3), "/tmp/graft_docs10x_dir")
    val json = parse(line)
    assert(fields(json) === Seq("metric", "value", "unit", "queries"))
    assert(fields(json.get("queries")).size === 3)
  }

  test("sf comes from an sf<number> basename, as a valid JSON number") {
    assert(Bench.sfOf("/data/sf0.1") === Some("0.1"))
    assert(Bench.sfOf("sf10") === Some("10"))
    assert(Bench.sfOf("/x/sf01") === None)
    assert(Bench.sfOf("/x/sf0.1_big") === None)
    assert(Bench.sfOf("/tmp/graft_docs10x_dir") === None)
  }
}
