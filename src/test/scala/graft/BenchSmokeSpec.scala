package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.StreamReadFeature
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` end to end, as the benchmark driver runs it: through
  * `tools/run.sh` in a process of its own (Bench stops its session,
  * which would stop the suites' shared one), over the smallest testdata
  * and three gates. The result is the JSON object on the last line of
  * the last 2000 characters of its output, holding only the contract
  * keys.
  */
class BenchSmokeSpec extends AnyFunSuite {

  private val gates = Seq("pipe_curate", "text_lang_id", "text_quality")

  test("Bench prints one contract line that parses from the output's last 2000 chars") {
    // Bench writes its telemetry into the working directory, the repo
    // root: put the committed file back afterwards
    val telemetry = Paths.get("bench_telemetry.json")
    val prior = if (Files.exists(telemetry)) Some(Files.readAllBytes(telemetry)) else None
    val errLog = SharedSpark.tempFile("bench-smoke", ".err").toFile
    val pb = new ProcessBuilder("tools/run.sh", "Bench")
      .redirectError(errLog)
    pb.environment().putAll(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.001",
      "SPARK_GRAFT_ONLY" -> gates.mkString(","),
      "SPARK_GRAFT_CPUS" -> "2",
      "SPARK_DRIVER_MEM" -> "2g").asJava)
    val (out, exit) = try {
      val p = pb.start()
      p.getOutputStream.close()
      val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(p.waitFor(10, TimeUnit.MINUTES), "Bench did not exit")
      (out, p.exitValue())
    } finally prior.foreach(Files.write(telemetry, _))
    def stderrTail = {
      val e = new String(Files.readAllBytes(errLog.toPath), StandardCharsets.UTF_8)
      e.takeRight(3000)
    }
    assert(exit == 0, s"Bench exited $exit:\n$stderrTail")

    val line = out.takeRight(2000).split("\n").filter(_.trim.nonEmpty).lastOption
      .getOrElse(fail(s"no output line:\n$stderrTail"))
    val json = JsonMapper.builder()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
      .build().readTree(line)
    assert(json.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "queries", "sf"),
      s"not the contract keys: $line")
    assert(json.get("metric").asText == "total" && json.get("unit").asText == "sec")
    assert(json.get("sf").isNumber && json.get("sf").asDouble == 0.001)
    val queries = json.get("queries")
    assert(queries.fieldNames().asScala.toSeq.sorted == gates,
      s"every selected gate, and no failed one, on the line: $line\n$stderrTail")
    val walls = gates.map(queries.get(_).asDouble)
    assert(walls.forall(_ >= 0))
    // every figure is rounded to 0.1 s on its own
    assert(math.abs(json.get("value").asDouble - walls.sum) <= 0.05 * (gates.size + 1) + 1e-9, line)
  }
}
