package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private lazy val declared: JsonNode = new ObjectMapper().readTree(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))

  private def section(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())

  test("untraced output names exactly the end-to-end metrics BENCHMARK.json declares") {
    assert(Metrics.EndToEnd == section("end_to_end"))
  }

  test("traced output names exactly the per-layer metrics BENCHMARK.json declares") {
    assert(Metrics.PerLayer == section("per_layer"))
  }

  test("the workloads are the ones BENCHMARK.json declares") {
    assert(Workload.All.map(_.name) ==
      declared.get("workloads").elements().asScala.toSeq.map(_.get("name").asText()))
  }

  test("the result line carries every declared metric and rejects anything else") {
    val values = Metrics.EndToEnd.map(_._1 -> 1.5).toMap
    val line = new ObjectMapper().readTree(
      Metrics.json(correct = true, attempted = 3, failed = 0, Metrics.EndToEnd, values))
    assert(line.fieldNames().asScala.toSeq.sorted == Seq("attempted", "correct", "failed", "metrics"))
    assert(line.get("metrics").fieldNames().asScala.toSeq == Metrics.EndToEnd.map(_._1))
    assertThrows[IllegalArgumentException](
      Metrics.json(correct = true, 1, 0, Metrics.EndToEnd, values - "setup_s"))
    assertThrows[IllegalArgumentException](
      Metrics.json(correct = true, 1, 0, Metrics.EndToEnd, values + ("extra" -> 1.0)))
  }
}
