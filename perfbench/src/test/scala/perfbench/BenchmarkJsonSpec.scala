package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The metric names and units the benchmark prints are the ones
  * BENCHMARK.json, at the root of the checkout, declares. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private lazy val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match BENCHMARK.json") {
    assert(declared("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(declared("per_layer") == Main.PerLayer)
  }

  test("workloads match BENCHMARK.json") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names == Main.Workloads)
  }
}
