package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BENCHMARK.json declares the metrics the harness prints. */
class MetricsSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("every per-layer metric the harness prints is declared, with its unit") {
    assert(declared("per_layer") == Main.LayerMetrics)
  }

  test("the end-to-end metrics are the untraced run's") {
    assert(declared("end_to_end").map(_._1) == Seq("setup_s", "run_s", "cpu_s", "retained_heap_mb"))
  }
}
