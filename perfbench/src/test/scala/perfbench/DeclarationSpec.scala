package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares exactly the metrics the benchmark prints. */
class DeclarationSpec extends AnyFunSuite {

  private lazy val decl =
    new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    decl.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())

  test("end-to-end metrics match, in order, with units") {
    assert(declared("end_to_end") == Main.EndToEndMetrics)
  }

  test("per-layer metrics match, in order, with units") {
    assert(declared("per_layer") == Layers.All)
  }

  test("the declared workloads are the ones the benchmark runs") {
    val names = decl.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(names == Main.WorkloadNames)
  }
}
