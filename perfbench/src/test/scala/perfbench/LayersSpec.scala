package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  test("BENCHMARK.json lists exactly the per-layer metrics a traced run reports") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val listed = (0 until json.get("per_layer").size).map { i =>
      val m = json.get("per_layer").get(i)
      m.get("name").asText -> m.get("unit").asText
    }
    assert(listed == Layers.names)
  }

  test("cell families: bucket cells and the fused block job are blocks") {
    assert(Layers.cellOf("bucket=3") == "blocks")
    assert(Layers.cellOf("blocks (fused)") == "blocks")
    assert(Layers.cellOf("dict0") == "dict0")
  }

  test("covered time is the union of intervals clipped to the span") {
    assert(Tracer.coveredNs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    assert(Tracer.coveredNs(Nil, 0L, 10L) == 0L)
  }
}
