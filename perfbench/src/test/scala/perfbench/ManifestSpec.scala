package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (at the repository root) must name exactly the
  * per-layer metrics a traced run prints, with the same units.
  */
class ManifestSpec extends AnyFunSuite {

  private val manifest = {
    val f = java.nio.file.Paths.get("..", "BENCHMARK.json")
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
  }

  private def section(key: String): String = {
    val start = manifest.indexOf(s""""$key"""")
    manifest.substring(start, manifest.indexOf(']', start))
  }

  private def entries(key: String): Seq[(String, String)] =
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(section(key))
      .map(m => m.group(1) -> m.group(2)).toSeq

  test("per_layer lists every traced metric, in order, with its unit") {
    assert(entries("per_layer") == Layers.units)
  }

  test("Layers.complete fills bypassed layers with 0 and rejects unknown names") {
    val full = Layers.complete(Seq(Metric("gateway.requests", 3, "whatever")))
    assert(full.map(m => m.name -> m.unit) == Layers.units)
    assert(full.find(_.name == "gateway.requests").get.value == 3)
    assert(full.filterNot(_.name == "gateway.requests").forall(_.value == 0))
    assertThrows[IllegalArgumentException](Layers.complete(Seq(Metric("nope", 1, "ms"))))
  }

  test("end_to_end names the three metrics every workload prints") {
    assert(entries("end_to_end").map(_._1) == Seq("setup_s", "throughput", "p50_ms"))
  }
}
