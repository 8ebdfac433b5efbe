package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json must only name workloads and metrics the harness produces,
  * with the units the harness reports. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  test("every gated workload is one the harness runs") {
    val names = bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(Main.Workloads.contains))
  }

  test("every per-layer metric is produced with the same unit") {
    val known = Main.PerLayer.toMap
    bench.get("per_layer").elements().asScala.foreach { m =>
      val n = m.get("name").asText
      assert(known.get(n).contains(m.get("unit").asText), n)
    }
  }

  test("the end-to-end metrics are the harness's generic ones") {
    val names = bench.get("end_to_end").elements().asScala.map(_.get("name").asText).toSet
    assert(names == Set("setup_s", "latency_p50_s", "ops_per_s", "cpu_s_per_op", "heap_live_mb"))
  }
}
