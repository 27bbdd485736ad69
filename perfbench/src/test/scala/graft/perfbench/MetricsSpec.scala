package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The metric lists the program emits must be the ones `BENCHMARK.json`
  * declares, in the same order and with the same units. */
class MetricsSpec extends AnyFunSuite {

  private lazy val bench = {
    val f = Seq("../BENCHMARK.json", "BENCHMARK.json").map(new java.io.File(_)).find(_.exists)
      .getOrElse(fail("BENCHMARK.json not found beside or above the working directory"))
    new ObjectMapper().readTree(f)
  }

  private def declared(key: String, fields: String*): Seq[Seq[String]] =
    bench.get(key).elements().asScala.map(m => fields.map(m.get(_).asText())).toSeq

  test("end-to-end metrics match BENCHMARK.json") {
    assert(Main.EndToEnd.map { case (n, u) => Seq(n, u) } === declared("end_to_end", "name", "unit"))
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(Layers.Metrics.map { case (n, u, b) => Seq(n, u, b) } ===
      declared("per_layer", "name", "unit", "better"))
  }

  test("workloads match BENCHMARK.json") {
    assert(Main.Workloads.keySet === declared("workloads", "name").map(_.head).toSet)
  }

  test("every metric name is valid and used once") {
    val names = Main.EndToEnd.map(_._1) ++ Layers.Metrics.map(_._1)
    names.foreach(n => assert(Stats.validName(n), n))
    assert(names.distinct.size === names.size)
  }
}
