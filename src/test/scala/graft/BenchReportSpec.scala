package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench stdout protocol: a reader of only the last 2000 chars of
  * stdout gets whole per-key chunks and the summary, and `bench.json`
  * keeps its two lines. */
class BenchReportSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** 260 keys of 10 to 39 chars, as the full registry has. */
  private val results = (0 until 260).map { i =>
    (s"key_${i}_" + "x" * (i % 30)) -> Bench.Meas(sec = 100.0 + i * 1.25, gcSec = 0.5,
      leakedRdds = i % 2, setupSec = if (i % 3 == 0) 2.5 else 0.0)
  }

  private val (json, stdout) =
    Bench.reportLines(results, Seq("key_7_"), "/data/sf0.1", fork = true, concurrency = 4, pinned = true)

  test("the last 2000 stdout chars parse into whole bench_part chunks and the summary") {
    val tail = stdout.mkString("", "\n", "\n").takeRight(2000)
    // the first line of the window may be cut; every later one is whole
    val whole = tail.split("\n").toSeq.drop(1).map(mapper.readTree)
    val summary = whole.last
    assert(summary.get("metric").asText === "total")
    assert(summary.get("n_keys").asInt === 260)
    assert(summary.get("n_parts").asInt === stdout.size - 2)
    val parts = whole.init.filter(_.get("metric").asText == "bench_part")
    assert(parts.nonEmpty)
    assert(parts.forall(_.get("queries").size > 0))
  }

  test("the bench_part chunks reassemble every key; the full map prints first as total_full") {
    val lines = stdout.map(mapper.readTree)
    assert(lines.head.get("metric").asText === "total_full")
    assert(lines.head.get("queries").size === 260)
    val parts = lines.filter(_.get("metric").asText == "bench_part")
    assert(parts.map(_.get("n").asInt).distinct === Seq(parts.size))
    val keys = parts.flatMap(p => p.get("queries").fieldNames.asScala)
    assert(keys === results.map(_._1))
    assert(stdout.tail.forall(_.length <= 1600))
    val total: JsonNode = lines.last
    assert(math.abs(total.get("value").asDouble - results.map(_._2.sec).sum) < 1e-6)
  }

  test("bench.json keeps the meta line and the consolidated total line") {
    val Seq(meta, full) = json.split("\n").toSeq.map(mapper.readTree)
    assert(meta.get("metric").asText === "bench_meta")
    assert(meta.get("fallback").get(0).asText === "key_7_")
    assert(full.get("metric").asText === "total")
    assert(full.get("queries").size === 260)
    assert(mapper.readTree(stdout.head).get("queries") === full.get("queries"))
  }
}
