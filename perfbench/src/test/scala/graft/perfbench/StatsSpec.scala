package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.samplesBeyond(19, 0.5) === 9)
    assert(Stats.percentile(xs, 0.5).isEmpty)
    val ys = (1 to 20).map(_.toDouble)
    assert(Stats.samplesBeyond(20, 0.5) === 10)
    assert(Stats.percentile(ys, 0.5) === Some(10.0))
    assert(Stats.percentile(ys, 0.9).isEmpty)
    val zs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(zs, 0.9) === Some(90.0))
    assert(Stats.percentile(zs, 0.95).isEmpty)
  }

  test("the percentile does not depend on sample order") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0) ++ (6 to 30).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) === Stats.percentile(xs.sorted, 0.5))
    assert(Stats.percentile(xs.reverse, 0.5) === Some(15.0))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0, 4.0)) - 4.0) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.geomean(Nil))
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("metric names: letters, digits, underscore, dot and dash, led by a letter or digit") {
    Seq("setup_s", "read_p50_ms", "PointStore.knn_probe_ms", "scan.rows_read_per_row_returned",
      "spark.task_cpu_ms", "a-b", "9lives").foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "a b", "a/b", "ms%", "x" * 65, "é").foreach(n =>
      assert(!Stats.validName(n), n))
  }

  test("legal prefix: an answer must equal some committed prefix in the window") {
    val cumulative = Vector(0L, 3L, 7L, 7L, 12L) // answer over the first b batches
    assert(Stats.legalPrefix(7L, 1, 3)(cumulative) === Some(2))
    assert(Stats.legalPrefix(12L, 0, 4)(cumulative) === Some(4))
    // a count between two prefixes (a half-published batch) is illegal
    assert(Stats.legalPrefix(9L, 0, 4)(cumulative) === None)
    // a legal value outside the window the read overlapped is illegal
    assert(Stats.legalPrefix(3L, 2, 4)(cumulative) === None)
    assert(Stats.legalPrefix(0L, -1, 0)(cumulative) === Some(0))
  }
}
