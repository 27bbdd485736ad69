package graft.zorder

import scala.io.Source

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[ZRanges.decompose]] against its guarantees on seeded random boxes
  * in 2-D and 3-D, and against recorded golden covers. */
class ZRangesPropertySpec extends AnyFunSuite {

  private def check(cases: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(2026L)), p)
    assert(res.passed, res.status.toString)
  }

  private def bound(codec: ZCodec): Gen[Int] = Gen.frequency(
    4 -> Gen.chooseNum(0, codec.maxCoord),
    2 -> Gen.choose(0, 64),
    1 -> Gen.oneOf(0, 1, codec.maxCoord - 1, codec.maxCoord))

  private def range(codec: ZCodec): Gen[IntRange] = Gen.frequency(
    5 -> Gen.zip(bound(codec), bound(codec)).map { case (a, b) => IntRange(a min b, a max b) },
    1 -> bound(codec).map(v => IntRange(v, v)), // 1-wide slab
    1 -> bound(codec).map(v => IntRange(v, codec.maxCoord)),
    1 -> Gen.const(IntRange(0, codec.maxCoord)))

  /** Boxes with their sampled points: corners plus random members. */
  private def boxes(codec: ZCodec): Gen[(Seq[IntRange], Int, Seq[Seq[Int]])] = for {
    box <- Gen.frequency(
      8 -> Gen.listOfN(codec.dims, range(codec)),
      1 -> Gen.listOfN(codec.dims, bound(codec)).map(_.map(v => IntRange(v, v))), // one cell
      1 -> Gen.const(Seq.fill(codec.dims)(IntRange(0, codec.maxCoord))))
    budget <- Gen.choose(1, 64)
    members <- Gen.listOfN(40, box.foldRight(Gen.const(List.empty[Int])) { (r, rest) =>
      for (v <- Gen.chooseNum(r.min, r.max); vs <- rest) yield v :: vs
    })
  } yield {
    val corners = box.foldRight(Seq(List.empty[Int])) { (r, rest) =>
      for (v <- Seq(r.min, r.max); vs <- rest) yield v :: vs
    }
    (box, budget, corners ++ members)
  }

  private def soundness(codec: ZCodec): Unit =
    check(150)(Prop.forAllNoShrink(boxes(codec)) { case (box, budget, points) =>
      val ranges = ZRanges.decompose(box, codec, budget)
      assert(ranges.nonEmpty && ranges.size <= budget, s"${ranges.size} ranges, budget $budget")
      ranges.foreach { case (lo, hi) => assert(lo <= hi) }
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) => assert(hi1 + 1 < lo2, s"$ranges not sorted, disjoint, non-adjacent")
        case _ =>
      }
      assert(ranges.head._1 >= codec.key(box.map(_.min)) && ranges.last._2 <= codec.key(box.map(_.max)))
      points.foreach { p =>
        val z = codec.key(p)
        assert(ranges.exists { case (lo, hi) => lo <= z && z <= hi }, s"$p uncovered in $box at $budget")
      }
      true
    })

  test("decomposition soundness property: 2-D boxes, budgets 1 to 64") {
    soundness(ZOrder)
  }

  test("decomposition soundness property: 3-D boxes, budgets 1 to 64") {
    soundness(ZOrder3)
  }

  test("a box spanning almost a whole dimension: the walk stays within its visit bound, the cover sound") {
    val rnd = new scala.util.Random(16)
    for ((box, budget) <- Seq(
        (Seq(IntRange(1, Int.MaxValue), IntRange(42, 1909981080)), 28),
        (Seq(IntRange(0, Int.MaxValue), IntRange(22, 911700142)), 25))) {
      val (ranges, visited) = ZRanges.walk(box, ZOrder, budget)
      assert(visited <= (ZRanges.VisitsPerRange + 1) * budget, s"$visited cells visited for $box")
      assert(ranges.nonEmpty && ranges.size <= budget)
      val points = Seq.fill(2000)(box.map(r => r.min + (rnd.nextDouble() * (r.max.toLong - r.min)).toInt)) ++
        Seq(box.map(_.min), box.map(_.max), Seq(box(0).min, box(1).max), Seq(box(0).max, box(1).min))
      points.foreach { p =>
        val z = ZOrder.key(p)
        assert(ranges.exists { case (lo, hi) => lo <= z && z <= hi }, s"$p uncovered in $box at $budget")
      }
    }
  }

  test("golden covers: fixed 2-D and 3-D boxes at budgets 1, 4, 16, 64 decompose as recorded") {
    val src = Source.fromResource("graft/zorder/zranges-golden.txt")
    val lines = try src.getLines().filterNot(_.startsWith("#")).toList finally src.close()
    assert(lines.size === 44)
    lines.foreach { line =>
      val Array(budget, bounds, intervals) = line.split('|').map(_.trim)
      val box = bounds.split(' ').map(_.toInt).grouped(2).map(b => IntRange(b(0), b(1))).toSeq
      val codec = if (box.size == 2) ZOrder else ZOrder3
      val expected = intervals.split(' ').toSeq.map { iv =>
        val Array(lo, hi) = iv.split(':'); (lo.toLong, hi.toLong)
      }
      assert(ZRanges.decompose(box, codec, budget.toInt) === expected, line)
    }
  }
}
