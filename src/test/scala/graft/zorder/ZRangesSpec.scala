package graft.zorder

import org.scalatest.funsuite.AnyFunSuite

class ZRangesSpec extends AnyFunSuite {

  private def checkRect(rx: IntRange, ry: IntRange, maxRanges: Int): Unit = {
    val ranges = ZRanges.decompose(Seq(rx, ry), ZOrder, maxRanges)
    assert(ranges.nonEmpty)
    assert(ranges.size <= maxRanges, s"${ranges.size} > $maxRanges")
    // sorted, disjoint, non-adjacent
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 + 1 < lo2)
      case _ =>
    }
    // within the loose interval
    val loose = (ZOrder.zorder(rx.min, ry.min), ZOrder.zorder(rx.max, ry.max))
    assert(ranges.head._1 >= loose._1 && ranges.last._2 <= loose._2)
  }

  test("soundness: every in-rectangle point's zkey is covered (exhaustive small domain)") {
    val rects = Seq(
      (IntRange(3, 17), IntRange(5, 25)),
      (IntRange(0, 31), IntRange(0, 31)),
      (IntRange(7, 7), IntRange(0, 30)),
      (IntRange(12, 19), IntRange(12, 19)))
    for ((rx, ry) <- rects; maxRanges <- Seq(1, 4, 16, 64)) {
      val ranges = ZRanges.decompose(Seq(rx, ry), ZOrder, maxRanges)
      checkRect(rx, ry, maxRanges)
      for (x <- rx.min to rx.max; y <- ry.min to ry.max) {
        val z = ZOrder.zorder(x, y)
        assert(ranges.exists { case (lo, hi) => lo <= z && z <= hi },
          s"($x,$y) uncovered with maxRanges=$maxRanges")
      }
    }
  }

  test("tightness: more ranges => no more covered volume, and never worse than loose") {
    val rx = IntRange(100, 300); val ry = IntRange(700, 750)
    def volume(rs: Seq[(Long, Long)]): BigInt =
      rs.map { case (lo, hi) => BigInt(hi) - BigInt(lo) + 1 }.sum
    val loose = volume(Seq((ZOrder.zorder(rx.min, ry.min), ZOrder.zorder(rx.max, ry.max))))
    val v1 = volume(ZRanges.decompose(Seq(rx, ry), ZOrder, 1))
    val v16 = volume(ZRanges.decompose(Seq(rx, ry), ZOrder, 16))
    val v256 = volume(ZRanges.decompose(Seq(rx, ry), ZOrder, 256))
    assert(v1 <= loose)
    assert(v16 <= v1)
    assert(v256 <= v16)
    // decomposition should be a drastic improvement on this rectangle
    assert(v16 * 4 < loose, s"v16=$v16 loose=$loose")
  }

  test("soundness on random large-domain rectangles (sampled)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val x1 = rnd.nextInt(Int.MaxValue); val x2 = rnd.nextInt(Int.MaxValue)
      val y1 = rnd.nextInt(Int.MaxValue); val y2 = rnd.nextInt(Int.MaxValue)
      val rx = IntRange(math.min(x1, x2), math.max(x1, x2))
      val ry = IntRange(math.min(y1, y2), math.max(y1, y2))
      val ranges = ZRanges.decompose(Seq(rx, ry), ZOrder, 16)
      checkRect(rx, ry, 16)
      // sample interior points
      for (_ <- 1 to 200) {
        val x = rx.min + (rnd.nextLong().abs % (rx.max.toLong - rx.min + 1)).toInt
        val y = ry.min + (rnd.nextLong().abs % (ry.max.toLong - ry.min + 1)).toInt
        val z = ZOrder.zorder(x, y)
        assert(ranges.exists { case (lo, hi) => lo <= z && z <= hi }, s"($x,$y)")
      }
    }
  }

  test("degenerate: single cell decomposes to one exact interval") {
    val z = ZOrder.zorder(12345, 67890)
    assert(ZRanges.decompose(Seq(IntRange(12345, 12345), IntRange(67890, 67890)), ZOrder, 16) ===
      Seq((z, z)))
  }
}
