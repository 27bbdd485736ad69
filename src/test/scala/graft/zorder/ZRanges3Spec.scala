package graft.zorder

import org.scalatest.funsuite.AnyFunSuite

/** [[ZRanges]] laws lifted to the octree decomposition. */
class ZRanges3Spec extends AnyFunSuite {

  private def checkBox(rx: IntRange, ry: IntRange, rt: IntRange, maxRanges: Int): Unit = {
    val ranges = ZRanges.decompose(Seq(rx, ry, rt), ZOrder3, maxRanges)
    assert(ranges.nonEmpty)
    assert(ranges.size <= maxRanges, s"${ranges.size} > $maxRanges")
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 + 1 < lo2)
      case _ =>
    }
    val loose = (ZOrder3.zorder3(rx.min, ry.min, rt.min),
      ZOrder3.zorder3(rx.max, ry.max, rt.max))
    assert(ranges.head._1 >= loose._1 && ranges.last._2 <= loose._2)
  }

  test("soundness: every in-box point's z3 is covered (exhaustive small domain)") {
    val boxes = Seq(
      (IntRange(3, 17), IntRange(5, 25), IntRange(0, 10)),
      (IntRange(0, 31), IntRange(0, 31), IntRange(0, 31)),
      (IntRange(7, 7), IntRange(0, 30), IntRange(13, 14)),
      (IntRange(12, 19), IntRange(12, 19), IntRange(12, 19)))
    for ((rx, ry, rt) <- boxes; maxRanges <- Seq(1, 4, 16, 64)) {
      val ranges = ZRanges.decompose(Seq(rx, ry, rt), ZOrder3, maxRanges)
      checkBox(rx, ry, rt, maxRanges)
      for (x <- rx.min to rx.max; y <- ry.min to ry.max; t <- rt.min to rt.max) {
        val z = ZOrder3.zorder3(x, y, t)
        assert(ranges.exists { case (lo, hi) => lo <= z && z <= hi },
          s"($x,$y,$t) uncovered with maxRanges=$maxRanges")
      }
    }
  }

  test("soundness on random 21-bit boxes (sampled membership)") {
    val rnd = new scala.util.Random(42)
    val m = ZOrder3.MaxCoord
    for (_ <- 1 to 50) {
      def rng(): IntRange = {
        val a = rnd.nextInt(m + 1); val b = rnd.nextInt(m + 1)
        IntRange(math.min(a, b), math.max(a, b))
      }
      val (rx, ry, rt) = (rng(), rng(), rng())
      val ranges = ZRanges.decompose(Seq(rx, ry, rt), ZOrder3, 16)
      checkBox(rx, ry, rt, 16)
      for (_ <- 1 to 200) {
        val x = rx.min + rnd.nextInt(rx.max - rx.min + 1)
        val y = ry.min + rnd.nextInt(ry.max - ry.min + 1)
        val t = rt.min + rnd.nextInt(rt.max - rt.min + 1)
        val z = ZOrder3.zorder3(x, y, t)
        assert(ranges.exists { case (lo, hi) => lo <= z && z <= hi },
          s"($x,$y,$t) uncovered")
      }
    }
  }

  test("tightness: more ranges => no more covered volume, never worse than loose") {
    val rx = IntRange(100, 300); val ry = IntRange(700, 750); val rt = IntRange(40, 90)
    def volume(rs: Seq[(Long, Long)]): BigInt =
      rs.map { case (lo, hi) => BigInt(hi) - BigInt(lo) + 1 }.sum
    val loose = volume(Seq((ZOrder3.zorder3(rx.min, ry.min, rt.min),
      ZOrder3.zorder3(rx.max, ry.max, rt.max))))
    val v1 = volume(ZRanges.decompose(Seq(rx, ry, rt), ZOrder3, 1))
    val v16 = volume(ZRanges.decompose(Seq(rx, ry, rt), ZOrder3, 16))
    val v256 = volume(ZRanges.decompose(Seq(rx, ry, rt), ZOrder3, 256))
    assert(v1 <= loose)
    assert(v16 <= v1)
    assert(v256 <= v16)
    assert(v16 * 4 < loose, s"v16=$v16 loose=$loose")
  }
}
