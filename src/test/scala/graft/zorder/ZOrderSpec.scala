package graft.zorder

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/**
 * Ports the reference's five codec vectors
 * (`/root/reference/src/test/java/tiny/mdhbase/UtilsTest.java:29-70`,
 * re-expressed on a single Long instead of byte[8]) and adds the
 * property-law suite from FIXTURES.md family A.
 */
class ZOrderSpec extends AnyFunSuite {
  import ZOrder._

  val coord: Gen[Int] = Gen.oneOf(
    Gen.chooseNum(0, Int.MaxValue),
    Gen.oneOf(0, 1, 2, 1023, 1024, Int.MaxValue, Int.MaxValue - 1))

  /** Deterministic ScalaCheck runner (seed fixed, 500 cases). */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    runProp(Prop.forAll(ga, gb)((a, b) => { f(a, b); true }))
  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    runProp(Prop.forAll(ga, gb, gc)((a, b, c) => { f(a, b, c); true }))
  private def forAll[A, B, C, D](ga: Gen[A], gb: Gen[B], gc: Gen[C], gd: Gen[D])(f: (A, B, C, D) => Unit): Unit =
    runProp(Prop.forAll(ga, gb, gc, gd)((a, b, c, d) => { f(a, b, c, d); true }))
  private def runProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500)
        .withInitialSeed(Seed(42L)), p)
    assert(res.passed, res.status.toString)
  }

  // --- reference vectors (UtilsTest.java) ---

  test("zip vector: zip(0x0000FFFF, 0x00FF00FF) = 0x00005555AAAAFFFF") {
    assert(zorder(0x0000FFFF, 0x00FF00FF) === 0x00005555AAAAFFFFL)
  }

  test("unzip round-trips the zip vector") {
    assert(unzorder(zorder(0x0000FFFF, 0x00FF00FF)) === (0x0000FFFF, 0x00FF00FF))
  }

  test("makeGap spreads low half to even positions") {
    assert(makeGap(0x0000FFFF) === 0x0000000055555555L)
  }

  test("makeGap spreads high half to even positions") {
    assert(makeGap(0xFFFF0000) === 0x5555555500000000L)
  }

  test("makeMask at byte boundaries 1/8/9") {
    assert(makeMask(1) === 0x8000000000000000L)
    assert(makeMask(8) === 0xFF00000000000000L)
    assert(makeMask(9) === 0xFF80000000000000L)
    assert(makeMask(0) === 0L)
    assert(makeMask(64) === -1L)
  }

  test("makeBit sets the MSB-first position (sibling-key derivation)") {
    assert(makeBit(0L, 0) === 0x8000000000000000L)
    assert(makeBit(0L, 63) === 1L)
    assert(makeBit(0x4000000000000000L, 2) === 0x6000000000000000L)
  }

  test("bucketName renders binary prefix + wildcards") {
    assert(bucketName(0x6000000000000000L, 3) === "011" + "*" * 61)
    assert(bucketName(0L, 2) === "00" + "*" * 62)
    assert(bucketName(-1L, 64) === "1" * 64)
  }

  // --- property laws ---

  test("law: unzorder(zorder(x, y)) = (x, y) on the full domain") {
    forAll(coord, coord) { (x, y) => assert(unzorder(zorder(x, y)) === (x, y)) }
  }

  test("law: zorder is non-negative for non-negative coords (signed Long order = unsigned byte order)") {
    forAll(coord, coord) { (x, y) => assert(zorder(x, y) >= 0L) }
  }

  test("law: dominance monotonicity — (x1<=x2, y1<=y2) => z1 <= z2") {
    forAll(coord, coord, coord, coord) { (a, b, c, d) =>
      val (x1, x2) = (math.min(a, c), math.max(a, c))
      val (y1, y2) = (math.min(b, d), math.max(b, d))
      assert(zorder(x1, y1) <= zorder(x2, y2))
    }
  }

  test("law: prefix containment <=> rectangle containment (toRanges law)") {
    // pl >= 2 keeps buckets inside the valid 31-bit coordinate domain —
    // the reference's invariant too (bootstrap at prefix length 2,
    // Index.java:96-99)
    forAll(coord, coord, Gen.chooseNum(2, 64)) { (x, y, pl) =>
      val z = zorder(x, y)
      val Seq(rx, ry) = cellBox(z, pl)
      // the point that produced the key lies inside its bucket's rectangle
      assert(rx.include(x) && ry.include(y))
      // bucket interval bounds are consistent
      assert(bucketMin(z, pl) <= z && z <= bucketMax(z, pl))
      // corners of the rectangle map back onto the interval bounds
      assert(zorder(rx.min, ry.min) === bucketMin(z, pl))
      assert(zorder(rx.max, ry.max) === bucketMax(z, pl))
    }
  }

  test("law: bucket siblings partition the parent") {
    forAll(coord, coord, Gen.chooseNum(0, 63)) { (x, y, pl) =>
      val parent = bucketMin(zorder(x, y), pl)
      val lower = parent                      // child 0: same key, pl+1
      val upper = makeBit(parent, pl)         // child 1: bit pl set
      assert(bucketMin(lower, pl + 1) === bucketMin(parent, pl))
      assert(bucketMax(upper, pl + 1) === bucketMax(parent, pl))
      assert(bucketMax(lower, pl + 1) + 1 === bucketMin(upper, pl + 1))
    }
  }

  test("IntRange geometry: include / intersect / distances") {
    val r = IntRange(10, 20)
    assert(r.include(10) && r.include(20) && !r.include(9) && !r.include(21))
    assert(r.intersect(IntRange(20, 30)) && r.intersect(IntRange(0, 10)))
    assert(!r.intersect(IntRange(21, 30)) && !r.intersect(IntRange(0, 9)))
    assert(r.distanceFrom(15) === 0L)
    assert(r.distanceFrom(5) === 5L)
    assert(r.distanceFrom(25) === 5L)
    assert(r.farthestFrom(0) === 20L)
    assert(r.farthestFrom(30) === 20L)
    assert(r.farthestFrom(16) === 6L)
  }
}
