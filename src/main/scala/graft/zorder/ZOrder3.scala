package graft.zorder

/**
 * 3-D Z-order (Morton) codec — the spatio-temporal generalization of
 * [[ZOrder]]: three non-negative 21-bit coordinates interleaved into a
 * 63-bit key (bit 63 stays 0, so signed `Long` ordering equals unsigned
 * key ordering, same argument as the 2-D codec). Coordinate x occupies
 * the highest bit of each triple, then y, then t — MSB-first, so a key
 * prefix of length 3k fixes the top k bits of all three coordinates
 * (the octree analog of the reference's quad-tree prefix buckets,
 * `Index.java:124-134`).
 *
 * Use case: time as a first-class pruning dimension — clustering
 * training-data events by `(x, y, time)` makes "this region, this
 * week" scans skip row groups in all three dimensions at once, where a
 * 2-D key would scan every epoch of the matching region.
 *
 * The 3-way bit spread/compress is the public-domain 21-bit Morton
 * mask ladder (shift by 32/16/8/4/2 with the `0x1249…` family of
 * masks); `ZOrder3Spec` pins it against a naive per-bit loop AND the
 * oracle re-derives keys by per-bit summation in SQL, so the ladder
 * constants are double-checked independently.
 */
object ZOrder3 extends ZCodec {

  val dims = 3
  val bits = 21

  /** Coordinates must fit in 21 bits: [0, 2^21 - 1]. */
  val MaxCoord: Int = maxCoord

  def key(coords: Seq[Int]): Long = zorder3(coords(0), coords(1), coords(2))

  def coord(z: Long, dim: Int): Int = elimGap3(z >>> (2 - dim))

  /** Spread the low 21 bits of `v` onto bit positions 0, 3, 6, …, 60. */
  def makeGap3(v: Int): Long = {
    var x = v.toLong & 0x1FFFFFL
    x = (x | (x << 32)) & 0x1F00000000FFFFL
    x = (x | (x << 16)) & 0x1F0000FF0000FFL
    x = (x | (x << 8))  & 0x100F00F00F00F00FL
    x = (x | (x << 4))  & 0x10C30C30C30C30C3L
    x = (x | (x << 2))  & 0x1249249249249249L
    x
  }

  /** Inverse of [[makeGap3]]: collect bits 0, 3, 6, … into 21 bits. */
  def elimGap3(z: Long): Int = {
    var x = z & 0x1249249249249249L
    x = (x | (x >>> 2))  & 0x10C30C30C30C30C3L
    x = (x | (x >>> 4))  & 0x100F00F00F00F00FL
    x = (x | (x >>> 8))  & 0x1F0000FF0000FFL
    x = (x | (x >>> 16)) & 0x1F00000000FFFFL
    x = (x | (x >>> 32)) & 0x1FFFFFL
    x.toInt
  }

  /** 63-bit Morton key of (x, y, t), x highest within each bit triple. */
  def zorder3(x: Int, y: Int, t: Int): Long =
    (makeGap3(x) << 2) | (makeGap3(y) << 1) | makeGap3(t)

  /** Inverse of [[zorder3]]: (x, y, t). */
  def unzorder3(z: Long): (Int, Int, Int) =
    (elimGap3(z >>> 2), elimGap3(z >>> 1), elimGap3(z))
}
