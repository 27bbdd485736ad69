package graft.zorder

/**
 * Z-order (Morton) codec on a single 64-bit key: two non-negative 32-bit
 * coordinates interleaved bitwise, x in the odd (higher) positions, y in
 * the even positions, MSB-first — so the most significant bit pair of the
 * key is (x31, y31).
 *
 * Semantics match the reference codec (Tiny-MD-HBase
 * `src/main/java/tiny/mdhbase/Utils.java:32-82` — `bitwiseZip`/`makeGap`/
 * `bitwiseUnzip`/`elimGap`) re-expressed on one `Long` instead of a
 * `byte[8]`: the reference's byte array compares unsigned-lexicographically,
 * which coincides with signed `Long` ordering because coordinates are
 * non-negative 31-bit values (`Point.java:30-31`), so bit 63 (= x31) is
 * always 0. `ZOrderSpec` pins this down with property tests.
 *
 * The mask-ladder bit-spread is the classic public-domain Morton trick
 * (Stanford bit-twiddling hacks; also in the reference at
 * `Utils.java:49-59` for the 16→32 case).
 */
object ZOrder extends ZCodec {

  val dims = 2
  val bits = 31

  def key(coords: Seq[Int]): Long = zorder(coords(0), coords(1))

  def coord(z: Long, dim: Int): Int = elimGap(z >>> (1 - dim))

  /** Spread the 32 bits of `v` onto the even bit positions (0,2,...,62). */
  def makeGap(v: Int): Long = {
    var x = v.toLong & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8))  & 0x00FF00FF00FF00FFL
    x = (x | (x << 4))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  /** Inverse of [[makeGap]]: collect the even bit positions into 32 bits. */
  def elimGap(z: Long): Int = {
    var x = z & 0x5555555555555555L
    x = (x | (x >>> 1))  & 0x3333333333333333L
    x = (x | (x >>> 2))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4))  & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8))  & 0x0000FFFF0000FFFFL
    x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
    x.toInt
  }

  /** Morton key: interleave of (x, y), x in the higher bit of each pair. */
  def zorder(x: Int, y: Int): Long = (makeGap(x) << 1) | makeGap(y)

  /** Inverse of [[zorder]]. */
  def unzorder(z: Long): (Int, Int) = (elimGap(z >>> 1), elimGap(z))

  /** Left-aligned bitmask of `len` ones (len in [0, 64]).
    * Reference: `Utils.java:107-120` (`makeMask`). */
  def makeMask(len: Int): Long = {
    require(len >= 0 && len <= 64, s"mask length out of range: $len")
    if (len == 0) 0L else -1L << (64 - len)
  }

  /** Set bit at MSB-first position `pos` (0 = bit 63).
    * Reference: `Utils.java:148-159` (`makeBit`) — derives the upper
    * sibling child key on a bucket split. */
  def makeBit(key: Long, pos: Int): Long = {
    require(pos >= 0 && pos < 64, s"bit position out of range: $pos")
    key | (1L << (63 - pos))
  }

  /** Minimum z-key of the bucket named by (key, prefixLen): don't-care
    * suffix forced to zeros. Reference: `Index.java:124-129`. */
  def bucketMin(key: Long, prefixLen: Int): Long = key & makeMask(prefixLen)

  /** Maximum z-key of the bucket: don't-care suffix forced to ones.
    * Reference: `Index.java:130-133`. */
  def bucketMax(key: Long, prefixLen: Int): Long =
    (key & makeMask(prefixLen)) | ~makeMask(prefixLen)

  /** Render a bucket name as its binary prefix plus `*` wildcards, e.g.
    * prefixLen=3 of key 0b011... → `"011*****..."` (64 chars total).
    * Reference: `Utils.java:161-182` (`toString(key, pl)`). */
  def bucketName(key: Long, prefixLen: Int): String = {
    val bits = new StringBuilder(64)
    var i = 0
    while (i < prefixLen) { bits.append((key >>> (63 - i)) & 1L); i += 1 }
    while (i < 64) { bits.append('*'); i += 1 }
    bits.toString
  }
}

/**
 * A Morton codec: `dims` non-negative coordinates of `bits` bits each,
 * interleaved MSB-first into the low `dims * bits` bits of a key. Every
 * key of in-domain coordinates therefore starts with the all-zero
 * prefix of length [[rootPrefix]], the cell holding the whole domain
 * `[0, maxCoord]^dims`; a prefix of `rootPrefix + dims * k` bits fixes
 * the top k bits of every coordinate (MD-HBase's quad-tree buckets,
 * `Index.java:124-134`, in any number of dimensions).
 * [[ZRanges.decompose]] works on this contract alone.
 */
trait ZCodec {
  def dims: Int
  def bits: Int

  /** The key of `coords` (one per dimension, each in `[0, maxCoord]`). */
  def key(coords: Seq[Int]): Long

  /** Coordinate `dim` of `key` (inverse of [[key]] per dimension),
    * dimension 0 holding the highest bit of each interleaved group. */
  def coord(key: Long, dim: Int): Int

  final def maxCoord: Int = ((1L << bits) - 1).toInt

  final def rootPrefix: Int = 64 - dims * bits

  /** The box of the cell named by (key, prefixLen): the coordinates of
    * its minimum and maximum keys. Defined for `prefixLen >= rootPrefix`;
    * a shorter prefix names z-space whose coordinates overflow `bits`
    * (MD-HBase's bootstrap bucket starts at the root prefix too,
    * `Index.java:96-99`). */
  final def cellBox(key: Long, prefixLen: Int): Seq[IntRange] = {
    val (lo, hi) = (ZOrder.bucketMin(key, prefixLen), ZOrder.bucketMax(key, prefixLen))
    (0 until dims).map(d => IntRange(coord(lo, d), coord(hi, d)))
  }
}

/**
 * Closed (inclusive-both-ends) integer interval with the geometry helpers
 * the query planner needs. Reference: `Range.java:28-64` (`include`,
 * `intersect`, `distanceFrom`, `farthestFrom`).
 */
final case class IntRange(min: Int, max: Int) {
  require(min <= max, s"empty range: [$min, $max]")

  def include(v: Int): Boolean = min <= v && v <= max

  def intersect(that: IntRange): Boolean = min <= that.max && that.min <= max

  /** Distance from `v` to the nearest point of the interval (0 if inside). */
  def distanceFrom(v: Int): Long =
    if (v < min) min.toLong - v else if (v > max) v.toLong - max else 0L

  /** Distance from `v` to the farthest point of the interval. */
  def farthestFrom(v: Int): Long =
    math.max(math.abs(v.toLong - min), math.abs(v.toLong - max))
}
