package graft.perfbench

import java.util.SplittableRandom

/**
 * Seeded input generators. Every value is a pure function of
 * `(seed, stream, index)`, so a Spark task can regenerate its slice of
 * a table while the benchmark regenerates the same rows in memory for
 * the brute-force oracles, and the same seed always gives the same bytes.
 */
object Gen {

  /** splitmix64 finaliser over a combined pair. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), index))

  // streams: one per kind of input, so changing one table's size never
  // shifts another table's values
  private val SCentres2 = 1L; private val SPoints2 = 2L
  private val SCentres3 = 3L; private val SPoints3 = 4L
  private val SBatch = 5L; private val SDoc = 6L; private val SIncoming = 7L
  private val SVec = 8L; private val SVecCentres = 9L

  /** Column arrays of a point table; `t` is empty for 2-D tables. */
  final case class Points(ids: Array[Long], xs: Array[Int], ys: Array[Int],
                          ts: Array[Int] = Array.emptyIntArray) {
    def size: Int = ids.length
    def ++(o: Points): Points =
      Points(ids ++ o.ids, xs ++ o.xs, ys ++ o.ys, ts ++ o.ts)
    /** The rows whose index passes `keep`, in order. */
    def filterIndex(keep: Int => Boolean): Points = {
      val idx = ids.indices.filter(keep).toArray
      Points(idx.map(ids), idx.map(xs), idx.map(ys), if (ts.isEmpty) ts else idx.map(ts))
    }
  }

  private def clamp(v: Double, domain: Int): Int =
    math.max(0L, math.min(domain - 1L, math.round(v))).toInt

  /** Cluster centres: `n` points of `dims` coordinates in `[0, domain)`. */
  def centres(seed: Long, stream: Long, n: Int, dims: Int, domain: Int): Array[Array[Int]] = {
    val r = rng(seed, stream, 0)
    Array.fill(n, dims)(r.nextInt(domain))
  }

  def centres2(seed: Long, n: Int, domain: Int): Array[Array[Int]] =
    centres(seed, SCentres2, n, 2, domain)
  def centres3(seed: Long, n: Int, domain: Int): Array[Array[Int]] =
    centres(seed, SCentres3, n, 3, domain)

  /** One coordinate tuple: uniform with probability 1/2, otherwise
    * Gaussian (sigma = domain / 256) around a random centre. */
  private def coords(r: SplittableRandom, cs: Array[Array[Int]], domain: Int): Array[Int] =
    if (r.nextBoolean()) Array.fill(cs.head.length)(r.nextInt(domain))
    else {
      val c = cs(r.nextInt(cs.length))
      val sigma = domain / 256.0
      c.map(v => clamp(v + r.nextGaussian() * sigma, domain))
    }

  /** Slice `slice` (rows `slice * perSlice` until the next slice) of the
    * 2-D point table; half uniform, half in `clusters` Gaussian clusters. */
  def points2Slice(seed: Long, slice: Int, perSlice: Int, domain: Int,
                   clusters: Int): Points = {
    val cs = centres(seed, SCentres2, clusters, 2, domain)
    val r = rng(seed, SPoints2, slice)
    val ids = Array.tabulate(perSlice)(i => slice.toLong * perSlice + i)
    val xy = Array.fill(perSlice)(coords(r, cs, domain))
    Points(ids, xy.map(_(0)), xy.map(_(1)))
  }

  /** Slice of the 3-D (x, y, t) point table, same mixture as 2-D. */
  def points3Slice(seed: Long, slice: Int, perSlice: Int, domain: Int,
                   clusters: Int): Points = {
    val cs = centres(seed, SCentres3, clusters, 3, domain)
    val r = rng(seed, SPoints3, slice)
    val ids = Array.tabulate(perSlice)(i => slice.toLong * perSlice + i)
    val p = Array.fill(perSlice)(coords(r, cs, domain))
    Points(ids, p.map(_(0)), p.map(_(1)), p.map(_(2)))
  }

  def concat(slices: Seq[Points]): Points = slices.reduce(_ ++ _)

  /** Ingest batch `b` (1-based): `rows` puts with ids from
    * `idBase + (b - 1) * rows`; its `put_seq` is `b`. Clustered like the
    * 2-D table. */
  def ingestBatch(seed: Long, b: Int, rows: Int, domain: Int, clusters: Int,
                  idBase: Long = 0L): Points = {
    val cs = centres(seed, SCentres2, clusters, 2, domain)
    val r = rng(seed, SBatch, b)
    val ids = Array.tabulate(rows)(i => idBase + (b - 1).toLong * rows + i)
    val xy = Array.fill(rows)(coords(r, cs, domain))
    Points(ids, xy.map(_(0)), xy.map(_(1)))
  }

  /** Zipf(s) sampler over ranks `0 until n` by inverse CDF. */
  final class Zipf(n: Int, s: Double = 1.0) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def word(rank: Int): String = "w" + Integer.toString(rank, 36)

  /** A fresh document: `words` Zipf-distributed words. */
  def docText(seed: Long, docId: Long, words: Int, zipf: Zipf): String = {
    val r = rng(seed, SDoc, docId)
    Iterator.fill(words)(word(zipf.sample(r))).mkString(" ")
  }

  /** The text of incoming document `docId`, given the texts it may
    * copy: 10% exact copies of a random earlier text, 10% near copies
    * (two words replaced), the rest fresh. */
  def incomingText(seed: Long, docId: Long, words: Int, zipf: Zipf,
                   earlier: IndexedSeq[String]): String = {
    val r = rng(seed, SIncoming, docId)
    val roll = r.nextInt(10)
    if (roll == 0 && earlier.nonEmpty) earlier(r.nextInt(earlier.size))
    else if (roll == 1 && earlier.nonEmpty) {
      val ws = earlier(r.nextInt(earlier.size)).split(' ')
      for (_ <- 0 until 2) ws(r.nextInt(ws.length)) = word(zipf.sample(r))
      ws.mkString(" ")
    } else docText(seed, docId, words, zipf)
  }

  /** A clustered integer embedding: one of `clusters` centres in
    * [-1000, 1000) per dimension plus uniform noise in [-50, 50]. */
  def embedding(seed: Long, id: Long, dim: Int, clusters: Int): Array[Long] = {
    val cs = rng(seed, SVecCentres, 0)
    val centreTable = Array.fill(clusters, dim)(cs.nextInt(2000) - 1000L)
    val r = rng(seed, SVec, id)
    val c = centreTable(r.nextInt(clusters))
    c.map(v => v + r.nextInt(101) - 50)
  }
}
