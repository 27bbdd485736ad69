package graft.zorder

import scala.collection.mutable.ListBuffer

/**
 * Budgeted decomposition of a box into disjoint z-key intervals, for any
 * [[ZCodec]] — the engine's generalization of the reference's
 * index-probe pruning (`Index.java:144-164`): instead of the single
 * loose interval `[key(mins), key(maxs)]` (whose Z-shaped gap regions
 * are false positives, pruned there by the per-bucket `intersect` test
 * at `Index.java:159`), emit up to `maxRanges` tight intervals whose
 * union still covers the box's entire z-image. The same binary prefix
 * tree serves 2-D (quad-tree, root prefix 2) and 3-D (octree, root
 * prefix 1).
 *
 * Guarantees (property-tested in `ZRangesSpec`, `ZRanges3Spec` and
 * `ZRangesPropertySpec`):
 *  - soundness: every point inside the box has its key inside some
 *    emitted interval;
 *  - intervals are sorted, disjoint and non-adjacent (maximally merged);
 *  - count ≤ maxRanges;
 *  - all intervals lie within the loose `[key(mins), key(maxs)]`.
 *
 * The budget keeps the predicate small enough to push down to Parquet
 * row-group filtering; when exhausted, a cell is emitted whole —
 * conservative (superset), never lossy. Raw coordinate predicates stay
 * in every query plan anyway (SURVEY §7.3), so false positives only
 * cost I/O.
 */
object ZRanges {

  /** The interval budget of every pushed cover ([[cover]]). */
  val MaxRanges = 16

  /**
   * The z-key intervals that cover `box` (one range per dimension), or
   * None when the box leaves the codec's domain `[0, maxCoord]` in some
   * dimension. Nothing stops a marked relation from holding such
   * coordinates: negative values interleave sign bits and values past
   * `maxCoord` wrap in the codec, so their keys fall outside any
   * decomposition, and a clamped cover would silently drop rows the raw
   * predicates keep. Pruning is optional, so such a box gets no cover
   * instead of a clamped one (SURVEY §7.3: correctness must never
   * depend on it).
   */
  def cover(box: Seq[IntRange], codec: ZCodec): Option[Seq[(Long, Long)]] =
    Option.when(box.forall(r => r.min >= 0 && r.max <= codec.maxCoord))(
      decompose(box, codec, MaxRanges))

  /** Cells the walk may visit per interval of its budget: past
    * `VisitsPerRange * maxRanges` visited cells, every remaining cell is
    * emitted whole. */
  private[zorder] val VisitsPerRange = 64

  def decompose(box: Seq[IntRange], codec: ZCodec, maxRanges: Int): Seq[(Long, Long)] =
    walk(box, codec, maxRanges)._1

  /** The decomposition and the number of cells its walk visited. */
  private[zorder] def walk(box: Seq[IntRange], codec: ZCodec, maxRanges: Int): (Seq[(Long, Long)], Int) = {
    require(maxRanges >= 1)
    require(box.size == codec.dims, s"${box.size}-D box for a ${codec.dims}-D codec")
    val (mins, maxs) = (box.map(_.min).toArray, box.map(_.max).toArray)
    /** Whether the cell's box (codec.cellBox, unrolled: this runs per
      * visited cell) lies within the box, or else meets it. */
    def cellTest(key: Long, pl: Int, within: Boolean): Boolean = {
      val (lo, hi) = (ZOrder.bucketMin(key, pl), ZOrder.bucketMax(key, pl))
      var d = 0
      var ok = true
      while (ok && d < mins.length) {
        val (a, b) = (codec.coord(lo, d), codec.coord(hi, d))
        ok = if (within) mins(d) <= a && b <= maxs(d) else a <= maxs(d) && mins(d) <= b
        d += 1
      }
      ok
    }
    def intersects(key: Long, pl: Int): Boolean = cellTest(key, pl, within = false)
    def contained(key: Long, pl: Int): Boolean = cellTest(key, pl, within = true)
    val out = ListBuffer.empty[(Long, Long)] // final intervals, ascending
    def emit(key: Long, pl: Int): Unit = {
      val lo = ZOrder.bucketMin(key, pl); val hi = ZOrder.bucketMax(key, pl)
      out.lastOption match {
        case Some((plo, phi)) if phi + 1 == lo => out.update(out.length - 1, (plo, hi))
        case _ => out += ((lo, hi))
      }
    }
    // Depth-first work list, lower child first, so cells finalize in
    // ascending z order. The budget counts FINAL intervals: a cell
    // splits only while (finalized + pending + new children) fits the
    // budget; otherwise it is emitted whole — conservative, never lossy.
    // A cell that merges into the previous interval costs no interval,
    // so the walk is also bounded by the cells it visits: past the bound
    // every remaining cell is emitted whole, just as conservatively.
    // Root = the cell of the whole valid domain (reference bootstrap,
    // Index.java:96-99).
    val maxVisits = VisitsPerRange.toLong * maxRanges
    var visited = 0
    var work: List[(Long, Int)] = List((0L, codec.rootPrefix)).filter(b => intersects(b._1, b._2))
    while (work.nonEmpty) {
      val (key, pl) = work.head
      work = work.tail
      visited += 1
      if (contained(key, pl) || pl >= 64) emit(key, pl)
      else {
        val kids = Seq((key, pl + 1), (ZOrder.makeBit(key, pl), pl + 1))
          .filter(b => intersects(b._1, b._2))
        if (visited < maxVisits && out.size + work.size + kids.size <= maxRanges) work = kids.toList ++ work
        else emit(key, pl)
      }
    }
    // Clamp to the loose interval [key(mins), key(maxs)]: every in-box
    // key lies inside it (dominance monotonicity), so the intersection
    // stays a sound cover and is never worse than the naive
    // single-interval bound — even when the budget forced coarse cells.
    val looseLo = codec.key(box.map(_.min))
    val looseHi = codec.key(box.map(_.max))
    (out.toSeq
      .map { case (lo, hi) => (math.max(lo, looseLo), math.min(hi, looseHi)) }
      .filter { case (lo, hi) => lo <= hi }, visited)
  }
}
