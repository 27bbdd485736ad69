package graft.perfbench

import graft.perfbench.Gen.Points

/** Brute-force answers over the generated column arrays — the oracles
  * the point workloads compare the engine against. `upto` restricts a
  * query to the first rows (a prefix of committed ingest batches). */
object Brute {

  def get(p: Points, x: Int, y: Int, upto: Int = Int.MaxValue): Set[Long] = {
    val n = math.min(upto, p.size)
    (0 until n).iterator.filter(i => p.xs(i) == x && p.ys(i) == y).map(p.ids(_)).toSet
  }

  def count2(p: Points, x0: Int, x1: Int, y0: Int, y1: Int,
             upto: Int = Int.MaxValue): Long = {
    val n = math.min(upto, p.size)
    var c = 0L
    var i = 0
    while (i < n) {
      val x = p.xs(i); val y = p.ys(i)
      if (x >= x0 && x <= x1 && y >= y0 && y <= y1) c += 1
      i += 1
    }
    c
  }

  def count3(p: Points, x0: Int, x1: Int, y0: Int, y1: Int, t0: Int, t1: Int): Long = {
    var c = 0L
    var i = 0
    while (i < p.size) {
      val x = p.xs(i); val y = p.ys(i); val t = p.ts(i)
      if (x >= x0 && x <= x1 && y >= y0 && y <= y1 && t >= t0 && t <= t1) c += 1
      i += 1
    }
    c
  }

  /** The k smallest `(dist2, id)` pairs, ascending: the engine's exact
    * kNN tie order. */
  def knn(p: Points, q: Array[Int], k: Int, upto: Int = Int.MaxValue): Seq[(Long, Long)] = {
    val n = math.min(upto, p.size)
    val three = q.length == 3
    // max-heap on (dist2, id) holding the best k so far
    val heap = new java.util.PriorityQueue[(Long, Long)](k + 1,
      (a: (Long, Long), b: (Long, Long)) =>
        if (a._1 != b._1) java.lang.Long.compare(b._1, a._1)
        else java.lang.Long.compare(b._2, a._2))
    var i = 0
    while (i < n) {
      val dx = p.xs(i).toLong - q(0); val dy = p.ys(i).toLong - q(1)
      val dt = if (three) p.ts(i).toLong - q(2) else 0L
      val d = dx * dx + dy * dy + dt * dt
      if (heap.size < k) heap.add((d, p.ids(i)))
      else {
        val top = heap.peek()
        if (d < top._1 || (d == top._1 && p.ids(i) < top._2)) {
          heap.poll(); heap.add((d, p.ids(i)))
        }
      }
      i += 1
    }
    val out = new Array[(Long, Long)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out.toSeq
  }
}
