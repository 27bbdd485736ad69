package graft.perfbench

/** Pure helpers shared by every workload: the percentile rule, metric
  * name validation and the prefix-state check. No Spark in here, so the
  * unit tests exercise them without a session. */
object Stats {

  /** A timing is reported only at a percentile with at least this many
    * samples strictly above it. */
  val MinBeyond = 10

  /** Samples strictly above the nearest-rank `q` percentile of `n`. */
  def samplesBeyond(n: Int, q: Double): Int =
    if (n <= 0) 0 else n - math.max(1, math.ceil(q * n).toInt)

  /** Nearest-rank percentile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it. */
  def percentile(samples: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"percentile $q outside (0, 1)")
    val n = samples.size
    if (samplesBeyond(n, q) < MinBeyond) None
    else Some(samples.sorted.apply(math.max(1, math.ceil(q * n).toInt) - 1))
  }

  /** Plain median (no sample-count rule): used for repeated set-ups and
    * per-call span figures, which are not latency percentiles. */
  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean of positive samples: every sample weighs the same
    * in log space, so a fixed mix of fast and slow operation types is
    * summarised without one type dominating, and a run's figure moves
    * smoothly with the share of its samples a slow spell of the host
    * touched (a median jumps to the next sample instead). */
  def geomean(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "geometric mean of no samples")
    require(samples.forall(_ > 0), "geometric mean of a non-positive sample")
    math.exp(samples.map(math.log).sum / samples.size)
  }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric and workload names: a letter or digit first, then letters,
    * digits, `_`, `.` or `-`, at most 64 characters. */
  def validName(s: String): Boolean = NameRe.matches(s)

  /** The legal-prefix check for reads that run beside an ingest: the
    * observed answer must equal the answer over the first `b` committed
    * batches for some `b` in `lo..hi`. Returns that `b`. */
  def legalPrefix[A](observed: A, lo: Int, hi: Int)(answerAt: Int => A): Option[Int] =
    (math.max(0, lo) to hi).find(b => answerAt(b) == observed)
}
