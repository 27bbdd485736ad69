package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{PointStore, SpatioTemporal}
import graft.perfbench.Gen.Points
import graft.zorder.IntRange

/**
 * The read-serving client of `point_store`: closed loop, one client. The
 * 2-D store holds `N2` points (half uniform, half in 64 Gaussian
 * clusters) in `Files2` z-clustered files; beside it a 3-D
 * spatio-temporal store. Mix ([[Mix]]): `get` (90% at an existing point),
 * 2-D range count (selectivity log-uniform over 1e-6..1e-1, stratified,
 * centred half in clusters), 2-D kNN (k cycling 10, 1000, 1, 100), 3-D
 * range count and 3-D kNN.
 * Every answer is checked against a brute-force scan of the generated
 * arrays, which carry no z-key, so no pruning can touch the oracle.
 */
object PointQuery {
  val N2 = 200000
  val Slices2 = 8
  val Files2 = 32
  val Domain2: Int = 1 << 22
  val N3 = 50000
  val Slices3 = 2
  val Files3 = 4
  val Domain3: Int = 1 << 20
  val Clusters = 64
  /** The timed loop runs at least `--seconds` and until it holds this
    * many operations. With the write phase's [[PointIngest.FreshReads]]
    * + 2 reads, the workload's read p50 (a detail-line figure) always has
    * ten samples beyond it. */
  val MinOps = 11
  /** Operations of the first slice, served before the write phase; the
    * rest follow it. */
  val FirstSliceOps = 6
  val WarmupOps = 3
  /** The operation types in the order the client issues them, cycled:
    * a fixed mix, so a run's read figures never depend on how the seed
    * happened to split it (3 get, 4 range, 2 kNN, one 3-D range, one 3-D
    * kNN per cycle); the seed draws every parameter. */
  val Mix: IndexedSeq[String] = IndexedSeq("get", "range", "knn", "get", "range", "st_range",
    "knn", "get", "range", "st_knn", "range")

  private sealed trait Q
  private final case class GetQ(x: Int, y: Int) extends Q
  private final case class RangeQ(rx: IntRange, ry: IntRange) extends Q
  private final case class KnnQ(q: Array[Int], k: Int) extends Q
  private final case class Range3Q(rx: IntRange, ry: IntRange, rt: IntRange) extends Q

  def rawPoints2(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val per = N2 / Slices2
    spark.sparkContext.parallelize(0 until Slices2, Slices2).flatMap { s =>
      val p = Gen.points2Slice(seed, s, per, Domain2, Clusters)
      p.ids.indices.iterator.map(i => (p.ids(i), p.xs(i), p.ys(i)))
    }.toDF("id", "x", "y")
  }

  def rawPoints3(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val per = N3 / Slices3
    spark.sparkContext.parallelize(0 until Slices3, Slices3).flatMap { s =>
      val p = Gen.points3Slice(seed, s, per, Domain3, Clusters)
      p.ids.indices.iterator.map(i => (p.ids(i), p.xs(i), p.ys(i), p.ts(i)))
    }.toDF("id", "x", "y", "t")
  }

  /** Both stores. The 2-D rows carry `put_seq` 0: they are the base
    * that the ingest phase's batches (sequence 1, 2, ...) land on. */
  def build(spark: SparkSession, seed: Long, dir: String): Unit = {
    PointStore.write(PointStore.points(rawPoints2(spark, seed).withColumn("put_seq", lit(0L)),
      col("id"), col("x"), col("y"), Seq(col("put_seq"))), s"$dir/points2", Files2)
    SpatioTemporal.write(SpatioTemporal.points3(rawPoints3(spark, seed),
      col("id"), col("x"), col("y"), col("t")), s"$dir/points3", Files3)
  }

  /** A square window of area `sel` times the domain's, centred half the
    * time near a cluster centre and otherwise uniformly. */
  private def window(r: SplittableRandom, centres: Array[Array[Int]], domain: Int,
                     dims: Int, sel: Double): Seq[IntRange] = {
    val side = domain * math.pow(sel, 1.0 / dims)
    val c =
      if (r.nextBoolean()) {
        val cc = centres(r.nextInt(centres.length))
        cc.map(v => v + r.nextGaussian() * domain / 256.0)
      } else Array.fill(dims)(r.nextInt(domain).toDouble)
    c.toSeq.map { v =>
      val lo = math.max(0L, math.round(v - side / 2)).toInt
      val hi = math.min(domain - 1L, math.round(v + side / 2)).toInt
      IntRange(lo, math.max(lo, hi))
    }
  }

  /** A kNN query point, near a cluster centre or uniform as the caller
    * alternates (so every run has the same share of each). */
  private def point(r: SplittableRandom, centres: Array[Array[Int]], domain: Int,
                    nearCluster: Boolean): Array[Int] =
    if (nearCluster) {
      val c = centres(r.nextInt(centres.length))
      c.map(v => math.max(0, math.min(domain - 1,
        math.round(v + r.nextGaussian() * domain / 256.0).toInt)))
    } else Array.fill(centres.head.length)(r.nextInt(domain))

  /** Log-uniform over [lo, hi], stratified: the i-th draw of a kind falls
    * in the (i mod strata)-th equal slice of the log range, so every run
    * covers the range evenly whatever its seed. */
  def logStratified(r: SplittableRandom, lo: Double, hi: Double, i: Int, strata: Int): Double = {
    val u = ((i % strata) + r.nextDouble()) / strata
    math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))
  }

  def oracle2(seed: Long): Points =
    Gen.concat((0 until Slices2).map(s => Gen.points2Slice(seed, s, N2 / Slices2, Domain2, Clusters)))
  def oracle3(seed: Long): Points =
    Gen.concat((0 until Slices3).map(s => Gen.points3Slice(seed, s, N3 / Slices3, Domain3, Clusters)))

  /**
   * The serving client over the stores at `p2`/`p3`. It cycles through
   * [[Mix]] with its parameters drawn from one seeded stream, in slices:
   * the workload serves part of the mix on the freshly built stores and
   * the rest after the write phase has changed the 2-D store, so the
   * reads span the run rather than one stretch of it. Each slice names
   * the 2-D rows the store holds, which the oracle then uses.
   */
  final class Client(ctx: Ctx, out: Outcome, p2: String, p3: String, pts3: Points) {
    private val spark = ctx.spark
    private val tr = ctx.tracer
    private val c2 = Gen.centres2(ctx.seed, Clusters, Domain2)
    private val c3 = Gen.centres3(ctx.seed, Clusters, Domain3)
    private val r = Gen.rng(ctx.seed, 100, 0)
    /** (query, the 2-D rows it ran against, answer) */
    private val asked = mutable.ArrayBuffer.empty[(Q, Points, Any)]
    private val issued = mutable.Map.empty[String, Int].withDefaultValue(0)
    private var ops = 0
    private var deadline = Long.MaxValue

    private def open2(): DataFrame = tr.span("PointStore.open")(PointStore.open(spark, p2).df)

    private def oneOp(kind: String, pts2: Points, record: Boolean): Unit = {
      val i = issued(kind)
      issued(kind) = i + 1
      def note(q: Q, ans: Option[Any]): Unit = if (record) ans.foreach(a => asked += ((q, pts2, a)))
      def timed[T](opType: String)(body: => T): Option[T] =
        if (record) Run.timed(ctx, out, opType, read = true)(body) else Some(body)
      // warm-up operations record no trace values
      def value(name: String, v: => Double): Unit = if (record) tr.value(name, v)
      if (kind == "get") {
        val (x, y) =
          if (r.nextInt(10) < 9) { val i = r.nextInt(pts2.size); (pts2.xs(i), pts2.ys(i)) }
          else (r.nextInt(Domain2), r.nextInt(Domain2))
        note(GetQ(x, y), timed("get") {
          val ids = PointStore.get(open2(), x, y).select("id").collect().map(_.getLong(0)).toSet
          value("rows_returned", ids.size.toDouble)
          ids
        })
      } else if (kind == "range") {
        val Seq(rx, ry) = window(r, c2, Domain2, 2, logStratified(r, 1e-6, 1e-1, i, 4))
        note(RangeQ(rx, ry), timed("range") {
          val n = PointStore.rangeQuery(open2(), rx, ry).agg(count(lit(1))).head().getLong(0)
          value("rows_returned", n.toDouble)
          n
        })
      } else if (kind == "knn") {
        val q = point(r, c2, Domain2, i % 2 == 0)
        val k = Seq(10, 1000, 1, 100)(i % 4)
        note(KnnQ(q, k), timed("knn") {
          val df = open2()
          val res = tr.span("PointStore.knn_probe")(PointStore.knn(df, q(0), q(1), k))
          val rows = res.select("dist2", "id").collect().map(w => (w.getLong(0), w.getLong(1))).toSeq
          value("rows_returned", rows.size.toDouble)
          rows
        })
      } else if (kind == "st_range") {
        val Seq(rx, ry, rt) = window(r, c3, Domain3, 3, logStratified(r, 1e-5, 1e-1, i, 2))
        note(Range3Q(rx, ry, rt), timed("st_range") {
          val n = SpatioTemporal.open(spark, p3).rangeCount(rx, ry, rt).head().getLong(0)
          value("rows_returned", n.toDouble)
          n
        })
      } else {
        val q = point(r, c3, Domain3, i % 2 == 0)
        val k = Seq(10, 100, 1)(i % 3)
        note(KnnQ(q, k), timed("st_knn") {
          val df = SpatioTemporal.open(spark, p3).df
          val res = tr.span("SpatioTemporal.knn_probe")(SpatioTemporal.knn3(df, q(0), q(1), q(2), k))
          val rows = res.select("dist3", "id").collect().map(w => (w.getLong(0), w.getLong(1))).toSeq
          value("rows_returned", rows.size.toDouble)
          rows
        })
      }
    }

    /** Untimed operations that warm the JIT, codegen caches and
      * file-system metadata; the timed window starts after them. */
    def warmUp(pts2: Points): Unit = {
      for (i <- 0 until WarmupOps) oneOp(Mix(i % Mix.size), pts2, record = false)
      deadline = System.nanoTime() + ctx.seconds * 1000000000L
    }

    /** The first slice: `n` timed operations of the mix. */
    def serve(pts2: Points, n: Int): Unit =
      for (_ <- 0 until n) { oneOp(Mix(ops % Mix.size), pts2, record = true); ops += 1 }

    /** The last slice: the loop's remaining operations, until it holds
      * [[MinOps]] and `--seconds` have passed since the warm-up. */
    def finish(pts2: Points): Unit =
      while (System.nanoTime() < deadline || ops < MinOps) {
        oneOp(Mix(ops % Mix.size), pts2, record = true)
        ops += 1
      }

    /** Compare every recorded answer with the brute-force answer over the
      * rows its slice named; outside any timed window. */
    def check(): Unit = asked.foreach {
      case (GetQ(x, y), pts2, got) =>
        out.check(got == Brute.get(pts2, x, y), s"get($x,$y) mismatch")
      case (RangeQ(rx, ry), pts2, got) =>
        val want = Brute.count2(pts2, rx.min, rx.max, ry.min, ry.max)
        out.check(got == want, s"range($rx,$ry): got $got want $want")
      case (Range3Q(rx, ry, rt), _, got) =>
        val want = Brute.count3(pts3, rx.min, rx.max, ry.min, ry.max, rt.min, rt.max)
        out.check(got == want, s"st_range($rx,$ry,$rt): got $got want $want")
      case (KnnQ(q, k), pts2, got) =>
        val want = Brute.knn(if (q.length == 3) pts3 else pts2, q, k)
        out.check(got == want, s"knn(${q.mkString(",")}, k=$k) mismatch")
    }
  }
}
