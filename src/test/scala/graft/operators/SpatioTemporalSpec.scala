package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.zorder.IntRange

class SpatioTemporalSpec extends SparkSpec {

  private lazy val pts = SpatioTemporal.points3(
    spark.read.parquet(sf("sf0.01") + "/events.parquet"),
    col("event_id"), expr("cast(floor(value*100) as int)"),
    col("user_id"), expr("cast(event_id % 2097152 as int)"))

  private val RX = IntRange(10000, 30000)
  private val RY = IntRange(40, 110)
  private val RT = IntRange(500, 5000)

  test("box query equals the raw predicate result (z3 intervals are pruning-only)") {
    val viaStore = SpatioTemporal.rangeQuery3(pts, RX, RY, RT)
      .select("id").collect().map(_.getLong(0)).toSet
    val raw = pts.filter(col("x").between(RX.min, RX.max) &&
        col("y").between(RY.min, RY.max) && col("t").between(RT.min, RT.max))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaStore == raw && raw.nonEmpty)
  }

  test("knn3 equals brute force with (dist2, id) tie order; plans as distributed top-k") {
    val k = 10
    val (q, plans) = plansDuring(SpatioTemporal.knn3(pts, 25000, 75, 800, k))
    val got = q.collect().map(r => (r.getLong(0), r.getLong(4)))
    val brute = pts.select(col("id"), SpatioTemporal.dist3(25000, 75, 800).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, d) => (d, id) }.take(k)
    assert(got.toSeq == brute.toSeq)
    // the rounds knn3 runs are the plans that do the work: when one
    // answers, the returned frame is a local relation
    assert(plans.nonEmpty)
    for (plan <- plans) {
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(!plan.contains("SortExec"), plan)
    }
    // a round whose k-th lies beyond its ball returns the final scan
    // unexecuted: eight cube corners at distance² 300 from the query,
    // outside the radius-10 round's ball
    import spark.implicits._
    val corners = for (x <- Seq(-10, 10); y <- Seq(-10, 10); t <- Seq(-10, 10)) yield (x, y, t)
    val cube = SpatioTemporal.points3(corners.zipWithIndex.map { case ((x, y, t), i) => (i.toLong, x, y, t) }
      .toDF("pid", "px", "py", "pt"), col("pid"), col("px"), col("py"), col("pt"))
    val fallback = SpatioTemporal.knn3(cube, 0, 0, 0, 3, initialRadius = 10)
    val plan = fallback.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortExec"), plan)
    assert(fallback.select("id").collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }

  test("z3 interval predicates reach the Parquet scan of a clustered store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-st-store").toString
    try {
      SpatioTemporal.write(pts, s"$dir/store", 8)
      val store = spark.read.parquet(s"$dir/store")
      val q = SpatioTemporal.rangeQuery3(store, RX, RY, RT).select("id")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") && plan.contains("z3"), plan)
      // and the store round-trips the same result
      assert(q.collect().map(_.getLong(0)).toSet ==
        SpatioTemporal.rangeQuery3(pts, RX, RY, RT)
          .select("id").collect().map(_.getLong(0)).toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("store wrapper: open/get/range/knn/indexStats/drop lifecycle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-st-open").toString
    try {
      SpatioTemporal.write(pts, s"$dir/store", 4)
      val store = SpatioTemporal.open(spark, s"$dir/store")
      assert(store.rangeCount(RX, RY, RT).head.getLong(0) ==
        SpatioTemporal.rangeQuery3(pts, RX, RY, RT).count())
      assert(store.knn(25000, 75, 800, 5).count() == 5)
      assert(store.indexStats(30).agg(org.apache.spark.sql.functions.sum("bucket_size"))
        .head.getLong(0) == pts.count())
      val anchor = pts.limit(1).collect()(0)
      assert(store.get(anchor.getInt(1), anchor.getInt(2), anchor.getInt(3)).count() >= 1)
      store.drop()
      assert(!new java.io.File(s"$dir/store").exists())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("adaptiveStats3 partitions the store: sizes sum to total, splits respect the threshold") {
    val threshold = 500L
    val stats = SpatioTemporal.adaptiveStats3(pts, threshold).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(stats.map(_._3).sum === pts.count())
    // every bucket is within the threshold unless split out at max depth
    assert(stats.forall { case (_, pl, n) => n <= threshold || pl == 48 })
    // buckets are prefix-disjoint: no bucket's key range nests another's
    val sorted = stats.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((k1, pl1, _), (k2, _, _)) =>
        val hi1 = k1 + (1L << (64 - pl1)) - 1 // end of bucket 1's z3 range
        assert(k2 > hi1, s"overlapping buckets: ($k1,$pl1) and $k2")
      case _ => ()
    }
  }

  test("connectedComponents of an empty edge set is empty (pipeline edge case)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }
}
