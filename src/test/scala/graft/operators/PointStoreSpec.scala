package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.zorder.{IntRange, ZOrder}

/** Fixture-driven point-store tests (FIXTURES.md family A) with in-memory
  * brute-force oracles — no pruning path — that must agree exactly. */
class PointStoreSpec extends SparkSpec {

  private def mkStore(pts: Seq[(Long, Int, Int)], parts: Int = 4): PointStore = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pstore").toString + "/store"
    val df = PointStore.points(pts.toDF("pid", "px", "py"),
      col("pid"), col("px"), col("py"))
    PointStore.write(df, dir, parts)
    PointStore.open(spark, dir)
  }

  private def collectPts(df: DataFrame): Set[(Long, Int, Int)] =
    df.select("id", "x", "y").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  // uniform-10k fixture: seed-42 points in [0, 1024)^2
  private lazy val uniform: Seq[(Long, Int, Int)] = {
    val rnd = new scala.util.Random(42)
    (0 until 10000).map(i => (i.toLong, rnd.nextInt(1024), rnd.nextInt(1024)))
  }
  private lazy val uniformStore = mkStore(uniform)

  test("range query matches brute force on uniform-10k") {
    val (rx, ry) = (IntRange(100, 300), IntRange(700, 750))
    val expect = uniform.filter(p => rx.include(p._2) && ry.include(p._3)).toSet
    assert(collectPts(uniformStore.rangeQuery(rx, ry)) === expect)
    assert(uniformStore.rangeCount(rx, ry).head().getLong(0) === expect.size.toLong)
  }

  test("degenerate rectangles: single row / column / cell, inclusive bounds") {
    for ((rx, ry) <- Seq(
        (IntRange(500, 500), IntRange(0, 1023)),   // single column
        (IntRange(0, 1023), IntRange(500, 500)),   // single row
        (IntRange(207, 207), IntRange(101, 101)))) // single cell
    {
      val expect = uniform.filter(p => rx.include(p._2) && ry.include(p._3)).toSet
      assert(collectPts(uniformStore.rangeQuery(rx, ry)) === expect)
    }
  }

  test("get returns every id at the coordinate (tiny-walkthrough: multiple ids per point)") {
    // 15 points; 3 ids share (5, 5); duplicates of (x, y, id) are upserts
    val pts: Seq[(Long, Int, Int)] = Seq(
      (1L, 5, 5), (2L, 5, 5), (3L, 5, 5),
      (4L, 0, 0), (5L, 1023, 1023), (6L, 0, 1023), (7L, 1023, 0),
      (8L, 10, 20), (9L, 20, 10), (10L, 7, 7), (11L, 8, 8),
      (12L, 300, 4), (13L, 4, 300), (14L, 512, 512), (15L, 5, 6))
    val store = mkStore(pts ++ Seq((3L, 5, 5))) // re-put of (5,5,3): upsert
    assert(collectPts(store.latest()) === pts.toSet)
    assert(collectPts(store.get(5, 5)) === Set((1L, 5, 5), (2L, 5, 5), (3L, 5, 5)))
    assert(collectPts(store.get(999, 999)) === Set.empty)
  }

  test("knn matches brute force incl. boundary radius (uniform-10k)") {
    for ((qx, qy, k) <- Seq((512, 512, 10), (0, 0, 5), (1023, 0, 25), (100, 900, 1))) {
      val expect = uniform
        .map(p => (p._1, p._2, p._3,
          (p._2.toLong - qx) * (p._2.toLong - qx) + (p._3.toLong - qy) * (p._3.toLong - qy)))
        .sortBy(t => (t._4, t._1)).take(k)
      val got = uniformStore.knn(qx, qy, k).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
      assert(got === expect, s"knn($qx,$qy,$k)")
    }
  }

  test("knn keeps equidistant ties deterministically (knn-ties ring fixture)") {
    // 8 points all at distance 5 from (100, 100), plus the center
    val ring = Seq((3, 4), (4, 3), (-3, 4), (4, -3), (-4, 3), (3, -4), (-4, -3), (-3, -4))
      .zipWithIndex.map { case ((dx, dy), i) => (i.toLong, 100 + dx, 100 + dy) }
    val store = mkStore(ring :+ (99L, 100, 100))
    val got = store.knn(100, 100, 5).collect().map(_.getLong(0)).toSeq
    // center first, then ring members in id order (dist ties → id asc)
    assert(got === Seq(99L, 0L, 1L, 2L, 3L))
  }

  test("knn where k exceeds store size returns everything") {
    val store = mkStore(Seq((1L, 3, 3), (2L, 9, 9)))
    assert(store.knn(0, 0, 10).count() === 2)
  }

  test("knn widening loop is probe-bounded: far query walks the full radius ladder and stays exact") {
    // every point sits near the origin; the query sits at the far
    // corner with initialRadius=1, so the ×8 ladder must climb all the
    // way (1, 8, 64, … clamped at Int.MaxValue — ≤ ⌈log8 2^31⌉+1 = 12
    // probes by construction, each a k-scalar collect) before the
    // window finally covers the cluster. Termination is structural
    // (the radius strictly grows to the clamp, where the window is the
    // whole domain), and the answer must still be the exact brute-force
    // top-k — the loop can never exit with a partial window.
    val pts = Seq((1L, 0, 0), (2L, 5, 3), (3L, 2, 8), (4L, 7, 7), (5L, 1, 1))
    val store = mkStore(pts, 2)
    val got = store.knn(Int.MaxValue, Int.MaxValue, 3, initialRadius = 1)
      .select("id").collect().map(_.getLong(0)).toSeq
    val brute = pts.map { case (id, x, y) =>
      val dx = Int.MaxValue.toLong - x; val dy = Int.MaxValue.toLong - y
      (dx * dx + dy * dy, id)
    }.sorted.take(3).map(_._2)
    assert(got === brute)
  }

  test("knn widening loop is probe-bounded on a derived frame: the ×8 ladder stays exact") {
    // the same far query on a frame that is not a bare store scan, so
    // no zone map seeds the search: the ladder climbs from radius 1 to
    // the window covering every Int coordinate (≤ 12 probes) and the
    // answer is still the exact brute-force top-k
    val pts = Seq((1L, 0, 0), (2L, 5, 3), (3L, 2, 8), (4L, 7, 7), (5L, 1, 1))
    val derived = mkStore(pts, 2).df.filter(col("id") > 0L)
    val got = PointStore.knn(derived, Int.MaxValue, Int.MaxValue, 3, initialRadius = 1)
      .select("id").collect().map(_.getLong(0)).toSeq
    val brute = pts.map { case (id, x, y) =>
      val dx = Int.MaxValue.toLong - x; val dy = Int.MaxValue.toLong - y
      (dx * dx + dy * dy, id)
    }.sorted.take(3).map(_._2)
    assert(got === brute)
  }

  test("negative coordinates: range and knn keep every row, on a store scan and a derived frame") {
    val pts = Seq((1L, -10, 5), (2L, -1, 0), (3L, 3, 4), (4L, 7, 7),
      (5L, -10000, 3), (6L, 100, 100))
    val scan = mkStore(pts, 2).df
    for ((name, df) <- Seq("store scan" -> scan, "derived" -> scan.filter(col("id") > 0L))) {
      assert(collectPts(PointStore.rangeQuery(df, IntRange(-10, 5), IntRange(0, 5))).map(_._1) ===
        Set(1L, 2L, 3L), name)
      assert(collectPts(PointStore.get(df, -10, 5)) === Set((1L, -10, 5)), name)
      val near = PointStore.knn(df, 0, 0, 2).select("id").collect().map(_.getLong(0)).toSeq
      assert(near === Seq(2L, 3L), name)
      val far = PointStore.knn(df, -20000, 0, 2).select("id").collect().map(_.getLong(0)).toSeq
      assert(far === Seq(5L, 1L), name)
    }
  }

  test("edge coordinates: 0 and Int.MaxValue round-trip the store") {
    val pts = Seq((1L, 0, 0), (2L, Int.MaxValue, Int.MaxValue),
      (3L, 0, Int.MaxValue), (4L, Int.MaxValue, 0))
    val store = mkStore(pts, 2)
    assert(collectPts(store.rangeQuery(
      IntRange(0, Int.MaxValue), IntRange(0, Int.MaxValue))) === pts.toSet)
    assert(collectPts(store.get(Int.MaxValue, Int.MaxValue)) ===
      Set((2L, Int.MaxValue, Int.MaxValue)))
    // zkeys stay non-negative across the whole domain → sort order is safe
    assert(store.df.agg(min(col("zkey"))).head().getLong(0) >= 0L)
  }

  test("skew-cluster: adaptive stats split hot buckets deeper (maySplit analog)") {
    val rnd = new scala.util.Random(7)
    // 95% of points inside one 64x64 cell, 5% uniform
    val skew = (0 until 10000).map { i =>
      if (i % 20 != 0) (i.toLong, 512 + rnd.nextInt(64), 512 + rnd.nextInt(64))
      else (i.toLong, rnd.nextInt(1024), rnd.nextInt(1024))
    }
    val store = mkStore(skew)
    val stats = store.adaptiveStats(threshold = 500, statsDepth = 64, baseDepth = 2)
      .collect()
    // sizes sum to the row count and every leaf respects the threshold
    assert(stats.map(_.getAs[Long]("bucket_size")).sum === 10000L)
    val splittable = stats.filter(r =>
      r.getAs[Long]("bucket_size") > 500 && r.getAs[Int]("prefix_len") < 64)
    assert(splittable.isEmpty, s"oversized leaves: ${splittable.mkString(",")}")
    // the hot cell forces deeper prefixes than the sparse region
    assert(stats.map(_.getAs[Int]("prefix_len")).max >
      stats.map(_.getAs[Int]("prefix_len")).min)
  }

  test("z-clustered layout: files cover disjoint zkey ranges and a small range prunes files") {
    val store = uniformStore
    // per-file zkey min/max must not overlap (repartitionByRange guarantee)
    val perFile = store.df
      .select(input_file_name().as("f"), col("zkey"))
      .groupBy("f").agg(min("zkey").as("lo"), max("zkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    // a tiny rectangle's zkey window intersects few of the 4 file ranges
    val (rx, ry) = (IntRange(10, 20), IntRange(10, 20))
    val zlo = ZOrder.zorder(rx.min, ry.min); val zhi = ZOrder.zorder(rx.max, ry.max)
    val touched = perFile.count { case (lo, hi) => lo <= zhi && zlo <= hi }
    assert(touched < perFile.length)
  }

  test("random rectangles match brute force (seeded sweep)") {
    val rnd = new scala.util.Random(2026)
    for (_ <- 1 to 20) {
      val x1 = rnd.nextInt(1024); val x2 = rnd.nextInt(1024)
      val y1 = rnd.nextInt(1024); val y2 = rnd.nextInt(1024)
      val rx = IntRange(math.min(x1, x2), math.max(x1, x2))
      val ry = IntRange(math.min(y1, y2), math.max(y1, y2))
      val expect = uniform.filter(p => rx.include(p._2) && ry.include(p._3)).toSet
      assert(collectPts(uniformStore.rangeQuery(rx, ry)) === expect, s"$rx $ry")
    }
  }

  test("random knn queries match brute force (seeded sweep)") {
    val rnd = new scala.util.Random(2027)
    for (_ <- 1 to 8) {
      val qx = rnd.nextInt(1200) // may fall outside the data domain
      val qy = rnd.nextInt(1200)
      val k = 1 + rnd.nextInt(20)
      val expect = uniform
        .map(p => (p._1, (p._2.toLong - qx) * (p._2.toLong - qx) +
          (p._3.toLong - qy) * (p._3.toLong - qy)))
        .sortBy(t => (t._2, t._1)).take(k).map(_._1)
      val got = uniformStore.knn(qx, qy, k).collect().map(_.getLong(0)).toSeq
      assert(got === expect, s"knn($qx,$qy,$k)")
    }
  }

  test("drop removes the store (Client drop analog)") {
    val store = mkStore(Seq((1L, 1, 1)))
    store.drop()
    intercept[Exception] { store.df.count() }
  }

  private def mkSeqStore(rows: Seq[(Long, Int, Int, Long)]): (PointStore, String) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pstore-del").toString + "/store"
    val df = PointStore.points(rows.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq")))
    PointStore.write(df, dir, 2)
    (PointStore.open(spark, dir), dir)
  }

  test("tombstone delete hides keys; a later re-put resurrects; fold is result-invisible") {
    import spark.implicits._
    val rows = (0L until 100L).map(i => (i, (i % 10).toInt, (i / 10).toInt, 0L))
    val (store, dir) = mkSeqStore(rows)
    // delete every fourth id at seq 1
    store.delete(rows.filter(_._1 % 4 == 0)
      .map(r => (r._1, r._2, r._3, 1L)).toDF("id", "x", "y", "put_seq"))
    val afterDelete = rows.filter(_._1 % 4 != 0).map(t => (t._1, t._2, t._3)).toSet
    assert(collectPts(store.live(Seq("put_seq"))) === afterDelete)
    // the store itself is untouched by logical deletes
    assert(store.df.count() === 100L)
    // re-put half the deleted ids at seq 2: they must resurrect
    val back = rows.filter(_._1 % 8 == 0).map(r => (r._1, r._2, r._3, 2L))
    PointStore.append(PointStore.points(back.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), dir)
    val expect = (0L until 100L).filter(i => i % 4 != 0 || i % 8 == 0)
      .map(i => (i, (i % 10).toInt, (i / 10).toInt)).toSet
    assert(collectPts(store.live(Seq("put_seq"))) === expect)
    // physical fold: same live multiset, markers retired, dead rows gone
    store.compactDeletes(Seq("put_seq"), numPartitions = 2)
    assert(store.tombstones.isEmpty)
    assert(store.df.count().toInt === expect.size)
    assert(collectPts(store.live(Seq("put_seq"))) === expect)
    // a delete AFTER the fold keeps working (fresh marker table), and a
    // marker at the SAME seq as the put kills it — delete wins seq ties
    store.delete(Seq((1L, 1, 0, 3L), (8L, 8, 0, 2L)).toDF("id", "x", "y", "put_seq"))
    assert(collectPts(store.live(Seq("put_seq"))) ===
      (expect - ((1L, 1, 0)) - ((8L, 8, 0))))
    store.drop()
  }

  test("deleteRange kills by rectangle + seq, composes with equality markers and snapshots") {
    import spark.implicits._
    val rows = (0L until 100L).map(i => (i, (i % 10).toInt, (i / 10).toInt, 0L))
    val (store, dir) = mkSeqStore(rows)
    // rectangle x in [2,5], y in [3,6] at seq 1 — kills the 16 inside rows
    store.deleteRange(Seq((2, 5, 3, 6, 1L))
      .toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    def pts = collectPts(store.live(Seq("put_seq")))
    val inside = (i: Long) => (i % 10) >= 2 && (i % 10) <= 5 && (i / 10) >= 3 && (i / 10) <= 6
    assert(pts === rows.filterNot(t => inside(t._1)).map(t => (t._1, t._2, t._3)).toSet)
    assert(store.df.count() === 100L) // store untouched, predicate-only read
    // re-put half the dead region at seq 2: resurrects through the marker
    val back = rows.filter(t => inside(t._1) && t._1 % 2 == 0)
      .map(r => (r._1, r._2, r._3, 2L))
    PointStore.append(PointStore.points(back.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), dir)
    val expect = rows.filter(t => !inside(t._1) || t._1 % 2 == 0)
      .map(t => (t._1, t._2, t._3)).toSet
    assert(pts === expect)
    // an equality marker composes on top: a seq-3 marker kills even a
    // row the range marker couldn't touch (resurrected at seq 2)
    store.delete(Seq((42L, 2, 4, 3L)).toDF("id", "x", "y", "put_seq"))
    assert(pts === (expect - ((42L, 2, 4))))
    // snapshots see each history point
    def snap(b: Long) = collectPts(store.snapshotAsOf(Seq("put_seq"), Seq(lit(b))))
    assert(snap(0L) === rows.map(t => (t._1, t._2, t._3)).toSet)
    assert(snap(1L) === rows.filterNot(t => inside(t._1)).map(t => (t._1, t._2, t._3)).toSet)
    assert(snap(2L) === expect)
    // fold: same live multiset, both marker tables retired, dead rows gone
    store.compactDeletes(Seq("put_seq"), numPartitions = 2)
    assert(store.tombstones.isEmpty && store.rangeTombstones.isEmpty)
    assert(pts === (expect - ((42L, 2, 4))))
    assert(store.df.count().toInt === expect.size - 1)
    store.drop()
  }

  test("snapshotAsOf replays each point of the put/delete/re-put history") {
    import spark.implicits._
    val rows = (0L until 100L).map(i => (i, (i % 10).toInt, (i / 10).toInt, 0L))
    val (store, dir) = mkSeqStore(rows)
    store.delete(rows.filter(_._1 % 4 == 0)
      .map(r => (r._1, r._2, r._3, 1L)).toDF("id", "x", "y", "put_seq"))
    val back = rows.filter(_._1 % 8 == 0).map(r => (r._1, r._2, r._3, 2L))
    PointStore.append(PointStore.points(back.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), dir)
    def snap(bound: Long) =
      collectPts(store.snapshotAsOf(Seq("put_seq"), Seq(lit(bound))))
    val all = rows.map(t => (t._1, t._2, t._3)).toSet
    // asof 0: before the delete — everything visible
    assert(snap(0L) === all)
    // asof 1: delete applied, re-put not yet visible
    assert(snap(1L) === all.filter(_._1 % 4 != 0))
    // asof 2 (and beyond): the final live view, resurrections included
    val fin = (0L until 100L).filter(i => i % 4 != 0 || i % 8 == 0)
      .map(i => (i, (i % 10).toInt, (i / 10).toInt)).toSet
    assert(snap(2L) === fin)
    assert(snap(99L) === fin)
    assert(snap(2L) === collectPts(store.live(Seq("put_seq"))))
    store.drop()
  }

  test("compactDeletes fold swap is crash-recoverable at every step") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val rows = (0L until 50L).map(i => (i, i.toInt, (2 * i).toInt, 0L))
    val (store, dir) = mkSeqStore(rows)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    store.delete(rows.filter(_._1 < 10)
      .map(r => (r._1, r._2, r._3, 1L)).toDF("id", "x", "y", "put_seq"))
    val expect = rows.filter(_._1 >= 10).map(t => (t._1, t._2, t._3)).toSet

    // crash A — scratch fully written + _READY marker, swap not started:
    // the next read completes the fold itself
    PointStore.write(store.live(Seq("put_seq")), dir + ".folding", 2)
    fs.create(new Path(dir + ".folding/_GRAFT_FOLD_READY")).close()
    assert(collectPts(store.df) === expect)        // df resolves the fold
    assert(!fs.exists(new Path(dir + ".folding")))
    assert(!fs.exists(new Path(dir + ".tombstones")))

    // crash B — swap renamed in, cleanup not reached (marker inside the
    // live store + the already-applied tombstones still on disk): the
    // read self-heals, and the stale markers were harmless even before
    // cleanup (the folded store holds no row their seq can kill)
    store.delete(Seq((10L, 10, 20, 2L)).toDF("id", "x", "y", "put_seq"))
    val expectB = expect - ((10L, 10, 20))
    PointStore.write(store.live(Seq("put_seq")), dir + ".folding", 2)
    fs.create(new Path(dir + ".folding/_GRAFT_FOLD_READY")).close()
    fs.delete(new Path(dir), true)
    assert(fs.rename(new Path(dir + ".folding"), new Path(dir)))
    assert(fs.exists(new Path(dir + "/_GRAFT_FOLD_READY")))
    assert(collectPts(store.df) === expectB)
    assert(!fs.exists(new Path(dir + "/_GRAFT_FOLD_READY")))
    assert(store.tombstones.isEmpty)               // cleanup retired them

    // crash C — scratch without marker is an unfinished build: ignored
    // by reads, discarded by the next compactDeletes
    fs.mkdirs(new Path(dir + ".folding"))
    fs.create(new Path(dir + ".folding/garbage")).close()
    assert(collectPts(store.df) === expectB)
    store.compactDeletes(Seq("put_seq"), numPartitions = 2)
    assert(collectPts(store.live(Seq("put_seq"))) === expectB)
    assert(!fs.exists(new Path(dir + ".folding")))
    store.drop()
  }

  test("range-tombstone backlog past the cap falls back to the anti-join, result-identically") {
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, (i % 20).toInt, (i / 20).toInt, 0L))
    val (store, _) = mkSeqStore(rows)
    // one 1x1 rectangle per (x, y) with x+y even: way past the compiled
    // cap — 200 markers vs MaxCompiledRangeMarkers
    val rects = rows.filter(t => (t._2 + t._3) % 2 == 0)
      .map(t => (t._2, t._2, t._3, t._3, 1L))
    assert(rects.size > store.MaxCompiledRangeMarkers)
    store.deleteRange(rects.toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    val expect = rows.filter(t => (t._2 + t._3) % 2 != 0)
      .map(t => (t._1, t._2, t._3)).toSet
    val live = store.live(Seq("put_seq"))
    // correctness identical through the fallback path...
    assert(collectPts(live) === expect)
    // ...and the plan really is the join spelling (O(1) plan size), not
    // a 200-rectangle OR-ladder
    assert(live.queryExecution.executedPlan.toString.contains("Join"), "fallback should join")
    // snapshots run through the same guard
    assert(collectPts(store.snapshotAsOf(Seq("put_seq"), Seq(lit(0L)))) ===
      rows.map(t => (t._1, t._2, t._3)).toSet)
    assert(collectPts(store.snapshotAsOf(Seq("put_seq"), Seq(lit(1L)))) === expect)
    // folding empties the backlog and the ladder path returns
    store.compactDeletes(Seq("put_seq"), numPartitions = 2)
    assert(store.rangeTombstones.isEmpty)
    assert(collectPts(store.live(Seq("put_seq"))) === expect)
    store.drop()
  }

  test("ladder and anti-join tombstone spellings agree on null-seq rows (not provably dead = kept)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pstore-null").toString + "/store"
    val raw = Seq((1L, 1, 1, Option(0L)), (2L, 1, 2, Option.empty[Long]),
      (3L, 5, 5, Option(0L))).toDF("pid", "px", "py", "put_seq")
    val df = PointStore.points(raw, col("pid"), col("px"), col("py"), Seq(col("put_seq")))
    PointStore.write(df, dir, 1)
    val store = PointStore.open(spark, dir)
    // one rect covering x=1, y∈[1,2] at seq 1: row 1 is dead; row 2 is
    // inside the rect but its seq is NULL — not provably dead, so the
    // compiled ladder must keep it exactly like the anti-join would
    store.deleteRange(Seq((1, 1, 1, 2, 1L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    assert(collectPts(store.live(Seq("put_seq"))) === Set((2L, 1, 2), (3L, 5, 5)))
    // push the backlog past the cap with far-away rects: the SAME rows
    // survive through the anti-join spelling
    val far = (0 until store.MaxCompiledRangeMarkers + 5)
      .map(i => (900 + i, 900 + i, 900, 900, 1L))
    store.deleteRange(far.toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    val live = store.live(Seq("put_seq"))
    assert(live.queryExecution.executedPlan.toString.contains("Join"), "fallback should join")
    assert(collectPts(live) === Set((2L, 1, 2), (3L, 5, 5)))
    store.drop()
  }
}
