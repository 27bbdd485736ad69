package graft.operators

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.streaming.StreamingIngest

/** kNN seeded from parquet footer zone maps: exact against brute force
  * on store scans (zone map) and derived frames (×8 ladder), at most one
  * probe job on a store scan, and a zone map that can never describe
  * files other than the ones the scan reads. */
class ZoneMapSpec extends SparkSpec {
  import ZoneMapSpec._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-zm-$name").toString

  /** Writer options giving a few rows per row group, so every file of a
    * test store holds several row groups. */
  private val SmallRowGroups = Map("parquet.block.row.count.limit" -> "8")

  private def writeClustered(pts: DataFrame, key: String, path: String, parts: Int,
                             options: Map[String, String] = SmallRowGroups): Unit =
    pts.repartitionByRange(parts, col(key)).sortWithinPartitions(key)
      .write.options(options).mode("overwrite").parquet(path)

  private def store2(rows: Seq[(Long, Option[Int], Option[Int])], parts: Int,
                     options: Map[String, String] = SmallRowGroups): DataFrame = {
    import spark.implicits._
    val dir = tmp("store2") + "/store"
    writeClustered(PointStore.points(rows.toDF("pid", "px", "py"),
      col("pid"), col("px"), col("py")), "zkey", dir, parts, options)
    PointStore.open(spark, dir).df
  }

  private def store3(rows: Seq[(Long, Option[Int], Option[Int], Option[Int])],
                     parts: Int, options: Map[String, String] = SmallRowGroups): DataFrame = {
    import spark.implicits._
    val dir = tmp("store3") + "/store"
    writeClustered(SpatioTemporal.points3(rows.toDF("pid", "px", "py", "pt"),
      col("pid"), col("px"), col("py"), col("pt")), "z3", dir, parts, options)
    SpatioTemporal.open(spark, dir).df
  }

  /** Not a bare scan: no zone map, so kNN walks the ladder. */
  private def derived(df: DataFrame): DataFrame = df.filter(col("id") >= Long.MinValue)

  /** Brute-force kNN as `(dist², id)`: rows with every coordinate. */
  private def brute(rows: Seq[(Long, Seq[Option[Int]])], q: Seq[Int], k: Int): Seq[(Long, Long)] =
    rows.collect { case (id, c) if c.forall(_.isDefined) =>
      (c.flatten.zip(q).map { case (v, w) => (v.toLong - w) * (v.toLong - w) }.sum, id)
    }.sorted.take(k)

  private def knn2(df: DataFrame, q: Seq[Int], k: Int, initialRadius: Int = 64): Seq[(Long, Long)] =
    PointStore.knn(df, q(0), q(1), k, initialRadius).select("dist2", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def knn3(df: DataFrame, q: Seq[Int], k: Int, initialRadius: Int = 64): Seq[(Long, Long)] =
    SpatioTemporal.knn3(df, q(0), q(1), q(2), k, initialRadius).select("dist3", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Deterministic ScalaCheck runner (seed fixed). */
  private def check(cases: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(2026L)).withMaxDiscardRatio(1f), p)
    assert(res.passed, res.status.toString)
  }

  /** A coordinate: clustered in a small box (duplicates and equidistant
    * points), spread wider, or null. */
  private val coord: Gen[Option[Int]] = Gen.frequency(
    6 -> Gen.choose(-8, 8).map(Some(_)),
    3 -> Gen.choose(-3000, 3000).map(Some(_)),
    1 -> Gen.const(None))

  /** A query coordinate inside, just outside or far from the data. */
  private def queryCoord(far: Int): Gen[Int] = Gen.frequency(
    4 -> Gen.choose(-10, 10), 2 -> Gen.choose(-4000, 4000),
    1 -> Gen.oneOf(far, -far))

  private def queries(dims: Int, far: Int, n: Int): Gen[Seq[(Seq[Int], Int)]] =
    Gen.listOfN(4, for {
      q <- Gen.listOfN(dims, queryCoord(far))
      k <- Gen.oneOf(Gen.choose(1, 4), Gen.choose(1, n + 1), Gen.const(n + 1))
    } yield (q, k))

  test("the test writer gives every store several row groups per file") {
    val df = store2((0L until 200L).map(i => (i, Some(i.toInt), Some(-i.toInt))), 3)
    val conf = spark.sessionState.newHadoopConf()
    val groups = df.inputFiles.toSeq.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(groups.size === 3 && groups.forall(_ >= 3), groups)
  }

  test("property: knn equals brute force on a store scan and a derived frame") {
    val gen = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, Gen.zip(coord, coord))
      parts <- Gen.choose(1, 4)
      qs <- queries(2, 1 << 30, n)
    } yield (rows, parts, qs)
    check(12)(Prop.forAllNoShrink(gen) { case (rows, parts, qs) =>
      val ided = rows.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val scan = store2(ided, parts)
      val oracle = ided.map { case (id, x, y) => (id, Seq(x, y)) }
      qs.foreach { case (q, k) =>
        val want = brute(oracle, q, k)
        assert(knn2(scan, q, k) === want, s"store scan knn($q, $k)")
        assert(knn2(derived(scan), q, k) === want, s"derived knn($q, $k)")
      }
      true
    })
  }

  test("property: knn3 equals brute force on a store scan and a derived frame") {
    val gen = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, Gen.zip(coord, coord, coord))
      parts <- Gen.choose(1, 4)
      qs <- queries(3, 1 << 29, n)
    } yield (rows, parts, qs)
    check(12)(Prop.forAllNoShrink(gen) { case (rows, parts, qs) =>
      val ided = rows.zipWithIndex.map { case ((x, y, t), i) => (i.toLong, x, y, t) }
      val scan = store3(ided, parts)
      val oracle = ided.map { case (id, x, y, t) => (id, Seq(x, y, t)) }
      qs.foreach { case (q, k) =>
        val want = brute(oracle, q, k)
        assert(knn3(scan, q, k) === want, s"store scan knn3($q, $k)")
        assert(knn3(derived(scan), q, k) === want, s"derived knn3($q, $k)")
      }
      true
    })
  }

  private def edgeCases(dims: Int): Gen[Edge] = for {
    far <- Gen.frequency(4 -> false, 1 -> true)
    end <- Gen.oneOf(Int.MaxValue, Int.MinValue)
    near <- Gen.listOfN(dims, Gen.choose(-20, 20))
    spread <- Gen.oneOf(40, 300, 3000)
    ties <- if (far) Gen.const(0) else Gen.choose(4, 30)
    noise <- Gen.choose(0, 60).flatMap(Gen.listOfN(_, Gen.frequency(
      4 -> Gen.listOfN(dims, Gen.choose(-spread, spread).map(Option(_))),
      4 -> Gen.listOfN(dims, Gen.choose(spread * 7 / 10 - 3, spread * 7 / 10 + 3).map(Option(_))),
      1 -> Gen.listOfN(dims, Gen.option(Gen.choose(-spread, spread))))))
    n = 2 + ties + noise.size
    k <- Gen.choose(1, math.max(1, n / 4))
    seqs <- Gen.listOfN(n, Gen.choose(0L, 2L))
    kills <- Gen.listOfN(3, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0L, 3L)))
    rects <- Gen.choose(1, 2).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.listOfN(4, Gen.choose(-1.3, 1.3)), Gen.choose(0L, 3L))))
    bound <- Gen.choose(0L, 3L)
  } yield Edge(if (far) end +: near.tail else near, far, spread, ties, noise, k, seqs, kills, rects, bound)

  /** Checks the frames of edge cases against brute force and counts
    * the edges they reached: ladder answers that a tie on the first
    * round's ball boundary decides (`boundaryTies`); ladder rounds whose
    * window holds ≥ k rows with the k-th beyond the ball and a row
    * outside the window nearer than it, where answering from the window
    * would be wrong (`windowTraps`); and store-scan probes at the tie
    * group's radius (`storeProbesAtTies`). */
  private final class EdgeCounts {
    var boundaryTies = 0
    var windowTraps = 0
    var storeProbesAtTies = 0

    /** Each frame: its name, the frame, its rows, and the radius its
      * ladder starts at (None for a store scan). */
    def run(e: Edge, frames: Seq[(String, DataFrame, Seq[(Long, Seq[Option[Int]])], Option[Int])],
            knn: (DataFrame, Seq[Int], Int, Int) => Seq[(Long, Long)]): Unit =
      frames.foreach { case (name, df, rows, ladder) =>
        val pts = rows.collect { case (id, c) if c.forall(_.isDefined) => (id, c.flatten) }
        def d2(c: Seq[Int]): Long = c.zip(e.q).map { case (v, w) => (v.toLong - w) * (v.toLong - w) }.sum
        val r = ladder.getOrElse(64).toLong
        val inWindow = pts.filter(_._2.zip(e.q).forall { case (v, w) => math.abs(v.toLong - w) <= r })
        val ball = pts.count(p => d2(p._2) <= r * r)
        val ks = ladder.fold(Seq(e.k, pts.size + 5))(_ =>
          Seq(e.k, ball - 1, ball, ball + 1, inWindow.size, pts.size + 5)).filter(_ > 0).distinct
        ks.foreach { k =>
          val want = brute(rows, e.q, k)
          assert(knn(df, e.q, k, ladder.getOrElse(64)) === want, s"$name knn(${e.q}, $k) of $e")
          if (ladder.isDefined && !e.far) {
            if (want.size == k && want.last._1 == r * r) boundaryTies += 1
            val windowKth = inWindow.map(p => d2(p._2)).sorted.lift(k - 1)
            if (windowKth.exists(w => w > r * r && pts.exists(p => d2(p._2) < w && !inWindow.contains(p))))
              windowTraps += 1
          }
        }
      }
  }

  /** The store-scan probe radius for `k` around `q`, when a probe runs. */
  private def probeRadius(scan: DataFrame, coords: Seq[String], q: Seq[Int], k: Int): Option[Int] =
    ZoneMap.of(scan, coords).flatMap(_.knnStart(q, k)).collect { case (p, cap) if p < cap => p.toInt }

  test("property: knn equals brute force at the probe's edge on a store scan, derived frame, live and snapshot") {
    import spark.implicits._
    val counts = new EdgeCounts
    def write(e: Edge, rows: Seq[(Long, Seq[Option[Int]])]): PointStore = {
      val dir = tmp("edge2") + "/store"
      writeClustered(PointStore.points(rows.zip(e.seqs).map { case ((id, c), s) => (id, c(0), c(1), s) }
        .toDF("pid", "px", "py", "put_seq"), col("pid"), col("px"), col("py"), Seq(col("put_seq"))),
        "zkey", dir, 1, Map.empty)
      PointStore.open(spark, dir)
    }
    check(8)(Prop.forAllNoShrink(edgeCases(2)) { e =>
      // the tie group's radius changes neither the row count nor the
      // box, so the store written with it probes at the radius found
      val probe = probeRadius(write(e, e.rows(1)).df, Seq("x", "y"), e.q, e.k)
      val r = if (e.far) 3 else probe.getOrElse(1)
      val rows = e.rows(r)
      val store = write(e, rows)
      if (!e.far && probe.isDefined && probeRadius(store.df, Seq("x", "y"), e.q, e.k) == probe)
        counts.storeProbesAtTies += 1
      // takedowns: equality markers on picked rows, rectangles around q
      val kills = e.kills.map { case (f, s) => val (id, c) = rows((f * (rows.size - 1)).toInt); (id, c, s) }
      val unit = if (e.far) e.spread else r
      val rects = e.rects.map { case (Seq(a, b, c, d), s) =>
        def at(i: Int, u: Double, v: Double) =
          (e.center(i) + math.min(u, v) * unit, e.center(i) + math.max(u, v) * unit)
        val ((x0, x1), (y0, y1)) = (at(0, a, b), at(1, c, d))
        (x0.toInt, x1.toInt, y0.toInt, y1.toInt, s)
      }
      store.delete(kills.map { case (id, c, s) => (id, c(0), c(1), s) }.toDF("id", "x", "y", "put_seq"))
      store.deleteRange(rects.toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
      def alive(upTo: Long): Seq[(Long, Seq[Option[Int]])] = rows.zip(e.seqs).collect {
        case ((id, c), s) if s <= upTo && !(c.forall(_.isDefined) && (
            kills.exists { case (kid, kc, ks) => ks <= upTo && kid == id && kc == c && s <= ks } ||
            rects.exists { case (x0, x1, y0, y1, rs) => rs <= upTo && s <= rs &&
              c(0).get >= x0 && c(0).get <= x1 && c(1).get >= y0 && c(1).get <= y1 })) => (id, c)
      }
      val ladder = Some(r)
      counts.run(e, Seq(
        ("store scan", store.df, rows, None),
        ("derived", derived(store.df), rows, ladder),
        ("live", store.live(Seq("put_seq")), alive(Long.MaxValue), ladder),
        ("snapshot", store.snapshotAsOf(Seq("put_seq"), Seq(lit(e.bound))), alive(e.bound), ladder)),
        knn2(_, _, _, _))
      true
    })
    assert(counts.boundaryTies > 0 && counts.windowTraps > 0 && counts.storeProbesAtTies > 0,
      s"ties ${counts.boundaryTies}, traps ${counts.windowTraps}, store probes ${counts.storeProbesAtTies}")
  }

  test("property: knn3 equals brute force at the probe's edge on a store scan and a derived frame") {
    val counts = new EdgeCounts
    def write(rows: Seq[(Long, Seq[Option[Int]])]): DataFrame =
      store3(rows.map { case (id, c) => (id, c(0), c(1), c(2)) }, 1, Map.empty)
    check(8)(Prop.forAllNoShrink(edgeCases(3)) { e =>
      val probe = probeRadius(write(e.rows(1)), Seq("x", "y", "t"), e.q, e.k)
      val r = if (e.far) 3 else probe.getOrElse(1)
      val rows = e.rows(r)
      val scan = write(rows)
      if (!e.far && probe.isDefined && probeRadius(scan, Seq("x", "y", "t"), e.q, e.k) == probe)
        counts.storeProbesAtTies += 1
      counts.run(e, Seq(("store scan", scan, rows, None), ("derived", derived(scan), rows, Some(r))),
        knn3(_, _, _, _))
      true
    })
    assert(counts.boundaryTies > 0 && counts.windowTraps > 0 && counts.storeProbesAtTies > 0,
      s"ties ${counts.boundaryTies}, traps ${counts.windowTraps}, store probes ${counts.storeProbesAtTies}")
  }

  test("knn probe jobs: a store-scan knn and knn3 submit at most one job before collect") {
    val rnd = new scala.util.Random(11)
    val rows2 = (0L until 4000L).map(i => (i, Some(rnd.nextInt(100000)), Some(rnd.nextInt(100000))))
    val scan2 = store2(rows2, 4)
    val rows3 = (0L until 4000L).map(i =>
      (i, Some(rnd.nextInt(5000)), Some(rnd.nextInt(5000)), Some(rnd.nextInt(5000))))
    val scan3 = store3(rows3, 4)
    val oracle2 = rows2.map { case (id, x, y) => (id, Seq(x, y)) }
    val oracle3 = rows3.map { case (id, x, y, t) => (id, Seq(x, y, t)) }
    for ((q, k) <- Seq((Seq(50000, 50000), 10), (Seq(0, 99999), 1000), (Seq(1 << 30, 7), 3),
                       (Seq(12345, 777), 4000))) {
      val (res, jobs) = jobsDuring(PointStore.knn(scan2, q(0), q(1), k))
      assert(jobs <= 1, s"knn($q, $k) on a store scan submitted $jobs jobs")
      assert(res.select("dist2", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        brute(oracle2, q, k))
    }
    for ((q, k) <- Seq((Seq(2500, 2500, 2500), 10), (Seq(0, 0, 0), 100), (Seq(-(1 << 20), 9, 9), 1))) {
      val (res, jobs) = jobsDuring(SpatioTemporal.knn3(scan3, q(0), q(1), q(2), k))
      assert(jobs <= 1, s"knn3($q, $k) on a store scan submitted $jobs jobs")
      assert(res.select("dist3", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        brute(oracle3, q, k))
    }
    // the counter does count probes: the same far query on a derived
    // frame walks the ladder, one job per round. A probe window no file
    // footer can match is planned over no file and submits no job, so
    // the count runs with parquet filter pushdown (and file skipping) off
    def ladder(): Int = jobsDuring(PointStore.knn(derived(scan2), Int.MaxValue, Int.MaxValue, 3,
      initialRadius = 1))._2
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    val unpruned = try ladder() finally spark.conf.unset("spark.sql.parquet.filterPushdown")
    assert(unpruned >= 10, s"ladder probes: $unpruned")
    val pruned = ladder()
    assert(pruned <= 2, s"ladder probes with file skipping: $pruned")
  }

  test("knn answers from its probe: one job for a store-scan knn or knn3 and its collect") {
    val rnd = new scala.util.Random(17)
    val rows2 = (0L until 4000L).map(i => (i, Some(rnd.nextInt(100000)), Some(rnd.nextInt(100000))))
    val scan2 = store2(rows2, 4)
    val rows3 = (0L until 4000L).map(i =>
      (i, Some(rnd.nextInt(5000)), Some(rnd.nextInt(5000)), Some(rnd.nextInt(5000))))
    val scan3 = store3(rows3, 4)
    val oracle2 = rows2.map { case (id, x, y) => (id, Seq(x, y)) }
    val oracle3 = rows3.map { case (id, x, y, t) => (id, Seq(x, y, t)) }
    for ((q, k) <- Seq((Seq(50000, 50000), 10), (Seq(20000, 70000), 100), (Seq(61234, 38765), 1))) {
      val (got, jobs) = jobsDuring(knn2(scan2, q, k))
      assert(jobs === 1, s"knn($q, $k) on a store scan submitted $jobs jobs")
      assert(got === brute(oracle2, q, k))
    }
    for ((q, k) <- Seq((Seq(2500, 2500, 2500), 10), (Seq(1200, 3400, 2600), 50))) {
      val (got, jobs) = jobsDuring(knn3(scan3, q, k))
      assert(jobs === 1, s"knn3($q, $k) on a store scan submitted $jobs jobs")
      assert(got === brute(oracle3, q, k))
    }
  }

  test("a probe whose k-th lies beyond its ball falls back to the final scan and stays exact") {
    // four stacks of rows at the corners (±60, ±60) and two anchors at
    // (±100, ±100), in one row group: the probe window around the origin
    // takes the corners, but their distance lies beyond its ball
    val rows = (Seq((-100, -100), (100, 100)) ++
      Seq.fill(4)(Seq((60, 60), (-60, 60), (60, -60), (-60, -60))).flatten)
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, Some(x), Some(y)) }
    val scan = store2(rows, 1, Map.empty)
    val k = 4
    val Some((probe, _)) = ZoneMap.of(scan, Seq("x", "y")).flatMap(_.knnStart(Seq(0, 0), k))
    assert(60 <= probe && 2 * 60 * 60 > probe * probe, s"probe radius $probe")
    val (res, jobs) = jobsDuring {
      val lazyFinal = PointStore.knn(scan, 0, 0, k)
      val plan = lazyFinal.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject") && !plan.contains("SortExec"), plan)
      lazyFinal.select("dist2", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(jobs <= 2, s"fallback submitted $jobs jobs")
    assert(res === brute(rows.map { case (id, x, y) => (id, Seq(x, y)) }, Seq(0, 0), k))
  }

  test("a ladder round past the largest squarable radius answers: its collect submits no job") {
    // radii 3·8^n: the round at 3·8^10 > 3,037,000,499 takes every row,
    // and r² overflows a Long
    val rows = (0L until 20L).map(i => (i, Some(i.toInt), Some(-i.toInt)))
    val res = PointStore.knn(derived(store2(rows, 2)), Int.MaxValue, 0, 3, initialRadius = 3)
    val (got, jobs) = jobsDuring(res.select("dist2", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(jobs === 0, s"collecting the answer submitted $jobs jobs")
    assert(got === brute(rows.map { case (id, x, y) => (id, Seq(x, y)) }, Seq(Int.MaxValue, 0), 3))
  }

  test("footers without coordinate statistics fall back to the ladder and stay exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0L until 600L).map(i => (i, rnd.nextInt(2000) - 1000, rnd.nextInt(2000) - 1000))
    val dir = tmp("nostats") + "/store"
    val pts = PointStore.points(rows.toDF("pid", "px", "py"), col("pid"), col("px"), col("py"))
    writeClustered(pts.filter(col("id") < 300L), "zkey", dir, 2)
    // one more file, written with parquet statistics disabled
    pts.filter(col("id") >= 300L).coalesce(1).sortWithinPartitions("zkey").write
      .option("parquet.column.statistics.enabled", "false").mode("append").parquet(dir)
    val scan = PointStore.open(spark, dir).df
    assert(scan.inputFiles.length === 3)
    assert(ZoneMap.of(scan, Seq("x", "y")).isEmpty, "a file without statistics must disable the zone map")
    assert(ZoneMap.of(scan.filter(col("id") < 300L), Seq("x", "y")).isEmpty)
    val oracle = rows.map { case (id, x, y) => (id, Seq(Some(x), Some(y))) }
    for ((q, k) <- Seq((Seq(0, 0), 5), (Seq(-999, 999), 40), (Seq(5000, -5000), 600), (Seq(3, 3), 601)))
      assert(knn2(scan, q, k) === brute(oracle, q, k), s"knn($q, $k)")
  }

  test("knn stays exact after compactDeletes and recluster rewrite the store in place") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val rows = (0L until 800L).map(i => (i, rnd.nextInt(400), rnd.nextInt(400), 0L))
    val dir = tmp("rewrite") + "/store"
    PointStore.write(PointStore.points(rows.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), dir, 4)
    val store = PointStore.open(spark, dir)
    val q = Seq(200, 200)
    def oracle(alive: Seq[(Long, Int, Int, Long)]) =
      alive.map { case (id, x, y, _) => (id, Seq(Some(x), Some(y))) }
    assert(knn2(store.df, q, 50) === brute(oracle(rows), q, 50)) // caches the old files' zones
    // take down the 300 rows nearest the query, then fold
    val victims = brute(oracle(rows), q, 300).map(_._2).toSet
    val dead = rows.filter(r => victims(r._1))
    store.delete(dead.map { case (id, x, y, _) => (id, x, y, 1L) }.toDF("id", "x", "y", "put_seq"))
    store.compactDeletes(Seq("put_seq"), numPartitions = 3)
    val alive = rows.filterNot(r => victims(r._1))
    for (k <- Seq(1, 50, 499, 500, 501))
      assert(knn2(store.df, q, k) === brute(oracle(alive), q, k), s"after fold, k=$k")
    StreamingIngest.recluster(spark, dir, threshold = 90L)
    assert(store.df.inputFiles.length >= 5)
    for (k <- Seq(1, 50, 500, 501))
      assert(knn2(store.df, q, k) === brute(oracle(alive), q, k), s"after recluster, k=$k")
  }

  test("files a stream appends enter the next knn's bound") {
    val src = tmp("src"); val dir = tmp("stream") + "/store"
    val stats = tmp("stats") + "/stats"; val ckpt = tmp("ckpt")
    val events = spark.read.parquet(sf("sf0.01") + "/events.parquet")
      .filter(col("value").isNotNull && col("user_id").isNotNull).limit(1200).cache()
    events.filter(col("event_id") % 2 === 0).write.parquet(s"$src/b0")
    val q = StreamingIngest.start(spark.readStream.schema(events.schema).parquet(s"$src/*"),
      dir, stats, ckpt, splitThreshold = 100000L)
    def rows: Seq[(Long, Seq[Option[Int]])] = spark.read.parquet(dir).select("id", "x", "y")
      .collect().map(r => (r.getLong(0), Seq(Some(r.getInt(1)), Some(r.getInt(2))))).toSeq
    val query = Seq(50, 500)
    try {
      q.processAllAvailable()
      val n0 = rows.size
      val before = PointStore.open(spark, dir).df
      assert(ZoneMap.of(before, Seq("x", "y")).map(_.knnStart(query, n0 + 1)) === Some(None))
      assert(knn2(before, query, 20) === brute(rows, query, 20))
      events.filter(col("event_id") % 2 === 1).write.parquet(s"$src/b1")
      q.processAllAvailable()
      val after = PointStore.open(spark, dir).df
      assert(rows.size > n0)
      assert(ZoneMap.of(after, Seq("x", "y")).flatMap(_.knnStart(query, n0 + 1)).isDefined,
        "the appended files must count toward the cap")
      assert(knn2(after, query, 20) === brute(rows, query, 20))
      assert(knn2(after, query, n0 + 1) === brute(rows, query, n0 + 1))
    } finally q.stop()
  }

  test("a file rewritten under the same path never serves its old zones") {
    import spark.implicits._
    // plain encoding, no compression: two files with the same row count
    // have the same length, so the second case changes only the
    // modification time
    val plain = Map("parquet.enable.dictionary" -> "false", "compression" -> "none")
    def oneFile(pts: Seq[(Long, Int, Int)]): File = {
      val dir = tmp("file") + "/store"
      writeClustered(PointStore.points(pts.toDF("pid", "px", "py"),
        col("pid"), col("px"), col("py")), "zkey", dir, 1, plain)
      new File(new Path(spark.read.parquet(dir).inputFiles.head).toUri)
    }
    /** Copy `from` over `to` (and its checksum sibling), then set the
      * modification time. */
    def replace(from: File, to: File, mtime: Long): Unit = {
      def crc(f: File) = new File(f.getParentFile, s".${f.getName}.crc")
      Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
      Files.copy(crc(from).toPath, crc(to).toPath, StandardCopyOption.REPLACE_EXISTING)
      assert(to.setLastModified(mtime))
    }
    val near = (0L until 40L).map(i => (i, i.toInt % 7, i.toInt / 7))
    val target = oneFile(near)
    val dir = target.getParent
    def cap(): Option[Long] =
      ZoneMap.of(spark.read.parquet(dir), Seq("x", "y")).flatMap(_.knnStart(Seq(0, 0), 40)).map(_._2)
    assert(cap().exists(_ < 100))
    // same path and modification time, different length
    val mtime = target.lastModified()
    val longer = oneFile((0L until 80L).map(i => (i, 10000 + i.toInt, 10000)))
    assert(longer.length() != target.length())
    replace(longer, target, mtime)
    assert(cap().exists(_ > 10000))
    assert(knn2(spark.read.parquet(dir), Seq(0, 0), 3).map(_._2) === Seq(0L, 1L, 2L))
    // same path and length, different modification time
    val sameLength = oneFile((0L until 80L).map(i => (i, 20000 + i.toInt, 20000)))
    assert(sameLength.length() === target.length())
    replace(sameLength, target, mtime + 60000L)
    assert(cap().exists(_ > 20000))
    assert(knn2(spark.read.parquet(dir), Seq(0, 0), 80).map(_._1) ===
      (0 until 80).map(i => (20000L + i) * (20000L + i) + 20000L * 20000L))
  }
}

object ZoneMapSpec {

  /** Offsets of a tie group at radius `r` in `dims` dimensions, four
    * kinds interleaved so that any prefix mixes them: on the window's
    * inscribed circle (dx² + dy² = r²; the axis points lie on the window
    * edge too), on the window edge beyond the circle, at the window's
    * corners, and just outside the window — nearer than a corner, so a
    * round that answered from its window instead of its ball would miss
    * them. */
  def tieOffsets(dims: Int, r: Int): Seq[Seq[Int]] = {
    def axis(i: Int, v: Int): Seq[Int] = Seq.tabulate(dims)(j => if (j == i) v else 0)
    val circle = (0 to r).flatMap { a =>
      val b = math.round(math.sqrt(r.toDouble * r - a.toDouble * a)).toInt
      if (a.toLong * a + b.toLong * b != r.toLong * r) Nil
      else for (sa <- Seq(a, -a).distinct; sb <- Seq(b, -b).distinct) yield sa +: sb +: Seq.fill(dims - 2)(0)
    } ++ (2 until dims).flatMap(i => Seq(axis(i, r), axis(i, -r)))
    val edge = for (i <- 0 until dims; j <- Seq(1, r / 2, r - 1).distinct if j > 0 && j < r; v <- Seq(r, -r))
      yield axis(i, v).updated((i + 1) % dims, j)
    val corners = (0 until 1 << dims).map(m => Seq.tabulate(dims)(i => if ((m >> i & 1) == 1) r else -r))
    val outside = (0 until dims).flatMap(i => Seq(axis(i, r + 1), axis(i, -r - 1)))
    val kinds = Seq(circle, outside, edge, corners)
    (0 until kinds.map(_.size).max).flatMap(i => kinds.flatMap(_.lift(i)))
  }

  /**
   * A query at a probe's edge. Rows: two anchors at `center ± spread`
   * that fix the row group's box, `ties` tie-group rows around `q` at a
   * radius chosen later, and background rows offset from the center
   * (uniform, in a clump away from the query, or with null coordinates).
   * `k` is the k the store-scan probe is sized for. A far case puts
   * `q(0)` at an end of the Int range, the center at the origin and no
   * tie group. The rest drives the 2-D store's history: each row's
   * `put_seq`, equality takedowns (a row picked by fraction, with a
   * sequence), rectangle takedowns (corners in units of the radius
   * around the query) and a snapshot bound.
   */
  final case class Edge(q: Seq[Int], far: Boolean, spread: Int, ties: Int,
                                noise: Seq[Seq[Option[Int]]], k: Int, seqs: Seq[Long],
                                kills: Seq[(Double, Long)], rects: Seq[(Seq[Double], Long)], bound: Long) {
    val dims: Int = q.size
    val center: Seq[Int] = if (far) Seq.fill(dims)(0) else q

    /** The rows, with the tie group at radius `r`. */
    def rows(r: Int): Seq[(Long, Seq[Option[Int]])] = {
      val anchors = Seq(-1, 1).map(s => center.map(c => Option(c + s * spread)))
      val ring = if (far) Nil
        else Iterator.continually(tieOffsets(dims, r)).flatten.take(ties)
          .map(o => q.zip(o).map { case (a, b) => Option(a + b) }).toSeq
      val background = noise.map(_.zip(center).map { case (o, c) => o.map(_ + c) })
      (anchors ++ ring ++ background).zipWithIndex.map { case (c, i) => (i.toLong, c) }
    }
  }
}
