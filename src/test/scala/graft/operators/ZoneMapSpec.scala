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

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-zm-$name").toString

  /** Writer options giving a few rows per row group, so every file of a
    * test store holds several row groups. */
  private val SmallRowGroups = Map("parquet.block.row.count.limit" -> "8")

  private def writeClustered(pts: DataFrame, key: String, path: String, parts: Int,
                             options: Map[String, String] = SmallRowGroups): Unit =
    pts.repartitionByRange(parts, col(key)).sortWithinPartitions(key)
      .write.options(options).mode("overwrite").parquet(path)

  private def store2(rows: Seq[(Long, Option[Int], Option[Int])], parts: Int): DataFrame = {
    import spark.implicits._
    val dir = tmp("store2") + "/store"
    writeClustered(PointStore.points(rows.toDF("pid", "px", "py"),
      col("pid"), col("px"), col("py")), "zkey", dir, parts)
    PointStore.open(spark, dir).df
  }

  private def store3(rows: Seq[(Long, Option[Int], Option[Int], Option[Int])],
                     parts: Int): DataFrame = {
    import spark.implicits._
    val dir = tmp("store3") + "/store"
    writeClustered(SpatioTemporal.points3(rows.toDF("pid", "px", "py", "pt"),
      col("pid"), col("px"), col("py"), col("pt")), "z3", dir, parts)
    SpatioTemporal.open(spark, dir).df
  }

  /** Not a bare scan: no zone map, so kNN walks the ladder. */
  private def derived(df: DataFrame): DataFrame = df.filter(col("id") >= Long.MinValue)

  /** Brute-force kNN as `(dist², id)`: rows with every coordinate. */
  private def brute(rows: Seq[(Long, Seq[Option[Int]])], q: Seq[Int], k: Int): Seq[(Long, Long)] =
    rows.collect { case (id, c) if c.forall(_.isDefined) =>
      (c.flatten.zip(q).map { case (v, w) => (v.toLong - w) * (v.toLong - w) }.sum, id)
    }.sorted.take(k)

  private def knn2(df: DataFrame, q: Seq[Int], k: Int): Seq[(Long, Long)] =
    PointStore.knn(df, q(0), q(1), k).select("dist2", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def knn3(df: DataFrame, q: Seq[Int], k: Int): Seq[(Long, Long)] =
    SpatioTemporal.knn3(df, q(0), q(1), q(2), k).select("dist3", "id").collect()
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
