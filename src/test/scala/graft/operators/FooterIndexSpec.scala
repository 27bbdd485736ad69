package graft.operators

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Random

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.zorder.IntRange

/** Store reads skip files on the driver by footer statistics
  * ([[ParquetFooters.readParquet]]'s file index): every read answers as
  * the same read with parquet filter pushdown off and as a plain
  * `spark.read.parquet`, while a point lookup plans one file of 32. */
class FooterIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-fi-$name").toString

  private def check(cases: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(808L)).withMaxDiscardRatio(1f), p)
    assert(res.passed, res.status.toString)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private val Pushdown = "spark.sql.parquet.filterPushdown"

  /** `df`'s rows, and the files its executed scans read. */
  private def readWithFiles(df: DataFrame): (Seq[Row], Long) = {
    val rows = df.collect().toSeq
    (rows, collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum)
  }

  private def filesRead(df: DataFrame): Long = readWithFiles(df)._2

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  // ---- a 32-file 2-D store: 32,000 uniform points over a 2^22 square
  private val Side = 1 << 22
  private lazy val rows32 = {
    val rnd = new Random(32)
    (0L until 32000L).map(i => (i, rnd.nextInt(Side), rnd.nextInt(Side), 0L))
  }
  private lazy val store32: String = {
    val p = tmp("store32") + "/store"
    PointStore.write(PointStore.points(rows32.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), p, 32)
    p
  }

  test("a get plans 1 of 32 files, a 1e-5 range at most 2, full scans and unpushed reads all 32") {
    val path = store32
    val (store, jobs) = jobsDuring(PointStore.open(spark, path).df)
    assert(jobs === 0, "building the read")
    assert(store.inputFiles.length === 32)
    for (i <- Seq(0, 7, 31999)) {
      val (_, x, y, _) = rows32(i)
      val (got, files) = readWithFiles(PointStore.get(store, x, y))
      assert(got.map(_.getAs[Long]("id")).contains(rows32(i)._1))
      assert(files === 1, s"get($x, $y)")
    }
    // a square holding 1e-5 of the domain
    val side = math.sqrt(1e-5 * Side.toDouble * Side).toInt
    for (i <- Seq(3, 500, 20000)) {
      val (_, x, y, _) = rows32(i)
      val rect = PointStore.rangeQuery(store, IntRange(x, x + side), IntRange(y, y + side))
      val (got, files) = readWithFiles(rect)
      assert(got.nonEmpty)
      assert(files <= 2, s"range at ($x, $y)")
    }
    val all = IntRange(0, Side - 1)
    assert(filesRead(PointStore.rangeQuery(store, all, all)) === 32)
    assert(filesRead(store) === 32)
    withConf(Pushdown, "false") {
      val (_, x, y, _) = rows32(7)
      assert(filesRead(PointStore.get(store, x, y)) === 32)
    }
  }

  test("a read lists each path once: Spark's index finds the listing cached") {
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    val hits = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS
    val (d0, h0) = (discovered.getCount, hits.getCount)
    val path = store32
    val df = ParquetFooters.readParquet(spark, path)
    assert(discovered.getCount - d0 === 0)
    assert(hits.getCount - h0 === 32)
    assert(df.inputFiles.length === 32)
  }

  test("a listing above the footer cache lists every file instead of pruning") {
    val dir = tmp("many") + "/t"
    Seq(0L).toDF("id").coalesce(1).write.parquet(dir + "-zero")
    Seq(1L).toDF("id").coalesce(1).write.parquet(dir + "-one")
    def part(d: String) = new File(d).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    val target = Files.createDirectories(new File(dir).toPath)
    Files.copy(part(dir + "-one"), target.resolve("f-00000.parquet"))
    (1 until 4096).foreach(i => Files.copy(part(dir + "-zero"), target.resolve(f"f-$i%05d.parquet")))
    /** The files the store's index lists for `id = 1`. */
    def listed(): Int = {
      val df = ParquetFooters.readParquet(spark, dir).filter(col("id") === 1L)
      val scan = df.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get
      scan.relation.location.listFiles(Nil, scan.dataFilters).map(_.files.size).sum
    }
    assert(listed() === 1)
    Files.copy(part(dir + "-zero"), target.resolve("f-04096.parquet"))
    assert(listed() === 4097)
  }

  // ---- the equality property's fixtures
  /** A point file written alone, uncompressed and dictionary-free, so
    * files of as many rows have the same length. */
  private def pointFile(rows: Seq[(Long, Option[Int], Option[Int], Long)], options: Map[String, String] = Map(
      "compression" -> "none", "parquet.enable.dictionary" -> "false",
      "parquet.page.write-checksum.enabled" -> "false")): File = {
    val dir = tmp("file") + "/f"
    PointStore.points(rows.toDF("pid", "px", "py", "put_seq"), col("pid"), col("px"), col("py"),
      Seq(col("put_seq"))).coalesce(1).sortWithinPartitions("zkey")
      .write.options(options).parquet(dir)
    new File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
  }

  private def fsStatus(f: File) = {
    val p = new org.apache.hadoop.fs.Path(f.toURI)
    p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
  }

  private def crc(f: File) = new File(f.getParentFile, s".${f.getName}.crc")

  /** `src`'s bytes (and checksum) at `dst`. */
  private def place(src: File, dst: File): Unit = {
    Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    if (crc(src).exists) Files.copy(crc(src).toPath, crc(dst).toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  private lazy val fixture = {
    val rnd = new Random(17)
    def coord(): Option[Int] = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(4000) - 1000)
    val base = (0L until 1200L).map(i => (i, coord(), coord(), i % 4))
    val dir = tmp("tree") + "/store"
    // six z-clustered files of the base rows
    PointStore.write(PointStore.points(base.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), dir + "-base", 6)
    new File(dir).mkdirs()
    new File(dir + "-base").listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) => place(f, new File(dir, f"a-$i%03d.parquet")) }
    // a file without column statistics
    val nostats = (2000L until 2100L).map(i => (i, Some((i * 7 % 300).toInt + 5000), Some((i % 50).toInt), 1L))
    place(pointFile(nostats, Map("parquet.column.statistics.enabled" -> "false")), new File(dir, "s-nostats.parquet"))
    // a file of no row groups
    place(pointFile(Nil), new File(dir, "e-empty.parquet"))
    assert(ParquetFooters.of(Seq(fsStatus(new File(dir, "e-empty.parquet"))),
      spark.sessionState.newHadoopConf()).head.getBlocks.isEmpty)
    // an older-era file without `put_seq`
    val legacyDir = tmp("legacy") + "/f"
    PointStore.points((3000L until 3060L).map(i => (i, (i % 60).toInt - 30, (i % 7).toInt + 6000))
      .toDF("pid", "px", "py"), col("pid"), col("px"), col("py")).coalesce(1).write.parquet(legacyDir)
    place(new File(legacyDir).listFiles().find(_.getName.endsWith(".parquet")).get,
      new File(dir, "z-legacy.parquet"))
    // the file replaced in place: variants A and B of one length in
    // disjoint regions, C longer
    val a = (4000L until 4080L).map(i => (i, Some((i % 80).toInt + 7000), Some((i % 9).toInt + 100), 2L))
    val b = a.map { case (id, x, y, s) => (id, y, x, s) }
    val c = (4000L until 4200L).map(i => (i, Some((i % 33).toInt - 900), Some((i % 70).toInt - 900), 3L))
    val variants = Seq(a, b, c).map(pointFile(_))
    assert(variants(0).length === variants(1).length)
    assert(variants(2).length !== variants(0).length)
    place(variants(0), new File(dir, "r-inplace.parquet"))
    val store = PointStore.open(spark, dir)
    assert(store.df.inputFiles.length === 10)
    store.delete(base.filter(_._1 % 11 == 0).map { case (id, x, y, _) => (id, x, y, 2L) }
      .toDF("id", "x", "y", "put_seq"))
    store.deleteRange(Seq((-1000, 200, -1000, 200, 3L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    val coords = (base ++ nostats ++ a ++ b ++ c).flatMap { case (_, x, y, _) => x.zip(y) } ++
      (3000L until 3060L).map(i => ((i % 60).toInt - 30, (i % 7).toInt + 6000))
    (dir, variants, coords, Seq(a, b, c).map(_.flatMap { case (_, x, y, _) => x.zip(y) }))
  }

  private lazy val store3: String = {
    val rnd = new Random(3)
    def c(): Option[Int] = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(3000) - 500)
    val dir = tmp("st") + "/store"
    SpatioTemporal.write(SpatioTemporal.points3((0L until 800L).map(i => (i, c(), c(), c()))
      .toDF("pid", "px", "py", "pt"), col("pid"), col("px"), col("py"), col("pt")), dir, 4)
    dir
  }

  test("file-pruned point and 3-D reads equal the unpushed and the plain reads") {
    val (dir, variants, coords, variantCoords) = fixture
    val target = new File(dir, "r-inplace.parquet")
    var mtime = target.lastModified()
    // the replaced file's variants in turn, from variant 0: same-length
    // swaps (0 and 1) and changes of length (to and from 2)
    val order = Seq(1, 0, 2, 0, 1, 2, 1, 0)
    var step = 0
    val gen = for {
      near <- Gen.frequency(3 -> true, 1 -> false)
      at <- Gen.choose(0, Int.MaxValue)
      miss <- Gen.oneOf(false, true)
      w <- Gen.frequency(4 -> Gen.choose(0, 300), 1 -> Gen.choose(300, 9000))
      h <- Gen.frequency(4 -> Gen.choose(0, 300), 1 -> Gen.choose(300, 9000))
      k <- Gen.oneOf(1, 5, 40, 400)
      ids <- Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.choose(0L, 4300L)))
      bound <- Gen.choose(0L, 3L)
      q3 <- Gen.listOfN(3, Gen.choose(-600, 2600))
    } yield (near, at, miss, w, h, k, ids, bound, q3)
    check(order.size)(Prop.forAllNoShrink(gen) { case (near, at, miss, w, h, k, ids, bound, q3) =>
      // replace the file in place: a new length, or the same length and
      // a new modification time
      val variant = order(step % order.size)
      step += 1
      place(variants(variant), target)
      mtime += 10000L
      assert(target.setLastModified(mtime))
      // every read centres on a point, near the replaced file's rows or anywhere
      val pool = if (near) variantCoords(variant) else coords
      val (qx, qy) = pool(at % pool.size)
      val (gx, gy) = if (miss) (qx + 1, qy) else (qx, qy)
      val (rx, ry) = (IntRange(qx - w / 2, qx + w - w / 2), IntRange(qy - h / 2, qy + h - h / 2))
      val store = PointStore.open(spark, dir)
      val st = SpatioTemporal.open(spark, store3)
      val seq = Seq("put_seq")
      val r3 = IntRange(q3(0), q3(0) + 400)
      /** Every read of `pts` (a store's 2-D or 3-D frame) in one list. */
      def reads(pts: DataFrame, st3: DataFrame, withStore: Boolean): Seq[Seq[String]] = {
        val point = Seq(PointStore.get(pts, gx, gy), PointStore.rangeQuery(pts, rx, ry),
          pts.filter(col("id").isin(ids: _*)), SpatioTemporal.rangeQuery3(st3, r3, r3, r3))
          .map(df => sorted(df.collect().toSeq))
        val knn = Seq(PointStore.knn(pts, qx, qy, k), SpatioTemporal.knn3(st3, q3(0), q3(1), q3(2), k))
          .map(_.collect().toSeq.map(_.toString))
        val served = if (!withStore) Nil else Seq(
          PointStore.rangeQuery(store.live(seq), rx, ry),
          PointStore.rangeQuery(store.snapshotAsOf(seq, Seq(lit(bound))), rx, ry),
          PointStore.get(store.live(seq), gx, gy)).map(df => sorted(df.collect().toSeq))
        point ++ knn ++ served
      }
      val pruned = reads(store.df, st.df, withStore = true)
      val unpushed = withConf(Pushdown, "false")(reads(store.df, st.df, withStore = true))
      val plain = reads(spark.read.parquet(dir), spark.read.parquet(store3), withStore = false)
      assert(pruned === unpushed)
      assert(pruned.take(plain.size) === plain)
      true
    })
  }

  // ---- serves: a postings store and a 16-cell vector store
  private val words = (0 until 40).map(i => f"t$i%02d")
  private lazy val ppath = {
    val docs = (0L until 120L).map(id => id -> (0 until 3 + (id % 4).toInt)
      .map(j => words(((id * 3 + j * 7) % 40).toInt)).mkString(" "))
    val p = tmp("postings")
    PostingsStore.build(docs.take(90).toDF("doc_id", "text"), p)
    PostingsStore.appendBatch(docs.drop(90).toDF("doc_id", "text"), p, 1L)
    PostingsStore.deleteDocs(spark, p, Seq(4L, 95L).toDF("doc_id"), 2L)
    p
  }
  private val emb = spark.range(240).select(col("id").as("vec_id"),
    expr("transform(sequence(0, 5), j -> cast((id * 17 + j * 5) % 89 - 40 + div(id, 60) * 50 as bigint))").as("v"))
  private lazy val vpath = {
    val p = tmp("vectors")
    VectorStore.build(emb.filter(col("vec_id") < 200), p, nCentroids = 16)
    VectorStore.appendBatch(emb.filter(col("vec_id") >= 200), p, 1L)
    VectorStore.deleteVecs(spark, p, Seq(7L, 210L).toDF("vec_id"), 2L)
    p
  }

  test("file-pruned postings and IVF serves equal the unpushed serves, IN lists above the threshold included") {
    val embRows = emb.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val gen = for {
      texts <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 14)
        .flatMap(Gen.listOfN(_, Gen.oneOf(words :+ "unseen")))))
      vecs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.frequency(
        6 -> Gen.choose(0L, 239L).map(i => Some(embRows(i))), 1 -> Gen.const(None))))
      nProbe <- Gen.choose(1, 14)
      bound <- Gen.oneOf(0L, 1L, Long.MaxValue)
    } yield (texts, vecs, nProbe, bound)
    check(8)(Prop.forAllNoShrink(gen) { case (texts, vecs, nProbe, bound) =>
      val tq = texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toDF("query_id", "qtext")
      val vq = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      def serves(): Seq[Seq[String]] = Seq(
        PostingsStore.bm25DocTopKAsOf(spark, ppath, tq, 5, bound),
        VectorStore.topKAsOf(spark, vpath, vq, 5, nProbe, bound)).map(df => sorted(df.collect().toSeq))
      assert(serves() === withConf(Pushdown, "false")(serves()))
      true
    })
  }
}
