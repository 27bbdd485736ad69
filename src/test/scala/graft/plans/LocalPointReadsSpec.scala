package graft.plans

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.SparkException
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.{ParquetFooters, PointStore, SpatioTemporal, TableMemo}
import graft.zorder.IntRange

/** [[SmallStoreReads]]' fold: small point reads answer with no Spark
  * job and exactly as with the rule excluded; every other plan is left
  * unfolded. */
class LocalPointReadsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(s"graft-lpr-$name").toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** `body` with the rule among the session's extra optimizations. */
  private def on[T](body: => T): T = {
    spark.experimental.extraOptimizations = Seq(SmallStoreReads)
    try body finally spark.experimental.extraOptimizations = Nil
  }

  /** `body` with the rule registered but excluded, Spark's off switch. */
  private def off[T](body: => T): T =
    on(withConf("spark.sql.optimizer.excludedRules", SmallStoreReads.ruleName)(body))

  private def sorted(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private def points(rows: Seq[(Long, Option[Int], Option[Int], Option[Long])]): DataFrame =
    PointStore.points(rows.toDF("pid", "px", "py", "seq"), col("pid"), col("px"), col("py"),
      Seq(col("seq").as("put_seq")))

  /** One z-sorted file of `rows` at `dst`. */
  private def place(rows: Seq[(Long, Option[Int], Option[Int], Option[Long])], dst: File,
                    options: Map[String, String] = Map.empty): Unit = {
    val dir = tmp("file") + "/f"
    points(rows).coalesce(1).sortWithinPartitions("zkey").write.options(options).parquet(dir)
    val f = new File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(f.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  private def rowGroups(dir: String): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
      val p = new org.apache.hadoop.fs.Path(f.toURI)
      p.getFileSystem(conf).getFileStatus(p)
    }
    ParquetFooters.of(files, conf).flatMap(_.getBlocks.asScala.map(_.getRowCount))
  }

  // ---- a mixed 2-D store: six z-clustered files with null and negative
  // coordinates, a statistics-less file, a file of no row groups, a file
  // replaced in place, and one file of many row groups whose whole is
  // over the budget while each row group fits it
  private val Big = 20000
  private lazy val mixed = {
    val rnd = new Random(13)
    def coord(): Option[Int] = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(4000) - 1000)
    val base = (0L until 1200L).map(i => (i, coord(), coord(), Some(i % 4)))
    val dir = tmp("mixed") + "/store"
    PointStore.write(points(base), dir + "-base", 6)
    new File(dir).mkdirs()
    new File(dir + "-base").listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, new File(dir, f"a-$i%03d.parquet").toPath)
      }
    val nostats = (2000L until 2100L).map(i => (i, Some((i * 7 % 300).toInt + 5000), Some((i % 50).toInt), None))
    place(nostats, new File(dir, "s-nostats.parquet"), Map("parquet.column.statistics.enabled" -> "false"))
    place(Nil, new File(dir, "e-empty.parquet"))
    val big = (10000L until 110000L).map(i =>
      (i, Some(Big + rnd.nextInt(8192)), Some(Big + rnd.nextInt(8192)), Some(i % 4)))
    place(big, new File(dir, "b-big.parquet"), Map("parquet.block.size" -> (512 << 10).toString))
    val variants = Seq(
      (4000L until 4080L).map(i => (i, Some((i % 80).toInt + 7000), Some((i % 9).toInt + 100), Some(2L))),
      (4000L until 4200L).map(i => (i, Some((i % 33).toInt - 900), Some((i % 70).toInt - 900), Some(3L))))
    val groups = rowGroups(dir)
    assert(groups.sum > SmallStoreReads.BudgetRows && groups.max * 2 < SmallStoreReads.BudgetRows, groups)
    val coords = (base ++ nostats ++ variants.flatten).flatMap { case (_, x, y, _) => x.zip(y) }
    (dir, variants, coords, big.flatMap { case (_, x, y, _) => x.zip(y) })
  }

  private lazy val store3: String = {
    val rnd = new Random(3)
    def c(): Option[Int] = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(3000) - 500)
    val dir = tmp("st") + "/store"
    SpatioTemporal.write(SpatioTemporal.points3((0L until 800L).map(i => (i, c(), c(), c()))
      .toDF("pid", "px", "py", "pt"), col("pid"), col("px"), col("py"), col("pt")), dir, 4)
    dir
  }

  test("point reads within the budget submit no Spark job") {
    val (dir, _, coords, bigCoords) = mixed
    val store = PointStore.open(spark, dir)
    val st = SpatioTemporal.open(spark, store3)
    on {
      for ((x, y) <- Seq(coords(3), coords(400), bigCoords(17))) {
        val (ids, jobs) = jobsDuring(PointStore.get(store.df, x, y).select("id").collect())
        assert(ids.nonEmpty)
        assert(jobs === 0, s"get($x, $y)")
        assert(jobsDuring(store.rangeCount(IntRange(x - 50, x + 50), IntRange(y - 50, y + 50)).head())._2 === 0)
        assert(jobsDuring(PointStore.knn(store.df, x, y, 10).collect())._2 === 0, s"knn($x, $y)")
      }
      assert(jobsDuring(st.rangeCount(IntRange(0, 500), IntRange(0, 500), IntRange(0, 500)).head())._2 === 0)
      assert(jobsDuring(SpatioTemporal.knn3(st.df, 100, 200, 300, 10).collect())._2 === 0)
    }
  }

  test("at the budget a read folds, one row group over it submits the jobs it submits with the rule excluded") {
    val dir = tmp("edge") + "/store"
    PointStore.write(points((0L until SmallStoreReads.BudgetRows).map(i =>
      (i, Some((i % 1000).toInt), Some((i / 1000).toInt), Some(0L)))), dir, 4)
    assert(rowGroups(dir).sum === SmallStoreReads.BudgetRows)
    val store = PointStore.open(spark, dir)
    def reads() = Seq(store.df.count(), store.snapshotAsOf(Seq("put_seq"), Seq(lit(0L))).count(),
      store.df.agg(count(col("x"))).head().getLong(0))
    val (atOn, atJobs) = jobsDuring(on(reads()))
    assert(atJobs === 0)
    assert(atOn === off(reads()))
    PointStore.append(points(Seq((-1L, Some(5), Some(5), Some(0L)))), dir, 1)
    val (overOn, overJobs) = jobsDuring(on(reads()))
    val (overOff, offJobs) = jobsDuring(off(reads()))
    assert(overOn === overOff)
    assert(overOn.head === SmallStoreReads.BudgetRows + 1)
    assert(overJobs === offJobs)
    assert(offJobs > 0)
  }

  test("reads equal the rule-off reads: get, range, counts, knn, knn3, live and snapshotAsOf") {
    val (dir, variants, coords, bigCoords) = mixed
    val target = new File(dir, "r-inplace.parquet")
    var step = 0
    val gen = for {
      near <- Gen.frequency(3 -> true, 1 -> false)
      at <- Gen.choose(0, Int.MaxValue)
      miss <- Gen.oneOf(false, true)
      w <- Gen.frequency(4 -> Gen.choose(0, 300), 1 -> Gen.choose(300, 9000))
      h <- Gen.frequency(4 -> Gen.choose(0, 300), 1 -> Gen.choose(300, 9000))
      k <- Gen.oneOf(1, 5, 40, 400)
      bound <- Gen.choose(0L, 3L)
      q3 <- Gen.listOfN(3, Gen.choose(-600, 2600))
    } yield (near, at, miss, w, h, k, bound, q3)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(Seed(1313L)).withMaxDiscardRatio(1f), Prop.forAllNoShrink(gen) {
      case (near, at, miss, w, h, k, bound, q3) =>
        // replace the file in place, alternating its two variants
        val variant = variants(step % 2)
        step += 1
        place(variant, target)
        assert(target.setLastModified(System.currentTimeMillis() + step * 10000L))
        val pool = if (near) variant.flatMap { case (_, x, y, _) => x.zip(y) } else coords
        val (qx, qy) = pool(at % pool.size)
        val (gx, gy) = if (miss) (qx + 1, qy) else (qx, qy)
        val (rx, ry) = (IntRange(qx - w / 2, qx + w - w / 2), IntRange(qy - h / 2, qy + h - h / 2))
        val r3 = IntRange(q3(0), q3(0) + 400)
        val nowhere = IntRange(90000, 90010)
        val seq = Seq("put_seq")
        def reads(): Seq[Seq[String]] = {
          val store = PointStore.open(spark, dir)
          val pts = store.df
          val st = SpatioTemporal.open(spark, store3).df
          Seq(PointStore.get(pts, gx, gy), PointStore.rangeQuery(pts, rx, ry),
            PointStore.rangeQuery(pts, rx, ry).agg(count(lit(1)), count(col("put_seq"))),
            pts.filter(col("y").between(ry.min, ry.max)).agg(count(col("x")), count(lit(1))),
            PointStore.rangeQuery(pts, nowhere, nowhere), PointStore.rangeQuery(pts, nowhere, nowhere).agg(count(lit(1))),
            SpatioTemporal.rangeQuery3(st, r3, r3, r3),
            PointStore.rangeQuery(store.live(seq), rx, ry), PointStore.get(store.live(seq), gx, gy),
            PointStore.rangeQuery(store.snapshotAsOf(seq, Seq(lit(bound))), rx, ry)).map(sorted) ++
          Seq(PointStore.knn(pts, qx, qy, k), SpatioTemporal.knn3(st, q3(0), q3(1), q3(2), k))
            .map(_.collect().toSeq.map(_.toString))
        }
        assert(on(reads()) === off(reads()))
        // a get inside the many-row-group file decodes one row group of it
        val (bx, by) = bigCoords(at % bigCoords.size)
        val (got, jobs) = jobsDuring(on(PointStore.get(PointStore.open(spark, dir).df, bx, by).collect()))
        assert(got.nonEmpty && jobs === 0, s"get($bx, $by)")
        true
    })
    assert(res.passed, res.status.toString)
  }

  /** The optimized plan of `df` with the rule excluded. */
  private def unfolded(df: DataFrame): LogicalPlan = off(df.queryExecution.optimizedPlan)

  private def unchanged(df: DataFrame): Unit = {
    val plan = unfolded(df)
    assert(SmallStoreReads(plan) eq plan, plan.treeString)
  }

  /** The rule does not fold `df`: its scan stays (a coalesce may go above it). */
  private def notFolded(df: DataFrame): Unit = {
    val plan = SmallStoreReads(unfolded(df))
    assert(plan.find(_.isInstanceOf[LocalRelation]).isEmpty, plan.treeString)
    assert(plan.find(_.isInstanceOf[LogicalRelation]).isDefined, plan.treeString)
  }

  test("every other plan comes back unchanged") {
    val (dir, _, coords, _) = mixed
    val (x, y) = coords(5)
    val store = PointStore.open(spark, dir)
    val near = PointStore.rangeQuery(store.df, IntRange(x - 20, x + 20), IntRange(y - 20, y + 20))
    assert(SmallStoreReads(unfolded(near)).isInstanceOf[LocalRelation])
    // an unmarked relation
    val plain = tmp("plain") + "/t"
    Seq((1L, 2, 3)).toDF("id", "x", "y").write.parquet(plain)
    unchanged(spark.read.parquet(plain).filter(col("x") === 2))
    // over the budget
    unchanged(store.df)
    // a streaming source
    val streaming = unfolded(near).transform { case lr: LogicalRelation => lr.copy(isStreaming = true) }
    assert(SmallStoreReads(streaming) eq streaming)
    // a partitioned relation
    val parted = tmp("parted") + "/t"
    points(Seq((1L, Some(2), Some(3), Some(0L)), (2L, Some(2), Some(3), Some(1L))))
      .write.partitionBy("put_seq").parquet(parted)
    unchanged(PointStore.get(spark.read.parquet(parted), 2, 3))
    // a `_metadata` column
    unchanged(near.select(col("id"), col("_metadata.file_path")))
    // ignoreMissingFiles on
    withConf("spark.sql.files.ignoreMissingFiles", "true")(unchanged(near))
    // a join or a group-by over the scan
    notFolded(near.join(near.select("id"), "id"))
    notFolded(near.groupBy("x").count())
  }

  test("a file deleted between listing and read raises the error it raises with the rule off") {
    val dir = tmp("deleted") + "/store"
    PointStore.write(points((0L until 400L).map(i => (i, Some(i.toInt), Some(i.toInt), Some(0L)))), dir, 4)
    def read(): DataFrame = PointStore.get(PointStore.open(spark, dir).df, 7, 7)
    assert(on(read().count()) === 1)
    val (listedOn, listedOff, listedPlan) = (read(), read(), read())
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val plan = unfolded(listedPlan)
    assert(SmallStoreReads(plan) eq plan)
    val errOn = intercept[SparkException](on(listedOn.collect()))
    val errOff = intercept[SparkException](off(listedOff.collect()))
    assert(errOn.getCondition === errOff.getCondition)
    assert(errOn.getCondition != null)
  }

  test("contentKey of a folded read keeps its files' identity") {
    def store(shift: Int): String = {
      val dir = tmp("memo") + "/store"
      PointStore.write(points((0L until 300L).map(i => (i, Some(i.toInt + shift), Some(i.toInt), Some(0L)))), dir, 2)
      dir
    }
    def parts(dir: String): Seq[File] =
      new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val dir = store(0)
    def key(): Option[String] = on {
      val df = PointStore.get(PointStore.open(spark, dir).df, 7, 7)
      assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      TableMemo.contentKey(df)
    }
    val first = key()
    assert(first.isDefined)
    assert(key() === first)
    // rewrite every file in place: the same names, other bytes
    parts(store(1)).zip(parts(dir)).foreach { case (src, dst) =>
      Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      new File(dst.getParentFile, s".${dst.getName}.crc").delete()
      dst.setLastModified(System.currentTimeMillis() + 60000L)
    }
    val second = key()
    assert(second.isDefined && second != first)
  }

  // ---- the reused reader and the interpreted fold

  /** Counter `c`'s growth while `body` runs. */
  private def grown[T](c: AtomicLong)(body: => T): (T, Long) = {
    val before = c.get
    val out = body
    (out, c.get - before)
  }

  private sealed trait Step
  private final case class Read(centre: Int, shift: Int, half: Int, kind: Int, k: Int) extends Step
  private case object Rewrite extends Step

  test("reads equal the rule-off reads over sequences of repeats, overlaps and in-place rewrites") {
    val (dir, variants, coords, bigCoords) = mixed
    val target = new File(dir, "r-inplace.parquet")
    var rewrites = 0
    val centres = (coords.take(6) ++ bigCoords.take(4) ++
      variants.flatten.take(2).flatMap { case (_, x, y, _) => x.zip(y) }).toVector
    val read = for {
      c <- Gen.choose(0, centres.size - 1)
      shift <- Gen.oneOf(0, 0, 15, -40)
      half <- Gen.oneOf(0, 30, 120, 400)
      kind <- Gen.choose(0, 3)
      k <- Gen.oneOf(1, 10, 200)
    } yield Read(c, shift, half, kind, k)
    val step: Gen[Step] = Gen.frequency(6 -> read, 1 -> Gen.const(Rewrite))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6)
      .withInitialSeed(Seed(1414L)), Prop.forAllNoShrink(Gen.listOfN(8, step)) { steps =>
      steps.foreach {
        case Rewrite =>
          rewrites += 1
          place(variants(rewrites % 2), target)
          assert(target.setLastModified(System.currentTimeMillis() + 100000L + rewrites * 10000L))
        case Read(c, shift, half, kind, k) =>
          val (x, y) = (centres(c)._1 + shift, centres(c)._2 + shift)
          val (rx, ry) = (IntRange(x - half, x + half), IntRange(y - half, y + half))
          def one(): Seq[String] = {
            val pts = PointStore.open(spark, dir).df
            kind match {
              case 0 => sorted(PointStore.get(pts, x, y))
              case 1 => sorted(PointStore.rangeQuery(pts, rx, ry))
              case 2 => sorted(PointStore.rangeQuery(pts, rx, ry).agg(count(lit(1)), count(col("zkey"))))
              case _ => PointStore.knn(pts, x, y, k).collect().toSeq.map(_.toString)
            }
          }
          assert(on(one()) === off(one()), s"read $kind at ($x, $y) ± $half, k $k")
      }
      true
    })
    assert(res.passed, res.status.toString)
  }

  test("a one-row-group split decodes exactly that row group") {
    val (dir, _, _, _) = mixed
    val (fs, files) = PointStore.open(spark, dir).df.queryExecution.analyzed match {
      case ParquetFooters.Scan(fs, files) => (fs, files)
    }
    val big = files.filter(_.getPath.getName == "b-big.parquet")
    val blocks = ParquetFooters.of(big, spark.sessionState.newHadoopConf()).head.getBlocks.asScala.toSeq
    assert(blocks.size > 4)
    for (columns <- Seq(Seq("x", "y", "zkey"), fs.dataSchema.fieldNames.toSeq)) {
      val required = StructType(columns.map(fs.dataSchema(_)))
      val decoded = blocks.map(b => ParquetFooters.readRowGroups(fs, required, Seq(big.head -> Seq(b))).size.toLong)
      assert(decoded === blocks.map(_.getRowCount), columns)
    }
  }

  test("a second fold builds no reader; a fresh window compiles no class") {
    val (dir, _, coords, bigCoords) = mixed
    val store = PointStore.open(spark, dir)
    spark.experimental.extraOptimizations = Seq(ZOrderPruningRule, SmallStoreReads)
    try {
      for ((x, y) <- Seq(coords(21), bigCoords(5))) {
        def reads() = (PointStore.get(store.df, x, y).collect().toSeq,
          store.rangeCount(IntRange(x - 60, x + 60), IntRange(y - 60, y + 60)).head())
        val first = reads()
        val (again, built) = grown(ParquetFooters.readersBuilt)(reads())
        assert(again === first)
        assert(built === 0, s"($x, $y)")
      }
      def window(x: Int, y: Int) = store.rangeCount(IntRange(x - 90, x + 90), IntRange(y - 70, y + 70))
      val (wx, wy) = coords(300)
      window(wx, wy).head()
      for ((x, y) <- Seq(coords(301), coords(302), bigCoords(40))) {
        val df = window(x, y)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        df.head()
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles, s"($x, $y)")
        assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      }
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("a Hadoop setting changed between two folds builds a new reader") {
    val (dir, _, coords, _) = mixed
    val store = PointStore.open(spark, dir)
    spark.experimental.extraOptimizations = Seq(ZOrderPruningRule, SmallStoreReads)
    val hadoop = spark.sparkContext.hadoopConfiguration
    try {
      val (x, y) = coords(33)
      def read() = grown(ParquetFooters.readersBuilt) {
        val df = PointStore.get(store.df, x, y)
        assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        df.collect().toSeq
      }
      val (first, _) = read()
      assert(read()._2 === 0)
      hadoop.set("graft.test.readerConf", "changed")
      val (again, built) = read()
      assert(again === first)
      assert(built === 1)
    } finally {
      hadoop.unset("graft.test.readerConf")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("an over-budget read checks its budget once per query") {
    val (dir, _, coords, _) = mixed
    val store = PointStore.open(spark, dir)
    spark.experimental.extraOptimizations = Seq(ZOrderPruningRule, SmallStoreReads)
    try {
      val (x, y) = coords(7)
      val reads = Seq(store.df, PointStore.rangeQuery(store.df, IntRange(-2000, 40000), IntRange(-2000, 40000)),
        store.rangeCount(IntRange(x - 30000, x + 30000), IntRange(y - 30000, y + 30000)))
      for (df <- reads) {
        val (plan, checks) = grown(SmallStoreReads.budgetChecks)(df.queryExecution.optimizedPlan)
        assert(!plan.isInstanceOf[LocalRelation])
        assert(checks === 1, plan.treeString)
      }
    } finally spark.experimental.extraOptimizations = Nil
  }
}
