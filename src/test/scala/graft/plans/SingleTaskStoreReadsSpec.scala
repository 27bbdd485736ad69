package graft.plans

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.{ParquetFooters, PointStore, PostingsStore, VectorStore}

/** [[SmallStoreReads]]' coalesce: a store read whose kept row groups fit the
  * budget runs as one task, so the plan above it needs no shuffle, and
  * answers exactly as with the rule excluded; every other plan comes
  * back as it was given. */
class SingleTaskStoreReadsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(s"graft-stsr-$name").toString

  /** `body` with the rule among the session's extra optimizations. */
  private def on[T](body: => T): T = {
    spark.experimental.extraOptimizations = Seq(SmallStoreReads)
    try body finally spark.experimental.extraOptimizations = Nil
  }

  /** `body` with the rule registered but excluded, Spark's off switch. */
  private def off[T](body: => T): T = on {
    spark.conf.set("spark.sql.optimizer.excludedRules", SmallStoreReads.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  /** The shuffle exchanges `df` plans (broadcasts not counted). */
  private def shuffles(df: DataFrame): Int =
    """\bExchange """.r.findAllIn(df.queryExecution.executedPlan.toString).size

  private def coalesces(plan: LogicalPlan): Int =
    plan.collect { case Repartition(1, false, _) => 1 }.size

  /** `read` with the rule on equals it with the rule off; with `fires`,
    * the rule-on plan shuffles nothing, else it shuffles as rule-off. */
  private def same(read: () => DataFrame, fires: Boolean): Unit = {
    val (a, sa) = on { val df = read(); (sorted(df), shuffles(df)) }
    val (b, sb) = off { val df = read(); (sorted(df), shuffles(df)) }
    assert(a === b)
    assert(sb > 0)
    if (fires) assert(sa === 0) else assert(sa === sb)
  }

  private def check(cases: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(2027L)).withMaxDiscardRatio(1f), p)
    assert(res.passed, res.status.toString)
  }

  // ---- vectors: 2-dim, built then appended at op 1, two ids taken
  // down at ops 2 and 3
  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Seq(i % 97 - 48, i * 31 % 89 - 44))).toDF("vec_id", "v")

  private def vectorStore(n: Long, name: String): String = {
    val p = tmp(name)
    VectorStore.build(vecs(0L until n), p, nCentroids = 4)
    VectorStore.appendBatch(vecs(n until n + 8), p, 1L)
    VectorStore.deleteVecs(spark, p, Seq(3L).toDF("vec_id"), 2L)
    VectorStore.deleteVecs(spark, p, Seq(n + 1).toDF("vec_id"), 3L)
    p
  }
  private lazy val vsmall = vectorStore(400L, "vsmall")

  // ---- text: 60 docs over a 30-word vocabulary, 20 appended at op 1,
  // two taken down at ops 2 and 3
  private val words = (0 until 30).map(i => s"w$i")
  private def docText(id: Long, vocab: Int): String =
    (0 until 6 + (id % 5).toInt).map(j => s"w${(id * 7 + j * j * 3) % vocab}").mkString(" ")
  private def textStore(n: Long, vocab: Int, name: String): String = {
    val p = tmp(name)
    val docs = (0L until n).map(id => id -> docText(id, vocab))
    PostingsStore.build(docs.take((n * 2 / 3).toInt).toDF("doc_id", "text"), p)
    PostingsStore.appendBatch(docs.drop((n * 2 / 3).toInt).toDF("doc_id", "text"), p, 1L)
    PostingsStore.deleteDocs(spark, p, Seq(3L).toDF("doc_id"), 2L)
    PostingsStore.deleteDocs(spark, p, Seq(n - 2).toDF("doc_id"), 3L)
    p
  }
  private lazy val psmall = textStore(60L, 30, "psmall")

  private val textQuery: Gen[(Long, String)] = for {
    id <- Gen.choose(0L, 9L)
    n <- Gen.choose(1, 4)
    ws <- Gen.listOfN(n, Gen.oneOf(words :+ "unseen"))
  } yield (id, ws.mkString(" "))

  private val vecQuery: Gen[(Long, Seq[Long])] = for {
    id <- Gen.choose(0L, 12L)
    a <- Gen.choose(-60L, 60L)
    b <- Gen.choose(-60L, 60L)
  } yield (id, Seq(a, b))

  test("BM25 and IVF serves and the store views below the budget shuffle nothing and equal the rule-off reads") {
    val gen = for {
      tq <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, textQuery))
      vq <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, vecQuery))
      bound <- Gen.oneOf(1L, 2L, Long.MaxValue)
      k <- Gen.oneOf(1, 5)
    } yield (tq, vq, bound, k)
    check(6)(Prop.forAllNoShrink(gen) { case (tq, vq, bound, k) =>
      val t = tq.toDF("query_id", "qtext")
      val v = vq.toDF("vec_id", "v")
      same(() => PostingsStore.bm25DocTopK(spark, psmall, t, k), fires = true)
      same(() => PostingsStore.bm25DocTopKAsOf(spark, psmall, t, k, bound), fires = true)
      same(() => VectorStore.topK(spark, vsmall, v, k, nProbe = 2), fires = true)
      same(() => VectorStore.topKAsOf(spark, vsmall, v, k, 2, bound), fires = true)
      same(() => VectorStore.filteredTopK(spark, vsmall, v, k, col("vec_id") % 3 =!= 1, nProbe = 2),
        fires = true)
      val terms = tq.flatMap(_._2.split(" ")).distinct
      same(() => PostingsStore.postings(spark, psmall).filter(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)), sum("tf")), fires = true)
      same(() => VectorStore.assignment(spark, vsmall).filter(col("centroid_id") <= 1)
        .groupBy("centroid_id").agg(count(lit(1)), max("vec_id")), fires = true)
      true
    })
  }

  test("an IVF serve at the row budget runs as one task; one row group over it shuffles as rule-off") {
    val p = tmp("vedge")
    VectorStore.build(vecs(0L until SmallStoreReads.BudgetRows - 8), p, nCentroids = 2)
    VectorStore.appendBatch(vecs(SmallStoreReads.BudgetRows - 8 until SmallStoreReads.BudgetRows), p, 1L)
    VectorStore.deleteVecs(spark, p, Seq(5L, 9L).toDF("vec_id"), 2L)
    val q = Seq((1L, Seq(3L, -7L)), (2L, Seq(-40L, 20L))).toDF("vec_id", "v")
    same(() => VectorStore.topK(spark, p, q, 5, nProbe = 2), fires = true)
    VectorStore.appendBatch(vecs(Seq(SmallStoreReads.BudgetRows)), p, 3L)
    same(() => VectorStore.topK(spark, p, q, 5, nProbe = 2), fires = false)
  }

  test("a BM25 serve whose kept postings are over the budget shuffles as rule-off") {
    val p = tmp("pbig")
    val rnd = new Random(5)
    PostingsStore.build((0L until 3000L).map(id =>
      id -> Seq.fill(30)(s"t${rnd.nextInt(400)}").mkString(" ")).toDF("doc_id", "text"), p)
    PostingsStore.deleteDocs(spark, p, Seq(7L, 8L).toDF("doc_id"), 1L)
    val q = Seq((1L, (0 until 400 by 20).map(i => s"t$i").mkString(" "))).toDF("query_id", "qtext")
    same(() => PostingsStore.bm25DocTopK(spark, p, q, 5), fires = false)
  }

  test("point-store live and snapshotAsOf equal the rule-off reads below, at and one row group over the budget") {
    val dir = tmp("points") + "/store"
    def pts(ids: Seq[Long], seq: Long) = PointStore.points(
      ids.map(i => (i, (i % 1000).toInt, (i / 1000).toInt, seq)).toDF("pid", "px", "py", "seq"),
      col("pid"), col("px"), col("py"), Seq(col("seq").as("put_seq")))
    PointStore.write(pts(0L until SmallStoreReads.BudgetRows, 0L), dir, 4)
    val store = PointStore.open(spark, dir)
    store.delete(pts(Seq(5L, 7000L), 0L).select("id", "x", "y", "put_seq"))
    val seq = Seq("put_seq")
    def latest(df: DataFrame) = PointStore.latest(df, Seq(col("put_seq"))).groupBy("y").count()
    def window(df: DataFrame) = df.filter(col("x") < 20 && col("y") < 30)
    same(() => latest(window(store.live(seq))), fires = true)
    same(() => latest(window(store.snapshotAsOf(seq, Seq(lit(0L))))), fires = true)
    same(() => latest(store.snapshotAsOf(seq, Seq(lit(0L)))), fires = true)
    PointStore.append(pts(Seq(SmallStoreReads.BudgetRows), 0L), dir, 1)
    same(() => latest(store.snapshotAsOf(seq, Seq(lit(0L)))), fires = false)
    same(() => latest(window(store.snapshotAsOf(seq, Seq(lit(0L))))), fires = true)
  }

  test("a warm serve with two takedown markers pending: BM25 takes at most 2 jobs, IVF at most 1") {
    on {
      PostingsStore.bm25DocTopK(spark, psmall, Seq((1L, "w1 w2")).toDF("query_id", "qtext"), 5).collect()
      val t = Seq((2L, "w3 w4 w5"), (3L, "w6 w7")).toDF("query_id", "qtext")
      val (n, jobs) = jobsDuring(PostingsStore.bm25DocTopK(spark, psmall, t, 5).collect().length)
      assert(n > 0)
      assert(jobs <= 2, s"BM25: $jobs jobs")
      VectorStore.topK(spark, vsmall, Seq((1L, Seq(1L, 2L))).toDF("vec_id", "v"), 5, 2).collect()
      val v = Seq((2L, Seq(3L, 4L)), (3L, Seq(-30L, 9L))).toDF("vec_id", "v")
      val (m, vjobs) = jobsDuring(VectorStore.topK(spark, vsmall, v, 5, nProbe = 2).collect().length)
      assert(m === 10)
      assert(vjobs <= 1, s"IVF: $vjobs jobs")
    }
  }

  test("plans the rule must not touch come back as given") {
    val p = tmp("plain")
    vecs(0L until 500L).write.parquet(p + "/t")
    val store = ParquetFooters.readParquet(spark, p + "/t")
    def probe() = store.filter(col("vec_id") < 100).groupBy(col("vec_id") % 7).count()
    assert(coalesces(SmallStoreReads(probe().queryExecution.optimizedPlan)) === 1)
    val untouched = Seq(
      store.groupBy(col("vec_id") % 7).count(),                                   // no pushed filter
      store.filter(col("vec_id") < 100).withColumn("m", monotonically_increasing_id())
        .groupBy(col("m") % 7).count(),                                           // partition-dependent
      spark.read.parquet(p + "/t").filter(col("vec_id") < 100)
        .groupBy(col("vec_id") % 7).count())                                      // not a store read
    untouched.foreach { df =>
      val plan = df.queryExecution.optimizedPlan
      assert(SmallStoreReads(plan) eq plan, plan.treeString)
    }
    on {
      val df = probe()
      assert(coalesces(df.queryExecution.optimizedPlan) === 1)
      assert(shuffles(df) === 0)
    }
    off {
      val df = probe()
      assert(coalesces(df.queryExecution.optimizedPlan) === 0)
      assert(shuffles(df) > 0)
    }
  }
}
