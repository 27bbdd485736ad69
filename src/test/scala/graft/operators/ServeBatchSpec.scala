package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Store serves collect their query batch once and read store metadata
  * from the driver-side row cache: every kind of query frame serves
  * exactly the from-scratch replay, inlined or broadcast, and a warm
  * serve of a local batch runs only the scoring plan's jobs. */
class ServeBatchSpec extends SparkSpec {
  import spark.implicits._

  private def check(cases: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(2026L)).withMaxDiscardRatio(1f), p)
    assert(res.passed, res.status.toString)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** The same rows as each kind of query frame: a local relation, a
    * projection over one (`Seq.toDF`), an RDD and a parquet scan. */
  private def frame(kind: Int, data: Seq[Row], schema: StructType): DataFrame = kind match {
    case 0 => spark.createDataFrame(data.asJava, schema)
    case 1 => spark.createDataFrame(data.asJava, schema)
      .select(schema.fieldNames.map(n => col(n).as(n)).toIndexedSeq: _*)
    case 2 => spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    case _ =>
      val dir = Files.createTempDirectory("graft-serve-q").toString + "/q"
      spark.createDataFrame(data.asJava, schema).write.parquet(dir)
      spark.read.parquet(dir)
  }

  // ---- vectors: 200 8-dim vectors, built over 4/5, the rest appended
  // at op 1, two ids taken down at op 2
  private val emb = spark.range(200).select(col("id").as("vec_id"),
    expr("transform(sequence(0, 7), j -> cast((id * 31 + j * 7) % 97 + div(id, 50) * 100 as bigint))").as("v"))
  private lazy val embRows: Map[Long, Seq[Long]] =
    emb.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  private val Taken = Seq(183L, 195L)
  private lazy val vpath = {
    val p = Files.createTempDirectory("graft-serve-v").toString
    VectorStore.build(emb.filter(col("vec_id") % 5 =!= 0), p, nCentroids = 8)
    VectorStore.appendBatch(emb.filter(col("vec_id") % 5 === 0), p, 1L)
    VectorStore.deleteVecs(spark, p, Taken.toDF("vec_id"), 2L)
    p
  }
  private lazy val cents = VectorStore.centroids(spark, vpath)
  private def liveEmb(bound: Long): DataFrame =
    if (bound == 0L) emb.filter(col("vec_id") % 5 =!= 0)
    else if (bound == 1L) emb
    else emb.filter(!col("vec_id").isin(Taken: _*))

  private def vecSchema(idType: DataType) =
    StructType(Seq(StructField("vec_id", idType), StructField("v", ArrayType(LongType))))

  private val vecQuery: Gen[(Option[Long], Option[Seq[Long]])] = for {
    id <- Gen.frequency(8 -> Gen.choose(0L, 12L).map(Some(_)), 1 -> Gen.const(None))
    src <- Gen.choose(0L, 199L)
    v <- Gen.frequency(8 -> Gen.const(Some(src)), 1 -> Gen.const(None))
  } yield (id, v.map(embRows))

  test("IVF store serves equal the ivfTopKWith replays for every kind of query frame") {
    val gen = for {
      kind <- Gen.choose(0, 3)
      qs <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, vecQuery))
      bound <- Gen.oneOf(0L, 1L, 2L, Long.MaxValue)
      intIds <- Gen.oneOf(false, true)
    } yield (kind, qs, bound, intIds)
    check(10)(Prop.forAllNoShrink(gen) { case (kind, qs, bound, intIds) =>
      val data = qs.map { case (id, v) =>
        Row(id.map[Any](i => if (intIds) i.toInt else i).orNull, v.orNull) }
      val q = frame(kind, data, vecSchema(if (intIds) IntegerType else LongType))
      val served = VectorStore.topKAsOf(spark, vpath, q, 5, 2, bound)
      assert(served.schema("qid").dataType === q.schema("vec_id").dataType)
      assert(rows(served) === rows(Similarity.ivfTopKWith(liveEmb(bound), cents, q, 5, nProbe = 2)))
      if (bound == Long.MaxValue) {
        assert(rows(VectorStore.topK(spark, vpath, q, 5, nProbe = 2)) === rows(served))
        val pred = col("vec_id") % 3 === 1
        assert(rows(VectorStore.filteredTopK(spark, vpath, q, 5, pred, nProbe = 2)) ===
          rows(Similarity.ivfFilteredTopKWith(liveEmb(bound), cents, q, 5, pred, nProbe = 2)))
      }
      true
    })
  }

  test("an IVF batch above the inline budget broadcasts the same rows and serves the same answer") {
    val ids = 0L until 1200L
    val data = ids.map(i => Row(i, embRows(i % 200)))
    val q = spark.createDataFrame(data.asJava, vecSchema(LongType))
    assert(Similarity.probeBatch(q, cents, 2).bytes > Similarity.InlineProbeBytes)
    val whole = rows(VectorStore.topK(spark, vpath, q, 5, nProbe = 2))
    assert(whole === rows(Similarity.ivfTopKWith(liveEmb(Long.MaxValue), cents, q, 5, nProbe = 2)))
    // each query's top-k is its own: the inlined parts serve the same rows
    val parts = data.grouped(200).map(h =>
      rows(VectorStore.topK(spark, vpath, spark.createDataFrame(h.asJava, vecSchema(LongType)), 5, nProbe = 2)))
    assert(parts.reduce(_ ++ _) === whole)
    assert(whole.map(_.head).size === 1200)
  }

  test("a warm IVF serve of a local batch takes at most 2 jobs") {
    // built and appended, no pending takedown (whose marker anti-join
    // broadcasts in a job of its own)
    val p = Files.createTempDirectory("graft-serve-vjobs").toString
    VectorStore.build(emb.filter(col("vec_id") % 5 =!= 0), p, nCentroids = 8)
    VectorStore.appendBatch(emb.filter(col("vec_id") % 5 === 0), p, 1L)
    VectorStore.topK(spark, p, Seq((1L, embRows(1L))).toDF("vec_id", "v"), 5, 2).collect()
    val q = Seq((2L, embRows(2L)), (3L, embRows(77L))).toDF("vec_id", "v")
    val (n, jobs) = jobsDuring(VectorStore.topK(spark, p, q, 5, nProbe = 2).collect().length)
    assert(n === 10)
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("a null IVF query vector probes no cell and gets no rows, from the store and from scratch") {
    val q = Seq((1L, Option.empty[Seq[Long]]), (2L, Some(embRows(2L)))).toDF("vec_id", "v")
    assert(Similarity.probeBatch(q, cents, 2).probes.map(_.get(0)).toSet === Set(2L))
    val served = rows(VectorStore.topK(spark, vpath, q, 5, nProbe = 2))
    assert(served.map(_.head) === Set(2L))
    assert(served === rows(Similarity.ivfTopKWith(liveEmb(Long.MaxValue), cents, q, 5, nProbe = 2)))
    val nullOnly = q.filter(col("vec_id") === 1L)
    assert(rows(VectorStore.topK(spark, vpath, nullOnly, 5, nProbe = 2)).isEmpty)
    assert(rows(Similarity.ivfTopK(emb, nullOnly, 5, nCentroids = 8, nProbe = 2)).isEmpty)
  }

  // ---- text: 60 docs over a skewed 30-word vocabulary, built over 40,
  // 20 appended at op 1, three taken down at op 2
  private val words = (0 until 30).map(i => s"w$i")
  private def docText(id: Long): String =
    (0 until 6 + (id % 5).toInt).map(j => words(((id * 7 + j * j * 3) % 30 * ((j % 3) + 1) % 30).toInt))
      .mkString(" ")
  private val docs = (0L until 60L).map(id => id -> docText(id))
  private val TakenDocs = Seq(3L, 17L, 41L)
  private lazy val ppath = {
    val p = Files.createTempDirectory("graft-serve-p").toString
    PostingsStore.build(docs.take(40).toDF("doc_id", "text"), p)
    PostingsStore.appendBatch(docs.drop(40).toDF("doc_id", "text"), p, 1L)
    PostingsStore.deleteDocs(spark, p, TakenDocs.toDF("doc_id"), 2L)
    p
  }
  private def liveDocs(bound: Long): DataFrame = (bound match {
    case 0L => docs.take(40)
    case 1L => docs
    case _ => docs.filterNot(d => TakenDocs.contains(d._1))
  }).toDF("doc_id", "text")

  private val textQuery: Gen[(Option[Long], Option[String])] = for {
    id <- Gen.frequency(8 -> Gen.choose(0L, 12L).map(Some(_)), 1 -> Gen.const(None))
    n <- Gen.choose(0, 4)
    ws <- Gen.listOfN(n, Gen.frequency(6 -> Gen.oneOf(words), 1 -> Gen.const("unseen"),
      1 -> Gen.const("W3")))
    text <- Gen.frequency(8 -> Gen.const(Some(ws.mkString(" "))), 1 -> Gen.const(None))
  } yield (id, text)

  test("BM25 store serves equal the bm25DocTopK replays for every kind of query frame") {
    val gen = for {
      kind <- Gen.choose(0, 3)
      qs <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, textQuery))
      bound <- Gen.oneOf(0L, 1L, 2L, Long.MaxValue)
      idType <- Gen.oneOf(LongType, IntegerType, StringType)
    } yield (kind, qs, bound, idType)
    check(10)(Prop.forAllNoShrink(gen) { case (kind, qs, bound, idType) =>
      val data = qs.map { case (id, t) =>
        val typed = id.map[Any](i => idType match {
          case LongType => i
          case IntegerType => i.toInt
          case _ => s"q$i"
        })
        Row(typed.orNull, t.orNull)
      }
      val q = frame(kind, data, StructType(Seq(StructField("query_id", idType),
        StructField("qtext", StringType))))
      val served = PostingsStore.bm25DocTopKAsOf(spark, ppath, q, 5, bound)
      assert(served.schema("query_id").dataType === idType)
      assert(rows(served) === rows(TextAnalysis.bm25DocTopK(q, liveDocs(bound), 5)))
      if (bound == Long.MaxValue)
        assert(rows(PostingsStore.bm25DocTopK(spark, ppath, q, 5)) === rows(served))
      true
    })
  }

  test("a BM25 batch above the inline budget broadcasts the same rows and serves the same answer") {
    val data = (0L until 3000L).map(i => Row(i, s"w${i % 30} w${(i * 7) % 30} longer_unseen_term_$i"))
    val schema = StructType(Seq(StructField("query_id", LongType), StructField("qtext", StringType)))
    val q = spark.createDataFrame(data.asJava, schema)
    assert(data.map(r => r.getString(1).split(" ").distinct.map(_.length + 8L).sum).sum >
      TextAnalysis.InlineQueryBytes)
    val whole = rows(PostingsStore.bm25DocTopK(spark, ppath, q, 5))
    assert(whole === rows(TextAnalysis.bm25DocTopK(q, liveDocs(Long.MaxValue), 5)))
    val parts = data.grouped(500).map(h =>
      rows(PostingsStore.bm25DocTopK(spark, ppath, spark.createDataFrame(h.asJava, schema), 5)))
    assert(parts.reduce(_ ++ _) === whole)
    assert(whole.nonEmpty)
  }

  test("a warm BM25 serve of a local batch takes at most 5 jobs") {
    val p = Files.createTempDirectory("graft-serve-pjobs").toString
    PostingsStore.build(docs.take(40).toDF("doc_id", "text"), p)
    PostingsStore.appendBatch(docs.drop(40).toDF("doc_id", "text"), p, 1L)
    PostingsStore.bm25DocTopK(spark, p, Seq((1L, "w1 w2")).toDF("query_id", "qtext"), 5).collect()
    val q = Seq((2L, "w3 w4 w5"), (3L, "w6 w7")).toDF("query_id", "qtext")
    val (n, jobs) = jobsDuring(PostingsStore.bm25DocTopK(spark, p, q, 5).collect().length)
    assert(n > 0)
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("a serve over a store with every document taken down answers as an empty corpus does") {
    val p = Files.createTempDirectory("graft-serve-empty").toString
    PostingsStore.build(docs.take(4).toDF("doc_id", "text"), p)
    PostingsStore.deleteDocs(spark, p, (0L until 4L).toDF("doc_id"), 1L)
    val q = Seq((1L, "w1 w2")).toDF("query_id", "qtext")
    val empty = docs.take(0).toDF("doc_id", "text")
    assert(rows(PostingsStore.stats(spark, p)) === Set(Seq(0L, null)))
    assert(rows(TextAnalysis.bm25Stats(TextAnalysis.bm25Corpus(empty)._2)) === Set(Seq(0L, null)))
    assert(rows(PostingsStore.bm25DocTopK(spark, p, q, 5)).isEmpty)
    assert(rows(TextAnalysis.bm25DocTopK(q, empty, 5)).isEmpty)
    assert(rows(PostingsStore.bm25DocTopKAsOf(spark, p, q, 5, 0L)) ===
      rows(TextAnalysis.bm25DocTopK(q, docs.take(4).toDF("doc_id", "text"), 5)))
  }
}
