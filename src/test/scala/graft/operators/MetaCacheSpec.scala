package graft.operators

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The driver-side row cache of small store relations
  * ([[ParquetFooters.collectSmall]]): a warm read runs no job, and any
  * change to the files under a relation is read afresh. */
class MetaCacheSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(s"graft-mc-$name").toString

  private def sorted(rows: Array[org.apache.spark.sql.Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** The one data file of a single-file parquet dir. */
  private def dataFile(dir: String): File =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head

  test("pending range tombstones: a warm live or snapshot read submits no job") {
    val p = tmp("range") + "/store"
    PointStore.write(PointStore.points((0L until 200L).map(i => (i, (i * 37 % 101).toInt,
      (i * 53 % 97).toInt, 0L)).toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), p, 2)
    val store = PointStore.open(spark, p)
    store.deleteRange(Seq((0, 10, 0, 10, 1L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    val seq = Seq("put_seq")
    val cold = store.live(seq).count()
    assert(jobsDuring(store.live(seq))._2 === 0)
    assert(store.live(seq).count() === cold)
    store.snapshotAsOf(seq, Seq(lit(1L))).count()
    assert(jobsDuring(store.snapshotAsOf(seq, Seq(lit(1L))))._2 === 0)
    // a further marker is a new file under the relation: read afresh
    store.deleteRange(Seq((0, 100, 0, 100, 1L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    assert(store.live(seq).count() === 0L)
  }

  test("cold reads of stats partials, centroids and range tombstones decode on the driver: no job, collect's rows") {
    val text = tmp("cold-text")
    PostingsStore.build(Seq((1L, "alpha beta"), (2L, "beta gamma gamma")).toDF("doc_id", "text"), text)
    val vec = tmp("cold-vec")
    VectorStore.build(spark.range(40).select(col("id").as("vec_id"), expr("array(id % 7, id % 5)").as("v")),
      vec, nCentroids = 2)
    val p = tmp("cold-range") + "/store"
    PointStore.write(PointStore.points((0L until 100L).map(i => (i, (i * 37 % 101).toInt,
      (i * 53 % 97).toInt, 0L)).toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq"))), p, 2)
    val store = PointStore.open(spark, p)
    store.deleteRange(Seq((0, 10, 0, 10, 1L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    // columns in an order the engine never reads them in: the row cache is cold
    val reads = Seq(
      PostingsStore.rawPartials(spark, text, Long.MaxValue).select("dl_sum", "n_docs"),
      StoreSwap.IndexStore(Seq("centroids"), Nil, "vec_id").tree(spark, vec, "centroids", Long.MaxValue)
        .select("v", "centroid_id"),
      store.rangeTombstones.get.select("put_seq", "xmin", "xmax", "ymin", "ymax")
        .limit(store.MaxCompiledRangeMarkers + 1))
    for (df <- reads) {
      val (rows, jobs) = jobsDuring(ParquetFooters.collectSmall(df))
      assert(jobs === 0, df.queryExecution.optimizedPlan.treeString)
      assert(rows.nonEmpty)
      assert(sorted(rows) === sorted(df.collect()))
    }
  }

  test("a union of store relations (stats partials after a takedown) returns collect's rows") {
    val text = tmp("union-text")
    PostingsStore.build(Seq((1L, "alpha beta"), (2L, "beta gamma gamma")).toDF("doc_id", "text"), text)
    PostingsStore.deleteDocs(spark, text, Seq(1L).toDF("doc_id"), 1L)
    val union = PostingsStore.rawPartials(spark, text, Long.MaxValue).select("dl_sum", "n_docs")
    assert(union.queryExecution.optimizedPlan.exists(_.isInstanceOf[Union]))
    assert(sorted(ParquetFooters.collectSmall(union)) === sorted(union.collect()))
  }

  test("a file replaced in place is re-read: new length, or same length and new mtime") {
    val dir = tmp("inplace") + "/t"
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(dir)
    def read: DataFrame = ParquetFooters.readParquet(spark, dir)
    assert(sorted(ParquetFooters.collectSmall(read)) === Seq("[1,a]"))
    assert(jobsDuring(ParquetFooters.collectSmall(read))._2 === 0)
    val target = dataFile(dir)
    /** Overwrite the file's bytes (and its checksum sidecar) in place. */
    def replaceWith(rows: Seq[(Long, String)]): Unit = {
      val src = tmp("src") + "/t"
      rows.toDF("id", "s").coalesce(1).write.parquet(src)
      val f = dataFile(src)
      Files.copy(f.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
      Files.copy(new File(src, s".${f.getName}.crc").toPath,
        new File(dir, s".${target.getName}.crc").toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    // new length
    val length0 = target.length()
    replaceWith(Seq((1L, "a"), (2L, "bbbbbbbbbbbbbbbb")))
    assert(target.length() !== length0)
    assert(sorted(ParquetFooters.collectSmall(read)) === Seq("[1,a]", "[2,bbbbbbbbbbbbbbbb]"))
    // same length, new modification time
    val before = target.length()
    val mtime = target.lastModified()
    replaceWith(Seq((1L, "a"), (3L, "cccccccccccccccc")))
    assert(target.length() === before)
    assert(target.setLastModified(mtime + 10000L))
    assert(sorted(ParquetFooters.collectSmall(read)) === Seq("[1,a]", "[3,cccccccccccccccc]"))
  }

  test("relations above the row bound and non-file plans are collected as is") {
    val dir = tmp("big") + "/t"
    spark.range(20000).coalesce(1).write.parquet(dir)
    val big = ParquetFooters.readParquet(spark, dir).filter(col("id") < 3)
    assert(ParquetFooters.collectSmall(big).length === 3)
    assert(jobsDuring(ParquetFooters.collectSmall(big))._2 > 0)
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(Seq((1L, "x")), 1)).toDF("id", "s")
    ParquetFooters.collectSmall(rdd)
    assert(jobsDuring(ParquetFooters.collectSmall(rdd))._2 > 0)
  }

  test("a rebuild at the same path serves the new centroids") {
    def vecs(shift: Long) = spark.range(80).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, 3), j -> cast((id * 31 + j * 7 + $shift) % 97 * (j + 1) as bigint))").as("v"))
    val p = tmp("rebuild")
    VectorStore.build(vecs(0L), p, nCentroids = 4)
    val first = VectorStore.centroids(spark, p)
    assert(jobsDuring(VectorStore.centroids(spark, p))._2 === 0)
    VectorStore.build(vecs(13L), p, nCentroids = 4)
    val second = VectorStore.centroids(spark, p)
    val want = Similarity.ivfCentroids(vecs(13L), 4)
    assert(second.map(c => (c._1, c._2.toSeq)) === want.map(c => (c._1, c._2.toSeq)))
    assert(first.map(_._2.toSeq) !== second.map(_._2.toSeq))
    val q = vecs(13L).filter(col("vec_id") < 3)
    assert(VectorStore.topK(spark, p, q, 3, 2).collect().map(_.toSeq).toSet ===
      Similarity.ivfTopKWith(vecs(13L), want, q, 3, 2).collect().map(_.toSeq).toSet)
  }

  test("served stats stay exact through append, deleteDocs and compact") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta zeta zeta zeta"),
      (4L, "zeta zeta epsilon alpha"),
      (5L, "alpha beta"),
      (6L, "gamma delta epsilon zeta beta beta beta beta beta"))
    val qs = Seq((10L, "gamma zeta"), (11L, "delta beta"), (12L, "alpha epsilon"))
      .toDF("query_id", "qtext")
    val p = tmp("stats")
    def same(live: Seq[(Long, String)]): Unit = {
      val corpus = live.toDF("doc_id", "text")
      val (_, partial) = TextAnalysis.bm25Corpus(corpus)
      assert(PostingsStore.stats(spark, p).collect().toSeq ===
        TextAnalysis.bm25Stats(partial).collect().toSeq)
      assert(PostingsStore.bm25DocTopK(spark, p, qs, 10).collect().map(_.toSeq).toSet ===
        TextAnalysis.bm25DocTopK(qs, corpus, 10).collect().map(_.toSeq).toSet)
    }
    PostingsStore.build(docs.take(3).toDF("doc_id", "text"), p)
    same(docs.take(3))
    PostingsStore.appendBatch(docs.drop(3).toDF("doc_id", "text"), p, 1L)
    same(docs)
    PostingsStore.deleteDocs(spark, p, Seq(3L, 6L).toDF("doc_id"), 2L)
    same(docs.filterNot(d => d._1 == 3L || d._1 == 6L))
    PostingsStore.compact(spark, p)
    same(docs.filterNot(d => d._1 == 3L || d._1 == 6L))
    PostingsStore.appendBatch(Seq((3L, "zeta zeta zeta")).toDF("doc_id", "text"), p, 3L)
    same(docs.filterNot(d => d._1 == 3L || d._1 == 6L) :+ (3L -> "zeta zeta zeta"))
  }
}
