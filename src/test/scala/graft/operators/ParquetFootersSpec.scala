package graft.operators

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** Store reads through [[ParquetFooters.readParquet]]: Spark's schema
  * (nullability and metadata included), rows and errors, with no Spark
  * job to build the frame, and Spark's own read wherever the footer
  * shortcut does not apply. */
class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-pf-$name").toString

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The helper reads `paths` to Spark's schema and rows, building its
    * frame with `jobs` Spark jobs (0 unless it falls back). */
  private def assertSame(paths: Seq[String], jobs: Int = 0): DataFrame = {
    val (fast, submitted) = jobsDuring(ParquetFooters.readParquet(spark, paths: _*))
    assert(submitted === jobs, s"building the read of ${paths.mkString(", ")}")
    val plain = spark.read.parquet(paths: _*)
    assert(fast.schema === plain.schema)
    assert(sorted(fast) === sorted(plain))
    fast
  }

  /** Every data directory under `root` (any depth), one source each. */
  private def dataDirs(root: String): Seq[String] = {
    def walk(d: File): Seq[File] = {
      val kids = Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory)
      kids ++ kids.flatMap(walk)
    }
    walk(new File(root)).filter(_.listFiles().exists(_.getName.endsWith(".parquet")))
      .map(_.getPath).sorted
  }

  private def points(n: Long, seq: Long): DataFrame =
    PointStore.points((0L until n).map(i => (i, (i * 37 % 101).toInt, (i * 53 % 97).toInt, seq))
      .toDF("pid", "px", "py", "put_seq"), col("pid"), col("px"), col("py"), Seq(col("put_seq")))

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "alpha delta delta epsilon"),
    (3L, "beta gamma gamma zeta"),
    (4L, "zeta zeta epsilon alpha"))

  private def embeddings = spark.range(60).select(col("id").as("vec_id"),
    expr("transform(sequence(0, 3), j -> cast((id * 31 + j * 7) % 97 as bigint))").as("v"))

  test("every store tree reads with Spark's schema and rows, and no job") {
    val p = tmp("point") + "/store"
    PointStore.write(points(300, 0L), p, 3)
    val store = PointStore.open(spark, p)
    // a tombstone dir written by several appends
    store.delete(Seq((3L, 10, 53, 1L)).toDF("id", "x", "y", "put_seq"))
    store.delete(Seq((4L, 47, 18, 2L)).toDF("id", "x", "y", "put_seq"))
    store.deleteRange(Seq((0, 10, 0, 10, 1L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    assert(new File(p + ".tombstones").listFiles().count(_.getName.endsWith(".parquet")) === 2)
    Seq(p, p + ".tombstones", p + ".rangetombs").foreach(d => assertSame(Seq(d)))

    val st = tmp("st") + "/store"
    SpatioTemporal.write(SpatioTemporal.points3(
      (0L until 200L).map(i => (i, i % 17, i % 23, i % 29)).toDF("id", "x", "y", "t"),
      col("id"), col("x"), col("y"), col("t")), st, 2)
    assertSame(Seq(st))

    val text = tmp("postings")
    PostingsStore.build(docs.take(2).toDF("doc_id", "text"), text)
    PostingsStore.appendBatch(docs.drop(2).toDF("doc_id", "text"), text, 1L)
    PostingsStore.deleteDocs(spark, text, Seq(2L).toDF("doc_id"), 2L)
    PostingsStore.purgeTerms(spark, text, Seq("zeta").toDF("term"), 3L)
    val vec = tmp("vectors")
    VectorStore.build(embeddings.filter(col("vec_id") < 40), vec, nCentroids = 4)
    VectorStore.appendBatch(embeddings.filter(col("vec_id") >= 40), vec, 1L)
    VectorStore.deleteVecs(spark, vec, Seq(5L, 45L).toDF("vec_id"), 2L)
    for (root <- Seq(text, vec)) {
      val dirs = dataDirs(root)
      assert(dirs.size >= 5, dirs.mkString(", "))
      dirs.foreach(d => assertSame(Seq(d)))
      dirs.groupBy(d => new File(d).getParent).values.filter(_.size > 1)
        .foreach(group => assertSame(group.sorted))
    }
  }

  test("mixed-era and flat legacy trees: readTree and its as-of bound match Spark's reads") {
    val legacyRows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "term")
    // flat legacy root files (no `op`) and a versioned batch dir
    val mixed = tmp("mixed") + "/tree"
    legacyRows.repartition(2).write.parquet(mixed)
    Seq((4L, "d", 7L)).toDF("doc_id", "term", "op").write.parquet(s"$mixed/b7")
    val srcs = StoreSwap.treeSources(spark, mixed.stripSuffix("/tree"), "tree")
    val flat = srcs.filter(_.key == "").map(_.absPath).sorted
    assert(flat.size === 2 && srcs.size === 3)
    assertSame(flat)
    assertSame(Seq(s"$mixed/b7"))
    // the root itself: Spark reads only the files directly under it
    assertSame(Seq(mixed))
    val (tree, jobs) = jobsDuring(StoreSwap.readTree(spark, srcs, mixed))
    assert(jobs === 0)
    val want = spark.read.parquet(s"$mixed/b7")
      .unionByName(spark.read.parquet(flat: _*).withColumn("op", lit(0L)))
    assert(tree.schema === want.schema)
    assert(sorted(tree) === sorted(want))
    // an as-of bound below every source: Spark's schema, no rows
    val (none, asOfJobs) = jobsDuring(StoreSwap.readTreeAsOf(spark, srcs, mixed, -1L))
    assert(asOfJobs === 0)
    assert(none.schema === want.schema)
    assert(none.collect().isEmpty)

    // a store written before the base-dir layout: flat files only
    val legacy = tmp("legacy") + "/tree"
    legacyRows.repartition(3).write.parquet(legacy)
    val lsrcs = StoreSwap.treeSources(spark, legacy.stripSuffix("/tree"), "tree")
    assert(lsrcs.size === 3)
    val read = StoreSwap.readTree(spark, lsrcs, legacy)
    val plain = spark.read.parquet(lsrcs.map(_.absPath): _*)
    assert(read.schema === plain.schema)
    assert(sorted(read) === sorted(plain))
  }

  test("a footer without Spark's schema gives the session's parquet conversion") {
    val dir = tmp("plain")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); required int32 n; }")
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(dir, "part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 10).foreach { i =>
      writer.write(groups.newGroup().append("id", i.toLong).append("name", s"n$i").append("n", i))
    } finally writer.close()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(dir, "part-0.parquet"), conf))
    try assert(!reader.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()
    val df = assertSame(Seq(dir))
    assert(df.schema("name").dataType === StringType)
    assert(df.count() === 10)
  }

  test("missing paths and empty dirs raise Spark's errors") {
    def failure(read: => DataFrame): Throwable = intercept[Throwable](read)
    val missing = tmp("missing") + "/nope"
    val empty = tmp("empty")
    for (paths <- Seq(Seq(missing), Seq(empty), Seq(empty, missing))) {
      val plain = failure(spark.read.parquet(paths: _*))
      val fast = failure(ParquetFooters.readParquet(spark, paths: _*))
      assert(fast.getClass === plain.getClass)
      assert(fast.getMessage === plain.getMessage)
    }
  }

  test("mergeSchema, partition dirs and summary files fall back to Spark's inference") {
    val dir = tmp("merge") + "/t"
    Seq((1L, "a")).toDF("id", "b").write.parquet(dir)
    Seq((2L, 3)).toDF("id", "c").write.mode("append").parquet(dir)
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val (merged, jobs) = jobsDuring(ParquetFooters.readParquet(merging, dir))
    assert(jobs >= 1, "mergeSchema must run Spark's merge job")
    assert(merged.schema === merging.read.parquet(dir).schema)
    assert(merged.columns.toSet === Set("id", "b", "c"))

    val parted = tmp("parted") + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "p").write.partitionBy("p").parquet(parted)
    assert(assertSame(Seq(parted), jobs = 1).columns.contains("p"))

    val summary = tmp("summary") + "/t"
    Seq((1L, "a")).toDF("id", "b").write.parquet(summary)
    Files.copy(new File(summary).listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new File(summary, "_common_metadata").toPath)
    assertSame(Seq(summary), jobs = 1)
  }

  test("files that disagree on the schema read as Spark's pick: the path-sorted first") {
    val narrow = tmp("narrow") + "/t"
    Seq((1L, 2)).toDF("id", "x").coalesce(1).write.parquet(narrow)
    val wide = tmp("wide") + "/t"
    Seq((3L, 4, "e")).toDF("id", "x", "extra").coalesce(1).write.parquet(wide)
    def part(d: String) = new File(d).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    for ((first, second) <- Seq((narrow, wide), (wide, narrow))) {
      val dir = Files.createDirectories(new File(tmp("disagree"), "t").toPath)
      Files.copy(part(first), dir.resolve("part-0.parquet"))
      Files.copy(part(second), dir.resolve("part-1.parquet"))
      val cols = assertSame(Seq(dir.toString)).columns.toSeq
      assert(cols === spark.read.parquet(first).columns.toSeq)
    }
  }

  test("a tree rewritten with an added column serves the new schema, never a cached one") {
    val dir = tmp("rewrite") + "/store"
    Seq((1L, 2)).toDF("id", "x").coalesce(1).write.parquet(dir)
    assert(assertSame(Seq(dir)).columns.toSeq === Seq("id", "x"))
    Seq((1L, 2, "e")).toDF("id", "x", "extra").coalesce(1).write.mode("overwrite").parquet(dir)
    assert(assertSame(Seq(dir)).columns.toSeq === Seq("id", "x", "extra"))

    // a file replaced in place under the same path and modification time
    val inPlace = tmp("inplace") + "/store"
    Seq((1L, 2)).toDF("id", "x").coalesce(1).write.parquet(inPlace)
    val wider = tmp("wider") + "/store"
    Seq((1L, 2, "e")).toDF("id", "x", "extra").coalesce(1).write.parquet(wider)
    def part(d: String) = new File(d).listFiles().find(_.getName.endsWith(".parquet")).get
    assertSame(Seq(inPlace))
    val target = part(inPlace)
    val mtime = target.lastModified()
    def crc(f: File) = new File(f.getParentFile, s".${f.getName}.crc")
    Files.copy(part(wider).toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.copy(crc(part(wider)).toPath, crc(target).toPath, StandardCopyOption.REPLACE_EXISTING)
    assert(target.setLastModified(mtime))
    assert(assertSame(Seq(inPlace)).columns.toSeq === Seq("id", "x", "extra"))
    assert(sorted(ParquetFooters.readParquet(spark, inPlace)) === Seq(Row(1L, 2, "e").toString))
  }

  test("store opens submit no Spark job") {
    val p = tmp("open") + "/store"
    PointStore.write(points(200, 0L), p, 2)
    val store = PointStore.open(spark, p)
    store.delete(Seq((3L, 10, 53, 1L)).toDF("id", "x", "y", "put_seq"))
    store.delete(Seq((4L, 47, 18, 2L)).toDF("id", "x", "y", "put_seq"))
    val seq = Seq("put_seq")
    assert(jobsDuring(store.df)._2 === 0)
    assert(jobsDuring(store.live(seq))._2 === 0)
    assert(jobsDuring(store.snapshotAsOf(seq, Seq(lit(1L))))._2 === 0)
    // pending range tombstones compile into the read predicate: their
    // cold read decodes on the driver, so it submits no job either
    store.deleteRange(Seq((0, 10, 0, 10, 1L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    assert(jobsDuring(store.live(seq))._2 === 0)
    assert(jobsDuring(store.snapshotAsOf(seq, Seq(lit(1L))))._2 === 0)

    val st = tmp("open3") + "/store"
    SpatioTemporal.write(SpatioTemporal.points3(
      (0L until 50L).map(i => (i, i % 7, i % 11, i % 13)).toDF("id", "x", "y", "t"),
      col("id"), col("x"), col("y"), col("t")), st, 2)
    assert(jobsDuring(SpatioTemporal.open(spark, st).df)._2 === 0)

    val text = tmp("open-postings")
    PostingsStore.build(docs.take(2).toDF("doc_id", "text"), text)
    PostingsStore.appendBatch(docs.drop(2).toDF("doc_id", "text"), text, 1L)
    PostingsStore.deleteDocs(spark, text, Seq(2L).toDF("doc_id"), 2L)
    assert(jobsDuring(PostingsStore.postings(spark, text))._2 === 0)
    assert(jobsDuring(PostingsStore.stats(spark, text))._2 === 0)
    assert(jobsDuring(PostingsStore.postingsAsOf(spark, text, 1L))._2 === 0)

    val vec = tmp("open-vectors")
    VectorStore.build(embeddings.filter(col("vec_id") < 40), vec, nCentroids = 4)
    VectorStore.appendBatch(embeddings.filter(col("vec_id") >= 40), vec, 1L)
    VectorStore.deleteVecs(spark, vec, Seq(5L, 45L).toDF("vec_id"), 2L)
    assert(jobsDuring(VectorStore.assignment(spark, vec))._2 === 0)
    assert(jobsDuring(VectorStore.assignmentAsOf(spark, vec, 1L))._2 === 0)
  }
}
