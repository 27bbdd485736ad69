package graft.operators

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamingIngest

/** The local filesystem under the `fault` scheme. Once the marker file
  * named by [[FaultFs.arm]] is created, it fails the k-th rename or
  * delete issued after it, then behaves normally again — a crash at
  * that step of a swap's completion. */
class FaultFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("fault:///")
  override def getScheme: String = "fault"
}) {
  import FaultFs._

  override def getScheme: String = "fault"

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    created(f)
    out
  }

  override def rename(src: Path, dst: Path): Boolean = { step(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { step(); super.delete(f, recursive) }
}

object FaultFs {
  private var marker: String = null
  private var failAt = 0
  private var counting = false
  private var steps = 0

  /** Fail the `k`-th rename or delete after `markerName` is created. */
  def arm(markerName: String, k: Int): Unit = synchronized {
    marker = markerName; failAt = k; counting = false; steps = 0
  }

  def disarm(): Unit = synchronized { marker = null; counting = false }

  private def created(f: Path): Unit = synchronized {
    if (marker != null && f.getName == marker) { steps = 0; counting = true }
  }

  private def step(): Unit = synchronized {
    if (counting) {
      steps += 1
      if (steps == failAt) { disarm(); throw new IOException(Injected) }
    }
  }

  val Injected = "injected crash"
}

/** Kills every marker-guarded swap at each of its filesystem steps, for
  * every store that uses the shared [[StoreSwap]] core: the next public
  * read answers exactly the pre-op or the post-op state and never fails,
  * and re-running the operation converges without leaving a marker,
  * `.next`, `.old` or `.folding` behind. */
class StoreSwapFaultSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.fault.impl", classOf[FaultFs].getName)

  /** One swap-running operation over a store laid out under a root dir. */
  private case class Op(name: String, marker: String, setup: String => Unit,
                        run: String => Unit, read: String => Set[String],
                        debris: Seq[String])

  private def local(root: String): String = root.stripPrefix("fault://")

  /** A fresh `fault://` root holding a copy of `template`. */
  private def copyOf(template: String): String = {
    val dst = Files.createTempDirectory("graft-fault-work")
    val src = new File(template).toPath
    Files.walk(src).forEach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    s"fault://$dst"
  }

  private def names(root: String): Seq[String] = {
    def walk(f: File): Seq[File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new File(local(root))).map(_.getName)
  }

  private def assertConverged(root: String): Unit = {
    val left = names(root).filter(n => n.endsWith(".next") || n.endsWith(".old") ||
      n.endsWith(".folding") || Seq("_GRAFT_COMPACT_READY", "_GRAFT_FOLD_READY",
        "_GRAFT_SWAP_READY").contains(n))
    assert(left.isEmpty, s"swap debris left under $root")
  }

  private def set(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"), (2L, "alpha delta delta epsilon"),
    (3L, "beta gamma gamma zeta"), (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
  private val queries = Seq((10L, "gamma zeta"), (11L, "delta alpha")).toDF("query_id", "qtext")

  private val vectors = spark.range(120).select(col("id").as("vec_id"),
    expr("transform(sequence(0, 7), j -> cast((id * 31 + j * 7) % 97 + div(id, 40) * 100 as bigint))")
      .as("v"))
  private val drifted = vectors.withColumn("v", expr("transform(v, x -> 1000 - x)"))
  private val vecQueries = vectors.filter(col("vec_id") < 4)

  private val points = PointStore.points((0L until 300L)
    .map(i => (i, (i * 37 % 101).toInt, (i * 53 % 97).toInt, 0L))
    .toDF("pid", "px", "py", "put_seq"), col("pid"), col("px"), col("py"), Seq(col("put_seq")))

  private val postingsCompact = Op("PostingsStore.compact", "_GRAFT_COMPACT_READY",
    setup = root => {
      PostingsStore.build(docs.filter(col("doc_id") <= 3), s"$root/idx")
      PostingsStore.appendBatch(docs.filter(col("doc_id") === 4), s"$root/idx", 1L)
      PostingsStore.deleteDocs(spark, s"$root/idx", Seq(2L).toDF("doc_id"), 2L)
      PostingsStore.purgeTerms(spark, s"$root/idx", Seq("beta").toDF("term"), 3L)
    },
    run = root => PostingsStore.compact(spark, s"$root/idx"),
    read = root => set(PostingsStore.bm25DocTopK(spark, s"$root/idx", queries, 10)),
    debris = Seq("idx/postings.next"))

  private val vectorBuild = Op("VectorStore.build (rebuild over a drifted corpus)",
    "_GRAFT_COMPACT_READY",
    setup = root => VectorStore.build(vectors, s"$root/idx", nCentroids = 6),
    run = root => VectorStore.build(drifted, s"$root/idx", nCentroids = 6),
    read = root => set(VectorStore.topK(spark, s"$root/idx", vecQueries, 5, nProbe = 2)),
    debris = Seq("idx/centroids.next"))

  private val vectorCompact = Op("VectorStore.compact", "_GRAFT_COMPACT_READY",
    setup = root => {
      VectorStore.build(vectors.filter(col("vec_id") % 4 =!= 0), s"$root/idx", nCentroids = 6)
      VectorStore.appendBatch(vectors.filter(col("vec_id") % 4 === 0), s"$root/idx", 1L)
      VectorStore.deleteVecs(spark, s"$root/idx", Seq(1L, 8L).toDF("vec_id"), 2L)
    },
    run = root => VectorStore.compact(spark, s"$root/idx"),
    read = root => set(VectorStore.topK(spark, s"$root/idx", vecQueries, 5, nProbe = 2)),
    debris = Seq("idx/assign.next"))

  private val pointFold = Op("PointStore.compactDeletes", "_GRAFT_FOLD_READY",
    setup = root => {
      PointStore.write(points, s"$root/store", 3)
      val store = PointStore.open(spark, s"$root/store")
      store.delete(Seq((5L, 5 * 37 % 101, 5 * 53 % 97, 1L)).toDF("id", "x", "y", "put_seq"))
      store.deleteRange(Seq((0, 20, 0, 20, 1L)).toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    },
    run = root => PointStore.open(spark, s"$root/store").compactDeletes(Seq("put_seq"), 2),
    read = root => set(PointStore.open(spark, s"$root/store").live(Seq("put_seq"))
      .select("id", "x", "y")),
    debris = Seq("store.folding"))

  private val statsRebuild = Op("StreamingIngest.rebuildStats", "_GRAFT_SWAP_READY",
    setup = root => {
      PointStore.write(points, s"$root/store", 2)
      // the table counts a third of the store until the rebuild
      StreamingIngest.mergeBatchStats(spark, points.filter(col("id") % 3 === 0), 0L,
        s"$root/stats")
    },
    run = root => StreamingIngest.rebuildStats(spark, s"$root/store", s"$root/stats"),
    read = root => set(StreamingIngest.adaptiveStatsView(spark, s"$root/stats", threshold = 20L)),
    debris = Seq("stats.folding"))

  private val ops = Seq(postingsCompact, vectorBuild, vectorCompact, pointFold, statsRebuild)

  /** A template root holding the pre-op store. */
  private def template(op: Op): String = {
    val root = Files.createTempDirectory("graft-fault-tpl").toString
    op.setup(root)
    root
  }

  ops.foreach { op =>
    test(s"${op.name}: a crash at every swap step reads pre- or post-op and converges") {
      val tpl = template(op)
      val pre = op.read(copyOf(tpl))
      val post = { val r = copyOf(tpl); op.run(r); op.read(r) }
      var k = 0
      var crashed = true
      while (crashed) {
        k += 1
        val root = copyOf(tpl)
        FaultFs.arm(op.marker, k)
        crashed =
          try { op.run(root); false }
          catch { case e: IOException if e.getMessage == FaultFs.Injected => true }
          finally FaultFs.disarm()
        val got = op.read(root)
        assert(got == pre || got == post, s"crash at step $k: neither pre- nor post-op")
        if (crashed) {
          op.run(root)
          assert(op.read(root) === post, s"re-run after a crash at step $k")
        }
        assertConverged(root)
        org.apache.commons.io.FileUtils.deleteDirectory(new File(local(root)))
      }
      assert(k > 2, s"the swap completed after ${k - 1} steps: no crash was injected")
    }
  }

  test("a read leaves unmarked .next / scratch debris on disk") {
    ops.foreach { op =>
      val root = copyOf(template(op))
      val fs = StoreSwap.fsOf(spark, root)
      op.debris.foreach(d => fs.create(new Path(s"$root/$d/part-garbage")).close())
      op.read(root)
      op.debris.foreach(d => assert(fs.exists(new Path(s"$root/$d")), s"${op.name}: $d"))
    }
  }
}
