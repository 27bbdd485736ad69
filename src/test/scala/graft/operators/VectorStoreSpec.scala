package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = {
    // 200 deterministic 8-dim integer vectors with mild cluster
    // structure (id-band offsets), queries = the first 5
    val e = embeddings(spark)
    (e, e.filter(col("vec_id") < 5))
  }

  private def embeddings(s: org.apache.spark.sql.SparkSession) =
    s.range(200).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), j -> cast((id * 31 + j * 7) % 97 + div(id, 50) * 100 as bigint))").as("v"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

  test("store-served IVF equals from-scratch, plain and filtered; probe cells push to the scan") {
    val (e, qs) = fixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-spec").toString
    VectorStore.build(e, tmp, nCentroids = 8)
    val direct = rows(Similarity.ivfTopK(e, qs, 5, nCentroids = 8, nProbe = 2))
    val served = VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)
    assert(rows(served) === direct)
    assert(direct.nonEmpty)
    // the query batch's probe cells reach the assignment scan as ONE
    // pushable IN predicate — the cell-range-clustered files outside
    // the probed set never open (the join spelling alone cannot push)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("/assign"), plan)
    assert(plan.contains("In(centroid_id"), plan)
    // filtered serving composes the metadata predicate the same way
    val fpred = col("vec_id") % 3 === 1
    val directF = rows(Similarity.ivfFilteredTopK(e, qs, 5, fpred, nCentroids = 8, nProbe = 2))
    assert(rows(VectorStore.filteredTopK(spark, tmp, qs, 5, fpred, nProbe = 2)) === directF)
    assert(directF !== direct)
    VectorStore.drop(spark, tmp)
    assert(!new java.io.File(tmp).exists())
  }

  test("a refined (Lloyd) store serves the refined pipeline bit-equal") {
    val (e, qs) = fixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-spec2").toString
    VectorStore.build(e, tmp, nCentroids = 8, lloydIters = 1)
    val direct = rows(Similarity.ivfTopK(e, qs, 5, nCentroids = 8, nProbe = 2, lloydIters = 1))
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === direct)
    VectorStore.drop(spark, tmp)
  }

  test("append/delete/re-embed lifecycle: serves the ivfTopKWith replays; compact is result-invisible") {
    val (e, qs) = fixture
    val prior = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    val cents = Similarity.ivfCentroids(prior, 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-life").toString
    VectorStore.build(prior, tmp, nCentroids = 8)
    // append: new vectors join the EXISTING centroids' cells — the
    // served result equals assigning the union corpus to those centroids
    VectorStore.appendBatch(batch, tmp, 1L)
    VectorStore.appendBatch(batch, tmp, 1L) // at-least-once replay: idempotent
    val unionDirect = rows(Similarity.ivfTopKWith(e, cents, qs, 5, nProbe = 2))
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === unionDirect)
    // the appended vectors ARE in the served table (none crack a top-5
    // on this fixture — visibility is the assignment's to prove; the
    // as-of spec pins the served difference on the real corpus shape)
    assert(VectorStore.assignment(spark, tmp).count() === 200L)
    // takedown: deleted vectors leave retrieval across BOTH layers
    // (base vec 183 — a served top-5 neighbor — and batch vec 195)
    VectorStore.deleteVecs(spark, tmp, Seq(183L, 195L).toDF("vec_id"), 2L)
    val delPred = !col("vec_id").isin(183L, 195L)
    val delDirect = rows(Similarity.ivfFilteredTopKWith(e, cents, qs, 5, delPred, nProbe = 2))
    val delServed = VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)
    assert(rows(delServed) === delDirect)
    assert(delDirect !== unionDirect)
    // the probe-cell IN still reaches the assignment scan BELOW the
    // marker anti-join — takedowns must not cost the file skipping
    val delPlan = delServed.queryExecution.executedPlan.toString
    assert(delPlan.contains("In(centroid_id"), delPlan)
    // re-embed: the id returns under a LATER op with a DIFFERENT vector
    // and serves the new version; the old one stays dead
    val newSeven = Seq((183L, (0 to 7).map(j => (j * 1000 + 1).toLong)))
      .toDF("vec_id", "v")
    VectorStore.appendBatch(newSeven, tmp, 3L)
    val corpus2 = e.filter(delPred).unionByName(newSeven)
    val reDirect = rows(Similarity.ivfTopKWith(corpus2, cents, qs, 5, nProbe = 2))
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === reDirect)
    // compact folds batches + markers into one clustered base,
    // result-invisibly, and retires the marker tree
    VectorStore.compact(spark, tmp)
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === reDirect)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/deletes")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/assign/b1")))
    VectorStore.drop(spark, tmp)
  }

  test("in-place re-cluster: rebuild over the store's live vectors folds everything into a fresh index") {
    import org.apache.hadoop.fs.Path
    val (e, qs) = fixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-rc").toString
    VectorStore.build(e.filter(col("vec_id") % 5 =!= 0), tmp, nCentroids = 8)
    VectorStore.appendBatch(e.filter(col("vec_id") % 5 === 0), tmp, 1L)
    VectorStore.deleteVecs(spark, tmp, Seq(183L).toDF("vec_id"), 2L)
    // the documented centroid-drift path: an explicit rebuild over the
    // live view, IN PLACE (build reads the live trees while writing
    // .next; the swap replaces them only after the marker)
    VectorStore.build(VectorStore.vectors(spark, tmp), tmp, nCentroids = 8)
    val live = e.filter(col("vec_id") =!= 183L)
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) ===
      rows(Similarity.ivfTopK(live, qs, 5, nCentroids = 8, nProbe = 2)))
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$tmp/deletes")))
    assert(!fs.exists(new Path(s"$tmp/assign/b1")))
    VectorStore.drop(spark, tmp)
  }

  test("as-of serving replays the index at each operation bound") {
    val (e, qs) = fixture
    val prior = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    val cents = Similarity.ivfCentroids(prior, 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-asof").toString
    VectorStore.build(prior, tmp, nCentroids = 8)            // op 0
    VectorStore.appendBatch(batch, tmp, 1L)                  // op 1
    VectorStore.deleteVecs(spark, tmp, Seq(7L).toDF("vec_id"), 2L) // op 2
    def asOf(b: Long) = rows(VectorStore.topKAsOf(spark, tmp, qs, 5, 2, b))
    // time travel is path selection, never read-then-filter: bound 0
    // plans ONLY the base tree
    val files0 = VectorStore.assignmentAsOf(spark, tmp, 0L).inputFiles.toSeq
    assert(files0.nonEmpty && files0.forall(_.contains("assign/base/")), files0)
    val files1 = VectorStore.assignmentAsOf(spark, tmp, 1L).inputFiles.toSeq
    assert(files1.exists(_.contains("assign/b1/")), files1)
    assert(asOf(0L) === rows(Similarity.ivfTopKWith(prior, cents, qs, 5, nProbe = 2)))
    assert(asOf(1L) === rows(Similarity.ivfTopKWith(e, cents, qs, 5, nProbe = 2)))
    assert(asOf(2L) === rows(Similarity.ivfFilteredTopKWith(
      e, cents, qs, 5, col("vec_id") =!= 7L, nProbe = 2)))
    assert(asOf(2L) === rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)))
    VectorStore.drop(spark, tmp)
  }

  test("rebuild and compact are crash-atomic: every filesystem state serves old or new, never a mix") {
    import org.apache.hadoop.fs.Path
    val (e, qs) = fixture
    val e2 = e.withColumn("v",
      expr("transform(v, x -> x + 3)")) // a drifted corpus, same ids
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-crash").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    VectorStore.build(e, tmp, nCentroids = 8)
    val oldServed = rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2))

    // crash A — a REBUILD died after writing both .next trees and the
    // marker, before any swap step: the next read completes the swap
    // and serves the NEW index (never new centroids over the old
    // assignment — the pre-lifecycle two-overwrite build's window)
    val stage = java.nio.file.Files.createTempDirectory("graft-vstore-stage").toString
    VectorStore.build(e2, stage, nCentroids = 8)
    val newDirect = rows(VectorStore.topK(spark, stage, qs, 5, nProbe = 2))
    for (t <- Seq("centroids", "assign", "meta"))
      assert(fs.rename(new Path(s"$stage/$t"), new Path(s"$tmp/$t.next")))
    fs.create(new Path(s"$tmp/_GRAFT_COMPACT_READY")).close()
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === newDirect)
    assert(!fs.exists(new Path(s"$tmp/_GRAFT_COMPACT_READY")))
    assert(!fs.exists(new Path(s"$tmp/assign.next")))

    // crash B — a rebuild died BEFORE the marker: .next debris is
    // ignored, the live (new) index stays authoritative, and the next
    // build discards the debris
    fs.mkdirs(new Path(s"$tmp/assign.next"))
    fs.create(new Path(s"$tmp/assign.next/garbage")).close()
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === newDirect)
    VectorStore.build(e, tmp, nCentroids = 8)
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === oldServed)
    assert(!fs.exists(new Path(s"$tmp/assign.next")))

    // crash C — a COMPACTION died after its marker; a batch appended by
    // the restarted stream BEFORE any read must survive the swap (the
    // PostingsStore appendBatch lesson, applied here from day one)
    val extra = Seq((500L, (0 to 7).map(j => (j * 7 + 5).toLong))).toDF("vec_id", "v")
    val cents = VectorStore.centroids(spark, tmp)
    VectorStore.compactBuild(spark, tmp)
    assert(fs.exists(new Path(s"$tmp/_GRAFT_COMPACT_READY")))
    VectorStore.appendBatch(extra, tmp, 9L)
    val withExtra = rows(Similarity.ivfTopKWith(
      e.unionByName(extra), cents, qs, 5, nProbe = 2))
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === withExtra)
    VectorStore.drop(spark, tmp)
    VectorStore.drop(spark, stage)
  }

  test("compact discards a crashed rebuild's unannounced centroids") {
    import org.apache.hadoop.fs.Path
    val (e, qs) = fixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-cdebris").toString
    val stage = java.nio.file.Files.createTempDirectory("graft-vstore-cstage").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    VectorStore.build(e, tmp, nCentroids = 8)
    val before = rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2))
    // a rebuild over another corpus crashed after its first write,
    // centroids.next, and before its marker
    VectorStore.build(e.withColumn("v", expr("transform(v, x -> 1000 - x)")), stage,
      nCentroids = 3)
    assert(fs.rename(new Path(s"$stage/centroids"), new Path(s"$tmp/centroids.next")))
    VectorStore.compact(spark, tmp)
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === before)
    assert(!fs.exists(new Path(s"$tmp/centroids.next")))
    VectorStore.drop(spark, tmp)
    VectorStore.drop(spark, stage)
  }

  test("deleteVecs crash/replay: half-written batches invisible, READY ids final") {
    import org.apache.hadoop.fs.Path
    val (e, qs) = fixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-dcrash").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    VectorStore.build(e, tmp, nCentroids = 8)
    val full = rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2))
    // a marker tree WITHOUT its READY file (the crash state) is dark
    Seq((183L, 1L)).toDF("vec_id", "op").write.parquet(s"$tmp/deletes/d1")
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === full)
    // the retried takedown lands under a fresh id and applies once
    VectorStore.deleteVecs(spark, tmp, Seq(183L).toDF("vec_id"), 2L)
    val del = rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2))
    assert(del !== full)
    // replaying an already-READY id (even with a different list) is a
    // no-op — an overwrite would un-publish the applied batch
    VectorStore.deleteVecs(spark, tmp, Seq(11L).toDF("vec_id"), 2L)
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === del)
    VectorStore.drop(spark, tmp)
  }

  test("isStale: file-backed corpora fingerprint; in-memory degrade to counts; no meta = stale") {
    import org.apache.hadoop.fs.Path
    val (e, _) = fixture
    val dataDir = java.nio.file.Files.createTempDirectory("graft-vstore-data").toString
    e.write.parquet(s"$dataDir/emb")
    val ef = spark.read.parquet(s"$dataDir/emb")
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-stale").toString
    VectorStore.build(ef, tmp, nCentroids = 8)
    assert(!VectorStore.isStale(spark, tmp, ef))
    // a DIFFERENT derivation over the same files is a different corpus
    assert(VectorStore.isStale(spark, tmp, ef.filter(col("vec_id") < 100)))
    // store-side mutations do NOT make the store stale — the contract
    // is about the UPSTREAM build corpus, not the index's own lifecycle
    VectorStore.deleteVecs(spark, tmp, Seq(7L).toDF("vec_id"), 1L)
    assert(!VectorStore.isStale(spark, tmp, ef))
    // the files themselves changed (rewrite in place)
    e.filter(col("vec_id") < 150).write.mode("overwrite").parquet(s"$dataDir/emb")
    assert(VectorStore.isStale(spark, tmp, spark.read.parquet(s"$dataDir/emb")))
    // in-memory corpus: row-count compare (documented weaker)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-vstore-stale2").toString
    VectorStore.build(e, tmp2, nCentroids = 8)
    assert(!VectorStore.isStale(spark, tmp2, e))
    assert(VectorStore.isStale(spark, tmp2, e.filter(col("vec_id") < 100)))
    // a store predating the meta tree: unknown provenance = stale
    val fs = new Path(tmp2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$tmp2/meta"), true)
    assert(VectorStore.isStale(spark, tmp2, e))
    VectorStore.drop(spark, tmp)
    VectorStore.drop(spark, tmp2)
  }

  test("bulk append (micro = false) keeps in-batch cell clustering and serves identically") {
    // the micro=true default funnels a batch through ONE write task —
    // right for foreachBatch micro-batches, a footgun for a bulk
    // backfill (r19 VERDICT): keep the bulk path exercised and prove it
    // keeps the cell-range-clustered layout footer pruning relies on
    val (e, qs) = fixture
    val prior = e.filter(col("vec_id") % 2 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-bulk").toString
    VectorStore.build(prior, tmp, nCentroids = 8)
    // AQE coalesces the advisory range shuffle to 1 partition at spec
    // scale — pin coalescing off so the range LAYOUT is observable. The
    // append runs on its own session (appendBatch uses the frame's), so
    // the shared session's conf never changes under other suites.
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    VectorStore.appendBatch(embeddings(noAqe).filter(col("vec_id") % 2 === 1), tmp, 1L,
      micro = false)
    val dir = new java.io.File(s"$tmp/assign/b1")
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1, s"bulk append wrote ${files.length} file(s)")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("centroid_id")), max(col("centroid_id"))).collect()(0)
      (r.getInt(0), r.getInt(1))
    }.sortBy(identity) // (lo, hi): boundary keys split WITHIN a term/cell,
    // so two files may share a lo — tie-break by hi or the sliding
    // check below sees a false overlap
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping cell ranges: $hi > $lo2 (all: ${ranges.mkString(", ")})")
      case _ => ()
    }
    // layout is result-invisible: served equals assigning the union
    // corpus to the prior-corpus centroids
    val cents = Similarity.ivfCentroids(prior, 8)
    val direct = rows(Similarity.ivfTopKWith(e, cents, qs, 5, nProbe = 2))
    assert(rows(VectorStore.topK(spark, tmp, qs, 5, nProbe = 2)) === direct)
    assert(direct.nonEmpty)
    VectorStore.drop(spark, tmp)
  }

  test("an RDD-backed query frame over an unpersisted, non-deterministic RDD serves exactly") {
    // the RDD yields the first 5 vectors on its first evaluation and
    // vectors from another cluster band, under the same query ids, on
    // every later one: a serve that evaluated it once for the probe-cell
    // prefilter and again for the probe join would drop candidate cells
    val (e, qs) = fixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-rdd").toString
    VectorStore.build(e, tmp, nCentroids = 8)
    val first = qs.collect().toSeq
    val later = e.filter(col("vec_id").between(150, 154)).collect().toSeq
      .zip(first).map { case (r, q) => org.apache.spark.sql.Row(q.getLong(0), r.get(1)) }
    VectorStoreSpec.evaluations.set(0)
    val drifting = spark.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      if (VectorStoreSpec.evaluations.getAndIncrement() == 0) first else later
    }
    val queries = spark.createDataFrame(drifting, qs.schema)
    assert(queries.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val cents = Similarity.ivfCentroids(e, 8)
    val direct = rows(Similarity.ivfTopKWith(e, cents, qs, 5, nProbe = 2))
    assert(rows(VectorStore.topK(spark, tmp, queries, 5, nProbe = 2)) === direct)
    assert(direct !== rows(Similarity.ivfTopKWith(e, cents, spark.createDataFrame(
      spark.sparkContext.parallelize(later, 1), qs.schema), 5, nProbe = 2)))
    VectorStore.drop(spark, tmp)
  }
}

object VectorStoreSpec {
  /** Evaluations of the drifting query RDD (tasks run in this JVM). */
  val evaluations = new java.util.concurrent.atomic.AtomicInteger(0)
}
