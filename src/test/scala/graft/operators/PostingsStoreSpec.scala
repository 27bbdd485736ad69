package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PostingsStoreSpec extends SparkSpec {
  import spark.implicits._

  test("served retrieval equals from-scratch; drop removes the store") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-spec").toString
    PostingsStore.build(docs, tmp)
    // the stored projection IS the corpus projection
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (4L, 4L))
    val direct = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === direct)
    assert(direct.nonEmpty)
    PostingsStore.drop(spark, tmp)
    assert(!new java.io.File(tmp).exists())
  }

  test("batch-appended store serves identically; replaying a batch is idempotent") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-spec3").toString
    PostingsStore.appendBatch(docs.filter(col("doc_id") <= 2), tmp, 0L)
    PostingsStore.appendBatch(docs.filter(col("doc_id") > 2), tmp, 1L)
    // at-least-once replay of batch 1: overwrites its own subtree
    PostingsStore.appendBatch(docs.filter(col("doc_id") > 2), tmp, 1L)
    // merged stats partials equal the one-shot numbers
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (4L, 4L))
    val direct = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === direct)
    // compaction (batched -> global clustering) is result-invisible,
    // and an append AFTER compaction still merges exactly: the folded
    // base tree and the new batch serve as one union (the r17 layout
    // read only b* subdirs here, silently dropping the compacted base),
    // and the folded partial carries raw sums, not the truncated avgdl
    PostingsStore.compact(spark, tmp)
    val compacted = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(compacted === direct)
    val st2 = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st2.getLong(0), st2.getLong(1)) === (4L, 4L))
    val extra = Seq((5L, "gamma theta theta"), (6L, "delta zeta")).toDF("doc_id", "text")
    PostingsStore.appendBatch(extra, tmp, 2L)
    val union = docs.unionByName(extra)
    val unionDirect = TextAnalysis.bm25DocTopK(qs, union, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val afterAppend = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(afterAppend === unionDirect)
    assert(afterAppend !== direct) // the append is visible...
    val st3 = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st3.getLong(0), st3.getLong(1)) === (6L, 3L)) // 21 tokens / 6 docs
    // ...and a second compaction folds the mixed base+batch layout back
    PostingsStore.compact(spark, tmp)
    val refolded = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(refolded === unionDirect)
    PostingsStore.drop(spark, tmp)
  }

  test("append after an offline build serves the union, and takedowns reach both layers") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val extra = Seq((5L, "gamma theta theta"), (6L, "delta zeta")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta"), (12L, "alpha theta"))
      .toDF("query_id", "qtext")
    def topk(corpus: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25DocTopK(qs, corpus, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-mixed").toString
    PostingsStore.build(docs, tmp)
    PostingsStore.appendBatch(extra, tmp, 1L)
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val union = docs.unionByName(extra)
    assert(served === topk(union))
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (6L, 3L))
    // a takedown spanning a base doc (1) and a batch doc (5) lands on
    // both layers through the (fully covering) doclens sidecar
    PostingsStore.deleteDocs(spark, tmp, Seq(1L, 5L).toDF("doc_id"), 2L)
    assert(served === topk(union.filter(!col("doc_id").isin(1L, 5L))))
    val st2 = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st2.getLong(0), st2.getLong(1)) === (4L, 3L)) // 14 tokens / 4 docs
    PostingsStore.drop(spark, tmp)
  }

  test("a partially-covered doclens sidecar falls back to the scan — takedowns never no-op") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon")).toDF("doc_id", "text")
    val extra = Seq((3L, "beta gamma gamma zeta")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-partial").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pre-sidecar store (simulated by dropping the sidecar the build
    // wrote) that receives one post-sidecar append: postings sources
    // {base, b1}, doclens sources {b1} — partial coverage
    PostingsStore.build(docs, tmp)
    fs.delete(new Path(s"$tmp/doclens"), true)
    PostingsStore.appendBatch(extra, tmp, 1L)
    // the takedown target lives in the UNCOVERED base layer; the probe
    // must fall back to the postings scan (an r17-style sidecar-first
    // probe would find no dl row, write no marker, and keep serving it)
    PostingsStore.deleteDocs(spark, tmp, Seq(1L).toDF("doc_id"), 2L)
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val filtered = TextAnalysis.bm25DocTopK(qs,
        docs.unionByName(extra).filter(col("doc_id") =!= 1L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === filtered)
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (2L, 4L)) // docs 2,3: 8 tokens
    // compact writes a full sidecar; the fast probe path resumes
    PostingsStore.compact(spark, tmp)
    val probe = PostingsStore.docLengths(spark, tmp, Seq(2L).toDF("doc_id"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("/doclens"), plan)
    assert(!plan.contains("/postings"), plan)
    PostingsStore.drop(spark, tmp)
  }

  test("replaying a delete under an already-READY id is a no-op, not an un-publish") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-replay").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PostingsStore.build(docs, tmp)
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 0L)
    val ready = new Path(s"$tmp/deletes/d0/_GRAFT_DELETE_READY")
    assert(fs.exists(ready))
    val applied = fs.getFileStatus(ready).getModificationTime
    // the batch is final by contract: a replay (even with a DIFFERENT
    // id list — the caller lost track) must not rewrite the published
    // trees — an overwrite would first delete the READY marker, making
    // the applied batch invisible until the replay completed
    PostingsStore.deleteDocs(spark, tmp, Seq(3L).toDF("doc_id"), 0L)
    assert(fs.exists(ready))
    assert(fs.getFileStatus(ready).getModificationTime === applied)
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val filtered = TextAnalysis.bm25DocTopK(qs, docs.filter(col("doc_id") =!= 2L), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === filtered) // doc 2 still out, doc 3 still in
    PostingsStore.drop(spark, tmp)
  }

  test("compact swap is crash-recoverable at every filesystem step") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-crash").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new Path(s"$tmp/$n")
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    PostingsStore.appendBatch(docs.filter(col("doc_id") <= 2), tmp, 0L)
    PostingsStore.appendBatch(docs.filter(col("doc_id") > 2), tmp, 1L)
    val direct = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

    // crash A — after the _READY marker, before any rename: the next
    // read completes the swap itself and serves the compacted store
    PostingsStore.compactBuild(spark, tmp)
    assert(fs.exists(p("_GRAFT_COMPACT_READY")))
    assert(served === direct)
    assert(!fs.exists(p("_GRAFT_COMPACT_READY")) && !fs.exists(p("postings.next")))
    assert(fs.exists(p("postings")) && fs.exists(p("stats")))

    // crash B — live tree moved aside, promotion not reached: the store
    // is momentarily headless on disk, the read self-heals
    PostingsStore.compactBuild(spark, tmp)
    assert(fs.rename(p("postings"), p("postings.old")))
    assert(!fs.exists(p("postings")))
    assert(served === direct)
    assert(!fs.exists(p("postings.old")) && !fs.exists(p("_GRAFT_COMPACT_READY")))

    // crash C — postings promoted but .old not yet deleted, stats
    // untouched: remaining steps (drop .old, swap stats) finish on read
    PostingsStore.compactBuild(spark, tmp)
    assert(fs.rename(p("postings"), p("postings.old")))
    assert(fs.rename(p("postings.next"), p("postings")))
    assert(served === direct)
    assert(!fs.exists(p("postings.old")) && !fs.exists(p("stats.next")))

    // crash D — postings tree fully swapped, stats mid-swap (moved
    // aside): the stats half completes independently
    PostingsStore.compactBuild(spark, tmp)
    assert(fs.rename(p("postings"), p("postings.old")))
    assert(fs.rename(p("postings.next"), p("postings")))
    fs.delete(p("postings.old"), true)
    assert(fs.rename(p("stats"), p("stats.old")))
    assert(served === direct)
    assert(!fs.exists(p("stats.old")) && !fs.exists(p("_GRAFT_COMPACT_READY")))

    // crash E — build died BEFORE the marker: .next debris is ignored
    // (live trees authoritative) and the next compact discards it
    fs.mkdirs(p("postings.next"))
    fs.create(new Path(s"$tmp/postings.next/garbage")).close()
    assert(served === direct)
    PostingsStore.compact(spark, tmp)
    assert(served === direct)
    assert(!fs.exists(p("postings.next")) && !fs.exists(p("_GRAFT_COMPACT_READY")))
    PostingsStore.drop(spark, tmp)
  }

  test("deleteDocs: takedown is immediate, overlap-safe, replay-idempotent, compacts away") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val kept = docs.filter(!col("doc_id").isin(2L, 4L))
    val qs = Seq((10L, "gamma zeta"), (11L, "delta"), (12L, "alpha epsilon"))
      .toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-del").toString
    PostingsStore.build(docs, tmp)
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val full = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val filtered = TextAnalysis.bm25DocTopK(qs, kept, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === full)
    assert(filtered != full)
    // overlapping batches (doc 2 twice) + an absent id (99): the second
    // batch must not re-subtract doc 2, and 99 is a no-op
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 0L)
    PostingsStore.deleteDocs(spark, tmp, Seq(2L, 4L, 99L).toDF("doc_id"), 1L)
    // at-least-once replay of batch 1 overwrites its own subtrees
    PostingsStore.deleteDocs(spark, tmp, Seq(2L, 4L, 99L).toDF("doc_id"), 1L)
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (2L, 4L)) // == build(kept) stats
    assert(served === filtered) // df/tf/scores replay the filtered corpus
    // compaction folds markers + negative partials physically
    PostingsStore.compact(spark, tmp)
    assert(!new java.io.File(s"$tmp/deletes").exists())
    assert(!new java.io.File(s"$tmp/deletestats").exists())
    assert(served === filtered)
    val st2 = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st2.getLong(0), st2.getLong(1)) === (2L, 4L))
    PostingsStore.drop(spark, tmp)
  }

  test("delete fold is crash-recoverable: marker trees retire without double subtraction") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-delcrash").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new Path(s"$tmp/$n")
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val filtered = TextAnalysis.bm25DocTopK(qs, docs.filter(col("doc_id") =!= 2L), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    PostingsStore.build(docs, tmp)
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 0L)

    // crash A — marker written, swap not started: the read completes
    // the swap INCLUDING retiring the delta trees, and the folded
    // stats are not double-subtracted by leftover negatives
    PostingsStore.compactBuild(spark, tmp)
    assert(fs.exists(p("_GRAFT_COMPACT_READY")) && fs.exists(p("deletestats")))
    assert(served === filtered)
    assert(!fs.exists(p("deletes")) && !fs.exists(p("deletestats")))
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (3L, 4L))

    // crash B — data trees promoted but delta trees not yet retired
    // (the double-subtraction window): the marker is still present, so
    // the next read finishes retirement before serving
    PostingsStore.deleteDocs(spark, tmp, Seq(3L).toDF("doc_id"), 1L)
    val filtered2 = TextAnalysis.bm25DocTopK(qs,
        docs.filter(!col("doc_id").isin(2L, 3L)), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    PostingsStore.compactBuild(spark, tmp)
    for (t <- Seq("postings", "stats")) {
      assert(fs.rename(p(t), p(s"$t.old")))
      assert(fs.rename(p(s"$t.next"), p(t)))
      fs.delete(p(s"$t.old"), true)
    }
    assert(fs.exists(p("_GRAFT_COMPACT_READY")) && fs.exists(p("deletestats")))
    assert(served === filtered2)
    assert(!fs.exists(p("deletestats")) && !fs.exists(p("_GRAFT_COMPACT_READY")))
    val st2 = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st2.getLong(0), st2.getLong(1)) === (2L, 4L))
    PostingsStore.drop(spark, tmp)
  }

  test("a term-equality probe reads a single postings file") {
    // 200 docs, each a single distinct word -> term-range files carry
    // disjoint term ranges; probing one term must push the filter to
    // the scan, and footer stats then skip every other file. The build
    // runs on its own session with coalescing off (build uses the
    // frame's session), so it writes one term-range file per shuffle
    // partition and the shared session's conf never changes
    val noCoalesce = spark.newSession()
    noCoalesce.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val docs = noCoalesce.range(200)
      .select(col("id").as("doc_id"), concat(lit("w"), format_string("%03d", col("id"))).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-onefile").toString
    PostingsStore.build(docs, tmp)
    val all = PostingsStore.postings(spark, tmp)
    assert(all.inputFiles.length > 1)
    val probe = all.filter(col("term") === "w042")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(term), EqualTo(term,w042)]"), plan)
    assert(probe.collect().map(_.getAs[Long]("doc_id")).toSeq === Seq(42L))
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val files = plans.collect(probe.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(files === Seq(1L))
    PostingsStore.drop(spark, tmp)
  }

  test("takedown probes the doclens sidecar with a pushed doc_id predicate, never the postings") {
    // 200 docs so the sidecar spans multiple doc-id-clustered files;
    // a single-doc takedown must (a) plan its length probe over the
    // doclens tree only — zero postings files touched — and (b) push
    // the inlined ids to that scan so footer stats skip row groups
    val docs = spark.range(200)
      .select(col("id").as("doc_id"),
        concat(lit("w"), format_string("%03d", col("id")), lit(" common")).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-doclens").toString
    PostingsStore.build(docs, tmp)
    val probe = PostingsStore.docLengths(spark, tmp, Seq(42L).toDF("doc_id"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("/doclens"), plan)          // the sidecar is the source...
    assert(!plan.contains("/postings"), plan)        // ...not the postings tree
    assert(plan.contains("PushedFilters: [") &&
      (plan.contains("EqualTo(doc_id,42)") || plan.contains("In(doc_id")), plan)
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((42L, 2L)))
    // the takedown itself stays correct through the sidecar path
    val qs = Seq((10L, "w042 common"), (11L, "w007")).toDF("query_id", "qtext")
    PostingsStore.deleteDocs(spark, tmp, Seq(42L).toDF("doc_id"), 1L)
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val filtered = TextAnalysis.bm25DocTopK(qs,
        docs.filter(col("doc_id") =!= 42L), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === filtered)
    PostingsStore.drop(spark, tmp)
  }

  test("a half-written delete batch is invisible; a fresh-id retry cannot double-subtract") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-delready").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PostingsStore.build(docs, tmp)
    def statsRow = PostingsStore.stats(spark, tmp).collect()(0)
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val full = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // crash: both trees of batch 7 land but the _READY marker does not
    // (deleteDocs writes it last) — simulated by deleting the marker
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 7L)
    fs.delete(new Path(s"$tmp/deletes/d7/_GRAFT_DELETE_READY"), false)
    // the half-written batch is FULLY invisible: stats unsubtracted,
    // doc 2 still served
    assert((statsRow.getLong(0), statsRow.getLong(1)) === (4L, 4L))
    assert(served === full)
    // the operator retries under a FRESH id (the at-least-once caller
    // that lost track of id 7): exactly one subtraction
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 8L)
    assert((statsRow.getLong(0), statsRow.getLong(1)) === (3L, 4L))
    val filtered = TextAnalysis.bm25DocTopK(qs, docs.filter(col("doc_id") =!= 2L), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === filtered)
    // compaction retires the dark debris along with the live batch
    PostingsStore.compact(spark, tmp)
    assert(!fs.exists(new Path(s"$tmp/deletes")) && !fs.exists(new Path(s"$tmp/deletestats")))
    assert((statsRow.getLong(0), statsRow.getLong(1)) === (3L, 4L))
    assert(served === filtered)
    PostingsStore.drop(spark, tmp)
  }

  test("re-index: takedown then re-add serves the NEW version; a later takedown lands on it") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta"), (12L, "theta"))
      .toDF("query_id", "qtext")
    def topk(corpus: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25DocTopK(qs, corpus, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-reidx").toString
    PostingsStore.build(docs, tmp)
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    def statsRow = { val r = PostingsStore.stats(spark, tmp).collect()(0)
      (r.getLong(0), r.getLong(1)) }
    // op 1: take down doc 2
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 1L)
    assert(served === topk(docs.filter(col("doc_id") =!= 2L)))
    assert(statsRow === (3L, 4L))
    // op 2: RE-ADD doc 2 with updated text (new term theta, length 5)
    val updated = Seq((2L, "alpha delta theta theta epsilon")).toDF("doc_id", "text")
    PostingsStore.appendBatch(updated, tmp, 2L)
    val newCorpus = docs.filter(col("doc_id") =!= 2L).unionByName(updated)
    assert(served === topk(newCorpus)) // the v2 doc serves, v1 stays dead
    assert(statsRow === (4L, 4L))      // 17 tokens / 4 docs
    // as-of replays every point of the cycle (history is on disk)
    def asOf(b: Long) = PostingsStore.bm25DocTopKAsOf(spark, tmp, qs, 10, b).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(asOf(0L) === topk(docs))
    assert(asOf(1L) === topk(docs.filter(col("doc_id") =!= 2L)))
    assert(asOf(2L) === topk(newCorpus))
    // op 3: take down the RE-INDEXED doc — the probe must find the v2
    // version live (an r17-style prior-marker exclusion would no-op)
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 3L)
    assert(served === topk(docs.filter(col("doc_id") =!= 2L)))
    assert(statsRow === (3L, 4L)) // exactly the v2 length subtracted
    // the fold is result-invisible over the whole cycle
    PostingsStore.compact(spark, tmp)
    assert(served === topk(docs.filter(col("doc_id") =!= 2L)))
    assert(statsRow === (3L, 4L))
    PostingsStore.drop(spark, tmp)
  }

  test("purgeTerms: purged terms stop being served, stats stay, fold is physical") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta"), (12L, "alpha delta"))
      .toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-purge").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PostingsStore.build(docs, tmp)
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // expected: the SAME corpus with the delta postings dropped — doc
    // lengths and corpus stats unchanged (index-time contract)
    val (pairs, partial) = TextAnalysis.bm25Corpus(docs)
    val expected = TextAnalysis.bm25DocTopKFrom(qs,
        pairs.filter(col("term") =!= "delta"),
        TextAnalysis.bm25Stats(partial), 10, broadcastQueries = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val full = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === full)
    assert(expected !== full)
    PostingsStore.purgeTerms(spark, tmp, Seq("delta").toDF("term"), 0L)
    assert(served === expected)
    // stats untouched: purge drops postings, never documents
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (4L, 4L))
    // replaying an already-READY purge id is a no-op (never un-publishes)
    PostingsStore.purgeTerms(spark, tmp, Seq("gamma").toDF("term"), 0L)
    assert(served === expected)
    // the fold is physical: marker tree retired, the folded postings
    // simply never contain the term, serving unchanged
    PostingsStore.compact(spark, tmp)
    assert(!fs.exists(new Path(s"$tmp/termpurges")))
    assert(served === expected)
    assert(PostingsStore.postings(spark, tmp)
      .filter(col("term") === "delta").count() === 0L)
    PostingsStore.drop(spark, tmp)
  }

  test("an as-of read plans ONLY the sources inside the bound (pure path selection)") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-asofplan").toString
    PostingsStore.build(docs.filter(col("doc_id") <= 2), tmp) // base = op 0
    PostingsStore.appendBatch(docs.filter(col("doc_id") === 3), tmp, 1L)
    PostingsStore.appendBatch(docs.filter(col("doc_id") === 4), tmp, 2L)
    // bound 1: the scan's file index must cover base + b1 and NOT b2 —
    // time travel is path selection, never a read-then-filter
    val files1 = PostingsStore.postingsAsOf(spark, tmp, 1L).inputFiles.toSeq
    assert(files1.exists(_.contains("postings/base/")), files1)
    assert(files1.exists(_.contains("postings/b1/")), files1)
    assert(!files1.exists(_.contains("postings/b2/")), files1)
    // bound 0: the offline base alone
    val files0 = PostingsStore.postingsAsOf(spark, tmp, 0L).inputFiles.toSeq
    assert(files0.nonEmpty && files0.forall(_.contains("postings/base/")), files0)
    PostingsStore.drop(spark, tmp)
  }

  test("as-of reads replay the index at each operation bound (pre/post takedown and append)") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta"),
      (4L, "zeta zeta epsilon alpha")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta"), (12L, "alpha")).toDF("query_id", "qtext")
    def topk(corpus: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25DocTopK(qs, corpus, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

    // offline-built store (operation 0) + two takedowns at ops 1 and 2
    val flat = java.nio.file.Files.createTempDirectory("graft-postings-asof1").toString
    PostingsStore.build(docs, flat)
    PostingsStore.deleteDocs(spark, flat, Seq(2L).toDF("doc_id"), 1L)
    PostingsStore.deleteDocs(spark, flat, Seq(4L).toDF("doc_id"), 2L)
    def asOf(path: String, b: Long) =
      PostingsStore.bm25DocTopKAsOf(spark, path, qs, 10, b).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(asOf(flat, 0L) === topk(docs))
    assert(asOf(flat, 1L) === topk(docs.filter(col("doc_id") =!= 2L)))
    assert(asOf(flat, 2L) === topk(docs.filter(!col("doc_id").isin(2L, 4L))))
    // the live read is the view as of the last operation
    val live = PostingsStore.bm25DocTopK(spark, flat, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(asOf(flat, 2L) === live)
    PostingsStore.drop(spark, flat)

    // batched store: appends at ops 0 and 1, takedown at op 2 — an
    // as-of bound slices BOTH axes (batches in, later deletes out)
    val bat = java.nio.file.Files.createTempDirectory("graft-postings-asof2").toString
    PostingsStore.appendBatch(docs.filter(col("doc_id") <= 2L), bat, 0L)
    PostingsStore.appendBatch(docs.filter(col("doc_id") > 2L), bat, 1L)
    PostingsStore.deleteDocs(spark, bat, Seq(1L).toDF("doc_id"), 2L)
    assert(asOf(bat, 0L) === topk(docs.filter(col("doc_id") <= 2L)))
    assert(asOf(bat, 1L) === topk(docs))
    assert(asOf(bat, 2L) === topk(docs.filter(col("doc_id") =!= 1L)))
    PostingsStore.drop(spark, bat)
  }

  test("a batch appended after a crashed compaction's marker survives the swap") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon")).toDF("doc_id", "text")
    val late = Seq((3L, "zeta zeta gamma")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-appendcrash").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PostingsStore.appendBatch(docs, tmp, 0L)
    // compaction crashes AFTER its _READY marker, BEFORE any swap step...
    PostingsStore.compactBuild(spark, tmp)
    assert(fs.exists(new Path(s"$tmp/_GRAFT_COMPACT_READY")))
    // ...and the restarted streaming query commits its next batch before
    // ANY read runs. appendBatch must converge the pending swap FIRST:
    // writing into the pre-swap live tree would hand the batch to the
    // resolve the first subsequent read performs — renamed aside and
    // deleted with the .old tree, while the stream's checkpoint says
    // the batch committed (the one mutation that skipped resolve in r18)
    PostingsStore.appendBatch(late, tmp, 1L)
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val direct = TextAnalysis.bm25DocTopK(qs, docs.unionByName(late), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === direct)
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (3L, 3L)) // 11 tokens / 3 docs
    assert(!fs.exists(new Path(s"$tmp/_GRAFT_COMPACT_READY")))
    PostingsStore.drop(spark, tmp)
  }

  test("rebuilding at a path with pending markers starts clean — no stale shadowing") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon")).toDF("doc_id", "text")
    val qs = Seq((10L, "alpha delta"), (11L, "gamma")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-rebuild").toString
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    PostingsStore.build(docs, tmp)
    PostingsStore.deleteDocs(spark, tmp, Seq(1L).toDF("doc_id"), 1L)
    PostingsStore.purgeTerms(spark, tmp, Seq("delta").toDF("term"), 2L)
    // the overwrite contract is "prior batches vanish" — the MARKER
    // trees included: a leftover op-1 takedown would shadow the fresh
    // build's op-0 rows for doc 1, its negative partial would corrupt
    // the fresh stats, and the stale purge would hide delta postings
    PostingsStore.build(docs, tmp)
    assert(!fs.exists(new Path(s"$tmp/deletes")))
    assert(!fs.exists(new Path(s"$tmp/deletestats")))
    assert(!fs.exists(new Path(s"$tmp/termpurges")))
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val direct = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === direct)
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (2L, 4L))
    PostingsStore.drop(spark, tmp)
  }

  test("a flat pre-versioning store mixed with op-carrying appends reads as op 0 — takedowns reach the legacy layer") {
    val legacy = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon")).toDF("doc_id", "text")
    val extra = Seq((3L, "beta gamma gamma zeta")).toDF("doc_id", "text")
    val qs = Seq((10L, "gamma zeta"), (11L, "delta"), (12L, "alpha"))
      .toDF("query_id", "qtext")
    def topk(corpus: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25DocTopK(qs, corpus, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-legacy").toString
    // hand-write the pre-versioning flat layout: op-LESS postings /
    // stats / doclens files at each tree ROOT — what a pre-base-dir
    // build persisted
    val (pairs, partial) = TextAnalysis.bm25Corpus(legacy)
    pairs.coalesce(1).write.parquet(s"$tmp/postings")
    partial.coalesce(1).write.parquet(s"$tmp/stats")
    pairs.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .coalesce(1).write.parquet(s"$tmp/doclens")
    // an op-carrying append joins the store: the tree now mixes op-less
    // flat files with an op column'd batch dir. A single multi-path
    // read would take its schema from ONE footer — dropping op (a
    // marker then kills re-indexed versions) or reading legacy rows as
    // op NULL (the `op <= marker` predicate never matches: takedowns
    // silently keep serving the legacy layer)
    PostingsStore.appendBatch(extra, tmp, 1L)
    def served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val union = legacy.unionByName(extra)
    assert(served === topk(union))
    // takedown of a LEGACY doc: its rows read as op 0, the op-2 marker
    // covers them, stats subtract its real sidecar length
    PostingsStore.deleteDocs(spark, tmp, Seq(1L).toDF("doc_id"), 2L)
    assert(served === topk(union.filter(col("doc_id") =!= 1L)))
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert((st.getLong(0), st.getLong(1)) === (2L, 4L)) // docs 2,3: 8 tokens
    // re-index the OTHER legacy doc: the op-4 re-add outlives its op-3
    // takedown, the legacy version stays dead
    PostingsStore.deleteDocs(spark, tmp, Seq(2L).toDF("doc_id"), 3L)
    PostingsStore.appendBatch(Seq((2L, "zeta zeta")).toDF("doc_id", "text"), tmp, 4L)
    val expected = topk(extra.unionByName(Seq((2L, "zeta zeta")).toDF("doc_id", "text")))
    assert(served === expected)
    PostingsStore.drop(spark, tmp)
  }

  test("isStale reports build-corpus drift; the store's own mutations do not count") {
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta gamma gamma zeta")).toDF("doc_id", "text")
    val dataDir = java.nio.file.Files.createTempDirectory("graft-postings-data").toString
    docs.write.parquet(s"$dataDir/docs")
    val df = spark.read.parquet(s"$dataDir/docs")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-stale").toString
    PostingsStore.build(df, tmp)
    assert(!PostingsStore.isStale(spark, tmp, df))
    // a different derivation over the same files is a different corpus
    assert(PostingsStore.isStale(spark, tmp, df.filter(col("doc_id") =!= 1L)))
    // the store's own lifecycle is not upstream drift
    PostingsStore.deleteDocs(spark, tmp, Seq(1L).toDF("doc_id"), 1L)
    PostingsStore.purgeTerms(spark, tmp, Seq("delta").toDF("term"), 2L)
    assert(!PostingsStore.isStale(spark, tmp, df))
    // the corpus files changed in place
    docs.filter(col("doc_id") =!= 2L).write.mode("overwrite").parquet(s"$dataDir/docs")
    assert(PostingsStore.isStale(spark, tmp, spark.read.parquet(s"$dataDir/docs")))
    // in-memory corpus: doc-count compare (documented weaker)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-postings-stale2").toString
    PostingsStore.build(docs, tmp2)
    assert(!PostingsStore.isStale(spark, tmp2, docs))
    assert(PostingsStore.isStale(spark, tmp2, docs.filter(col("doc_id") =!= 1L)))
    // a store predating the meta tree: unknown provenance = stale
    val fs = new Path(tmp2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$tmp2/meta"), true)
    assert(PostingsStore.isStale(spark, tmp2, docs))
    PostingsStore.drop(spark, tmp)
    PostingsStore.drop(spark, tmp2)
  }

  test("a fully-purged doc keeps its doclens row: takedown stats match before and after the fold") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "delta delta epsilon rho"),
      (3L, "sigma tau tau zeta")).toDF("doc_id", "text")
    // doc 1's ENTIRE vocabulary is purged (the all-PII doc)
    val purged = Seq("alpha", "beta", "gamma").toDF("term")
    def stats(path: String) = {
      val st = PostingsStore.stats(spark, path).collect()(0)
      (st.getLong(0), st.getLong(1))
    }
    // sequence A: purge → takedown, no fold in between — the takedown
    // subtracts doc 1's (1 doc, 4 tokens)
    val a = java.nio.file.Files.createTempDirectory("graft-postings-purgedoc-a").toString
    PostingsStore.build(docs, a)
    PostingsStore.purgeTerms(spark, a, purged, 1L)
    PostingsStore.deleteDocs(spark, a, Seq(1L).toDF("doc_id"), 2L)
    val expected = stats(a)
    assert(expected === (2L, 4L))
    // sequence B: the same takedown issued AFTER the purge was folded.
    // The compacted doclens must still carry the all-purged doc's
    // length — purge drops postings, never documents (its stats
    // contribution stays by contract) — else this takedown finds no
    // version, writes no negative partial, and the stats can never be
    // corrected (fold result-invisibility broken for this sequence)
    val b = java.nio.file.Files.createTempDirectory("graft-postings-purgedoc-b").toString
    PostingsStore.build(docs, b)
    PostingsStore.purgeTerms(spark, b, purged, 1L)
    PostingsStore.compact(spark, b)
    PostingsStore.deleteDocs(spark, b, Seq(1L).toDF("doc_id"), 2L)
    assert(stats(b) === expected)
    PostingsStore.drop(spark, a)
    PostingsStore.drop(spark, b)
  }

  test("bulk append (micro = false) keeps in-batch range clustering and serves identically") {
    // the micro=true default funnels a batch through ONE write task —
    // right for foreachBatch micro-batches, a footgun for a bulk
    // backfill (r19 VERDICT): the bulk path must stay exercised and
    // must keep the range-clustered layout a backfill relies on
    // AQE coalesces the advisory range shuffle to 1 partition at spec
    // scale (at production scale it sizes partitions to the advisory
    // byte target instead) — pin coalescing off so the range LAYOUT is
    // observable as multiple files here. The append runs on its own
    // session (appendBatch uses the frame's), so the shared session's
    // conf never changes under other suites.
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val rows = (1L to 200L)
      .map(i => (i, s"w${i % 37} w${(i * 7) % 37} w${(i * 11) % 37} common"))
    val docs = rows.toDF("doc_id", "text")
    val qs = Seq((10L, "w3 w11"), (11L, "w20 common")).toDF("query_id", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("graft-postings-bulk").toString
    PostingsStore.appendBatch(noAqe.createDataFrame(rows).toDF("doc_id", "text"), tmp, 0L,
      micro = false)
    // layout: the batch tree is range-clustered — more than one file,
    // and the per-file term ranges are DISJOINT (each file owns a
    // contiguous term range, the footer-pruning contract); a micro
    // append would produce exactly one file here
    val dir = new java.io.File(s"$tmp/postings/b0")
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1, s"bulk append wrote ${files.length} file(s)")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("term")), max(col("term"))).collect()(0)
      (r.getString(0), r.getString(1))
    }.sortBy(identity) // (lo, hi): boundary keys split WITHIN a term/cell,
    // so two files may share a lo — tie-break by hi or the sliding
    // check below sees a false overlap
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping term ranges: $hi > $lo2 (all: ${ranges.mkString(", ")})")
      case _ => ()
    }
    // served result identical to the from-scratch ranker (layout is
    // result-invisible), stats exact
    val st = PostingsStore.stats(spark, tmp).collect()(0)
    assert(st.getLong(0) === 200L)
    val direct = TextAnalysis.bm25DocTopK(qs, docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val served = PostingsStore.bm25DocTopK(spark, tmp, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(served === direct)
    assert(direct.nonEmpty)
    PostingsStore.drop(spark, tmp)
  }
}
