package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import StoreSwap.BaseDir

/**
 * Materialized inverted-index (postings) store for the text-retrieval
 * operators — the reference's core idea (a secondary index that turns
 * scans into probes, `Index.java` / SURVEY §2.2) applied to the text
 * surface: the BM25 corpus projection ([[TextAnalysis.bm25Corpus]])
 * written TERM-RANGE-CLUSTERED to parquet, so a retrieval query's term
 * predicates prune whole files by parquet min/max stats exactly the way
 * the z-ordered point store prunes rectangles — and the corpus is
 * tokenized ONCE at build time instead of once per query.
 *
 * Layout: `path/postings` = `(term, doc_id, dl, tf)` rows,
 * `repartitionByRange(term, doc_id)` + sorted within partitions (each
 * file owns a contiguous term range; min/max footer stats make a
 * term-equality probe touch ~1 file); `path/stats` = the 1-row
 * `(n_docs, avgdl)` corpus stats. At 100 TB the build is one
 * tokenize+explode pass and one range shuffle — the same cost as a
 * single from-scratch retrieval — amortized over every query served
 * thereafter.
 *
 * Served queries are REPLAYS of the from-scratch plans over the stored
 * projection ([[TextAnalysis.bm25DocTopKFrom]]), so results are
 * bit-identical by construction; the `postings_equiv` gate proves the
 * build→serve round trip end-to-end against the one-shot oracle (the
 * `compact_equiv` discipline: materialization must be result-invisible).
 */
object PostingsStore {

  /** Build the store at `path` (overwrites the data trees; any prior
    * batches vanish with them). Alongside the postings tree, a
    * `doclens` sidecar — `(doc_id, dl)`, ONE row per doc,
    * doc-id-range-clustered — is written so a takedown's per-doc-length
    * probe ([[deleteDocs]]) skips by doc_id footer stats instead of
    * scanning the term-clustered postings (which cannot prune a doc
    * probe). The sidecar is ~1/avgdl the postings' size and costs one
    * extra (map-side-combined) aggregation at build time.
    *
    * LAYOUT: the folded trees live under a reserved `base` subdir of
    * each tree root (`postings/base`, `stats/base`, `doclens/base`) —
    * the SAME subtree shape [[appendBatch]] uses — so a store that
    * mixes a compacted/built base with later appends is one uniform
    * directory family and every read serves the UNION of base + all
    * batches. (The pre-r18 flat layout wrote the files at the tree
    * root; reads still union any such flat files in, as operation 0.) */
  def build(df: DataFrame, path: String): Unit = {
    val s = df.sparkSession
    val fs = StoreSwap.fsOf(s, path)
    val swap = Store.swap(path)
    // converge an interrupted swap BEFORE overwriting — else its marker
    // would later promote stale .next over this build
    StoreSwap.begin(fs, swap)
    // prior incarnation, MARKER trees included: the overwrite contract
    // is "prior batches vanish", and a leftover takedown marker would
    // shadow the fresh corpus (all new rows are op 0) while a leftover
    // negative partial corrupts the fresh stats
    (swap.trees.map(_._1) ++ swap.retire).foreach(fs.delete(_, true))
    // three consumers re-run the tokenize+explode pass without a
    // materialization: the range shuffle's SAMPLING job, the postings
    // write itself, and the doclens sidecar aggregate. Persist the
    // pairs (MEMORY_AND_DISK — spills, never recomputes): those three
    // read one tokenize+explode. The STATS partial is a separate
    // `docs.agg` plan the pairs cache cannot serve (zero-token docs
    // have no pairs row but count in n_docs — r19 ADVICE), so it pays
    // one more tokenize of the corpus BY CHOICE: persisting the
    // tokenized docs to cover it was implemented in r20 and MEASURED
    // SLOWER on every pure build/append key (+0.3–0.9 s/key, e.g.
    // postings_equiv 4.95→5.66, stream_postings 9.52→10.41 min-of-3
    // paired) — caching the full token arrays costs more than the
    // scalar (count, sum(dl)) rollup pass they would save, at bench
    // scale and, first-principles, at 100 TB too (the cache write of
    // token arrays is bigger I/O than the text re-read it avoids).
    val (pairs0, partial) = TextAnalysis.bm25Corpus(df)
    val pairs = pairs0.withColumn("op", lit(0L)) // operation id (versioned markers)
    pairs.persist()
    try {
      pairs.repartitionByRange(col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$path/postings/$BaseDir")
      partial.coalesce(1).write.mode("overwrite").parquet(s"$path/stats/$BaseDir")
      writeDoclens(pairs, s"$path/doclens/$BaseDir")
    } finally { pairs.unpersist(); () }
    // build-corpus identity for [[isStale]]: doc count from the just-
    // written stats partial (no extra corpus scan) + the file-listing/
    // plan fingerprint where the corpus is file-backed
    val nDocs = ParquetFooters.readParquet(s, s"$path/stats/$BaseDir").collect()(0).getLong(0)
    import s.implicits._
    Seq((nDocs, TableMemo.contentKey(df).getOrElse("")))
      .toDF("n_rows", "fingerprint")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta/$BaseDir")
  }

  /** Has the BUILD corpus changed since [[build]] captured it? The
    * store's own [[appendBatch]]/[[deleteDocs]]/[[purgeTerms]]
    * mutations do not count — see [[StoreSwap.IndexStore.isStale]]. */
  def isStale(s: SparkSession, path: String, docs: DataFrame): Boolean =
    Store.isStale(s, path, docs)

  /** The `(doc_id, dl)` sidecar: one row per doc, clustered by doc_id
    * so parquet footer min/max make a doc-id probe touch ~1 file.
    * `micro = true` (a [[appendBatch]] micro-batch) skips the
    * `repartitionByRange` — a range shuffle costs an extra sampling
    * JOB per call, which r17's per-batch sidecar writes billed to the
    * streaming-ingest hot path; one micro-batch is one small file, so
    * `coalesce(1)` + an in-partition sort keeps the same footer-stats
    * pruning without the sampling pass. */
  private def writeDoclens(pairs: DataFrame, dest: String,
                           micro: Boolean = false): Unit = {
    // one row per (doc, latest op): within a batch op is constant; the
    // compact path's cross-batch pairs are live-only, so max_by picks
    // the (single) live version's length
    val lens = pairs.groupBy("doc_id").agg(expr("max_by(dl, op)").as("dl"),
      max(col("op")).as("op"))
    val clustered =
      if (micro) lens.coalesce(1).sortWithinPartitions("doc_id")
      else lens.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
    clustered.write.mode("overwrite").parquet(dest)
  }

  /** APPEND one batch's postings + stats partial under a BATCH-ID-keyed
    * subtree — the online-maintenance write ([[StreamingQueries]]'
    * `stream_postings` gate): overwriting `b$batchId` makes a
    * foreachBatch REPLAY idempotent (the at-least-once machinery's
    * exactly-once net effect, the `StreamingIngest` discipline), and
    * the mergeable stats partial sums to the offline build's numbers.
    * Per-batch files are term-clustered only within the batch — a
    * compaction (re-running [[build]] over the accumulated corpus)
    * restores the global clustering, result-invisibly.
    *
    * `micro` CONTRACT (r19 VERDICT §4): the `true` default funnels the
    * whole batch through ONE write task (`repartition(1)`) — correct
    * for foreachBatch micro-batches (every current caller), WRONG for
    * a bulk backfill, which must pass `micro = false` to keep in-batch
    * range clustering and write-side parallelism (spec-pinned: "bulk
    * append keeps in-batch range clustering"). Layout is
    * result-invisible either way; the trade is write parallelism +
    * footer-pruning granularity vs a per-call sampling job. */
  def appendBatch(df: DataFrame, path: String, batchId: Long,
                  micro: Boolean = true): Unit = {
    // converge an interrupted compaction FIRST — like every other
    // mutation and read. Without this, a batch appended into the window
    // between a crashed compaction's _READY marker and the next
    // swap-completion would land in the LIVE tree that the first
    // subsequent read's resolve renames aside and deletes — a committed
    // streaming batch silently gone (spec-pinned in the crash battery)
    StoreSwap.resolve(StoreSwap.fsOf(df.sparkSession, path), Store.swap(path))
    // two consumers (postings write + sidecar agg) — tokenize once;
    // micro-batch scale, so the cached footprint is one batch's pairs.
    // The stats partial re-tokenizes the batch BY CHOICE — the docs
    // cache that would cover it measured slower (see [[build]])
    val (pairs0, partial) = TextAnalysis.bm25Corpus(df)
    val pairs = pairs0.withColumn("op", lit(batchId))
    pairs.persist()
    try {
      // `micro` (the foreachBatch default): one term-sorted file per
      // batch tree — the sidecar's r17 lesson applied to the postings
      // write too: a range shuffle costs an extra SAMPLING job per
      // call plus a fan-out of shuffle-partition-many tiny files, and
      // a micro-batch is one small file either way, so footer-stats
      // pruning granularity is unchanged. `repartition(1)`, NOT
      // `coalesce(1)`: coalesce collapses the WHOLE upstream stage —
      // tokenize included — to one task (measured +3.5 s on the asof
      // gate's half-corpus batches); the keyless shuffle keeps the
      // tokenize parallel and moves only the batch's pairs once. Bulk
      // appends pass micro = false to keep in-batch range clustering
      val clustered =
        if (micro) pairs.repartition(1).sortWithinPartitions("term", "doc_id")
        else pairs.repartitionByRange(col("term"), col("doc_id"))
          .sortWithinPartitions("term", "doc_id")
      clustered.write.mode("overwrite").parquet(s"$path/postings/b$batchId")
      partial.coalesce(1).write.mode("overwrite").parquet(s"$path/stats/b$batchId")
      writeDoclens(pairs, s"$path/doclens/b$batchId", micro = true)
    } finally { pairs.unpersist(); () }
  }

  /** Compact a batch-appended store back to the offline layout: one
    * globally term-range-clustered postings tree + a single folded
    * stats partial (the point store's minor+major compaction analog,
    * and like it RESULT-INVISIBLE — serving before and after compaction
    * is bit-identical, spec-pinned). The folded partial sums the RAW
    * `(n_docs, dl_sum)` partials — never the derived (truncated) avgdl,
    * which would drift under appends AFTER a compaction.
    *
    * CRASH-ATOMIC via the `_READY`-marker swap (the StreamingIngest
    * recluster discipline): both `.next` trees are fully written BEFORE
    * the marker is created; only then does the swap move each live tree
    * aside (`.old`), promote its `.next`, and delete the `.old`. Every
    * crash state converges — no marker means the `.next` debris is an
    * unfinished build (discarded by the next compact), marker means the
    * build finished (any reader or the next compact completes the swap,
    * [[StoreSwap.resolve]]); at no point is the store's data
    * unrecoverable, and a completed-swap store is servable between every
    * pair of filesystem ops (spec-pinned by killing the swap at each
    * step). Single
    * compactor assumed (the gate/stream harness guarantee); the claim
    * here is crash recovery, not multi-writer coordination. */
  def compact(s: SparkSession, path: String): Unit = {
    compactBuild(s, path)
    StoreSwap.complete(StoreSwap.fsOf(s, path), Store.swap(path))
  }

  /** [[compact]]'s build half: write both `.next` trees, then announce
    * them complete with the `_READY` marker. Split out so the crash
    * spec can stop the world at the marker and prove every subsequent
    * state self-heals. */
  private[operators] def compactBuild(s: SparkSession, path: String): Unit = {
    val fs = StoreSwap.fsOf(s, path)
    val swap = Store.swap(path)
    StoreSwap.begin(fs, swap) // converge a prior swap, drop unfinished-build debris
    // markers fold into BOTH trees; purges fold into the postings tree
    // ONLY — a doc whose every term was purged is still a live document
    // (purge keeps its (n_docs, dl_sum) contribution by contract), so
    // it must keep its doclens row or a post-fold takedown would find
    // no length and silently skip the stats subtraction the same
    // takedown issued before the fold performs (fold result-invisibility)
    val liveDocs = Store.live(s, path, "postings", Long.MaxValue)
    // four consumers otherwise re-read the whole store THROUGH the
    // marker filter (postings range-sampling + write, doclens
    // range-sampling + write) — the [[build]]/[[appendBatch]] persist
    // discipline: one store read, three cache reads
    liveDocs.persist()
    try {
      val pairs = applyPurges(liveDocs, purges(path).read(s, Long.MaxValue))
      val partial = rawPartials(s, path, Long.MaxValue)
        .agg(sum("n_docs").as("n_docs"), sum("dl_sum").as("dl_sum"))
      pairs.repartitionByRange(col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$path/postings.next/$BaseDir")
      partial.coalesce(1).write.mode("overwrite").parquet(s"$path/stats.next/$BaseDir")
      writeDoclens(liveDocs, s"$path/doclens.next/$BaseDir")
    } finally { liveDocs.unpersist(); () }
    fs.create(swap.marker).close()
  }

  /**
   * Logical document DELETE (takedown) for the text index — the
   * [[PointStore.delete]] discipline applied to the postings store: a
   * 100-TB takedown workflow must remove a document from retrieval
   * without rewriting the index, and the point-store tombstone alone
   * doesn't do it (the doc would still be SERVED by every BM25 query
   * through the postings projection).
   *
   * Marker side table `deletes/d$deleteId` holds the deleted doc ids;
   * every postings read drops the versions it marks
   * ([[StoreSwap.killVersions]]: an inlined map literal, no join, for
   * small sets), so df/tf/ranks adjust immediately. Corpus stats adjust
   * through a NEGATIVE mergeable partial `deletestats/d$deleteId` —
   * `(-n, -Σdl)` over the deleted docs, summed into the same raw
   * `(n_docs, dl_sum)` fold as the positive build/batch partials (the
   * raw-partials rule: negation composes, truncated avgdl wouldn't).
   * The deleted docs' lengths come from the `doclens` sidecar —
   * doc-id-clustered, so the probe prunes to the few files whose
   * footer stats cover the takedown ids (PushedFilters pinned in the
   * spec): a takedown batch costs O(markers) reads and writes, never a
   * postings scan. (A store whose sidecar does not cover EVERY
   * postings source — absent entirely, or partial after a pre-sidecar
   * store's first post-sidecar append — falls back to the one-scan
   * path until its next [[compact]] writes a full sidecar; a partial
   * probe would silently no-op takedowns of docs in uncovered batches.)
   *
   * CRASH-ATOMIC per batch: the negative partial, then the marker
   * tree, are both fully written BEFORE a `_GRAFT_DELETE_READY` file
   * lands inside the marker tree, and every read path ignores
   * batches without the marker — so a crash mid-delete leaves the
   * batch fully invisible (a retry under a FRESH id cannot
   * double-subtract; the half-written debris stays dark until
   * [[compact]] retires it). Both trees are keyed by the caller's
   * `deleteId` and written with overwrite, so replaying a delete batch
   * is idempotent (the [[appendBatch]] discipline); ids already
   * subtracted by a DIFFERENT delete batch are excluded, so
   * overlapping takedown lists never double-subtract, and ids absent
   * from the store are no-ops.
   *
   * RE-INDEX (document update) is supported: markers are VERSIONED —
   * a marker kills only posting versions with operation id ≤ its own
   * (every stored row carries the `op` of the batch that wrote it),
   * so `deleteDocs(id=k)` then `appendBatch(newText, id>k)` serves the
   * NEW version (the re-crawl lifecycle), and a later takedown lands
   * on it (the probe judges liveness against the marker set, so
   * overlapping lists stay exactly-once and a fully-dead doc
   * contributes nothing). Stats stay exact through the cycle: the
   * delete subtracts the live version's length, the re-add's batch
   * partial adds the new one. [[compact]] folds markers and
   * negative partials physically and retires both trees, crash-atomic
   * under the same `_READY` swap. Same single-writer exclusion as
   * [[compact]]: a delete issued between a compaction's build and its
   * swap would be retired unapplied — sequence deletes and compactions,
   * don't interleave them.
   */
  def deleteDocs(s: SparkSession, path: String, docIds: DataFrame,
                 deleteId: Long): Unit = {
    val fs = StoreSwap.fsOf(s, path)
    StoreSwap.resolve(fs, Store.swap(path))
    Store.deletes(path).announceOnce(fs, deleteId) { dir =>
      // null ids (e.g. the long cast of a malformed id) are harmless
      // no-ops, not probe-time NPEs
      val ids = docIds.select(col("doc_id").cast("long").as("doc_id"))
        .filter(col("doc_id").isNotNull).distinct()
      // LIVE versions of the requested ids: every stored version minus
      // those a prior marker already shadows. Docs with no live version
      // — absent, or fully taken down and not re-indexed since —
      // contribute no marker and no subtraction, which makes overlapping
      // takedown lists exactly-once AND makes a takedown of a re-indexed
      // doc (live again under a LATER op) land on the new version
      val liveVers = StoreSwap.killVersions(docLengths(s, path, ids),
        Store.deletes(path).read(s, Long.MaxValue), "doc_id")
      // one probe feeds both trees; scoped so the blocks release HERE
      // (both consumers materialize inside this call — a raw
      // localCheckpoint would leave its blocks to the ContextCleaner
      // lottery, the one leak source the r19 pinned bench caught)
      val hit = CheckpointScope.checkpoint(liveVers.groupBy("doc_id")
        .agg(expr("max_by(dl, op)").as("dl")))
      try {
        hit.agg((-count(lit(1))).as("n_docs"),
            (-coalesce(sum("dl"), lit(0L))).as("dl_sum"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$path/deletestats/d$deleteId")
        hit.select("doc_id").withColumn("op", lit(deleteId))
          .coalesce(1).write.mode("overwrite").parquet(dir)
      } finally CheckpointScope.release(hit)
    }
  }

  /** A takedown set may legally exceed this, but below it the doclens
    * probe inlines the ids as ONE pushable `doc_id IN (...)` predicate
    * (footer-stats file/row-group skipping); above it the probe joins
    * against the broadcast id set — still only the sidecar, never the
    * postings, is scanned. */
  private val InlineDeleteIdCap = 10000

  /** `(doc_id, dl, op)` — every stored VERSION of the takedown ids —
    * the [[deleteDocs]] probe (liveness is the caller's to judge
    * against the marker set). Package-visible so the spec can pin its
    * plan (doclens scan + pushed doc_id predicate, no postings scan). */
  private[operators] def docLengths(s: SparkSession, path: String,
                                    fresh: DataFrame): DataFrame =
    doclensTree(s, path) match {
      case Some(lens0) =>
        val lens = StoreSwap.withOp(lens0)
        val ids = fresh.limit(InlineDeleteIdCap + 1).collect().map(_.getLong(0))
        if (ids.isEmpty) lens.limit(0)
        else if (ids.length <= InlineDeleteIdCap)
          lens.filter(col("doc_id").between(ids.min, ids.max) &&
            col("doc_id").isInCollection(ids))
        else lens.join(broadcast(fresh), Seq("doc_id"))
      case None => // uncovered sidecar: the original one-scan fallback
        StoreSwap.withOp(Store.tree(s, path, "postings", Long.MaxValue))
          .join(broadcast(fresh), Seq("doc_id"))
          .groupBy("doc_id", "op").agg(first(col("dl")).as("dl"))
          .select("doc_id", "dl", "op")
    }

  /** The sidecar view, ONLY when it covers every postings source —
    * source-key sets must match EXACTLY, else the probe falls back to
    * the postings scan. Subset coverage (a pre-sidecar store that
    * received one post-sidecar append: postings `{root, b7}`, doclens
    * `{b7}`) would treat docs in uncovered batches as absent — a
    * takedown that silently doesn't take down; superset coverage
    * (stale sidecar dirs) would subtract stats for absent docs. */
  private def doclensTree(s: SparkSession, path: String): Option[DataFrame] = {
    val post = StoreSwap.treeSources(s, path, "postings")
    val lens = StoreSwap.treeSources(s, path, "doclens")
    if (lens.isEmpty || lens.map(_.key).toSet != post.map(_.key).toSet) None
    else Some(StoreSwap.readTree(s, lens, s"$path/doclens")) // mixed-era op handling
  }

  /**
   * Logical TERM purge — the vocabulary-axis sibling of [[deleteDocs]]
   * (the PII/secret-token workflow: a term must stop being SERVED by
   * retrieval without rewriting a 100-TB index). Marker table
   * `termpurges/t$purgeId` holds the purged terms; every postings read
   * drops them — inlined as a pushable `NOT IN` filter below
   * [[InlinePurgeTermCap]] (no join at all), a broadcast anti-join
   * past it. Corpus stats are UNCHANGED by contract: dl/avgdl are the
   * documents' lengths at INDEX time (the BM25 normalization base),
   * and n_docs counts documents, not terms — so a purge shifts df and
   * per-query n_terms only, exactly the term-filtered replay.
   *
   * Same crash/replay discipline as [[deleteDocs]]: the marker list is
   * announced by a `_GRAFT_DELETE_READY` file written LAST (half-written
   * purges invisible), replaying an already-READY id is a no-op, and
   * [[compact]] folds purges physically (the folded tree simply never
   * contains the terms) and retires the marker tree. Same re-index
   * contract too: a purged term appearing in a batch appended AFTER the
   * purge's compaction is served again — purge is a statement about the
   * indexed past; keep ingest-side filtering for the future.
   */
  def purgeTerms(s: SparkSession, path: String, terms: DataFrame,
                 purgeId: Long): Unit = {
    val fs = StoreSwap.fsOf(s, path)
    StoreSwap.resolve(fs, Store.swap(path))
    purges(path).announceOnce(fs, purgeId) { dir =>
      terms.select(col("term").cast("string").as("term"))
        .filter(col("term").isNotNull).distinct()
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  /** Below this many pending purged terms the read inlines them as ONE
    * `term NOT IN (...)` filter (codegen'd, no join, row-group
    * dictionary/stats skipping); above it the marker set broadcasts
    * into an anti-join — either way the store side never shuffles. */
  private val InlinePurgeTermCap = 1000
  private def purges(path: String) = StoreSwap.Batches(s"$path/termpurges", "t")

  /** Drop purged terms from a postings view — inline filter or
    * broadcast anti-join (see [[purgeTerms]]). */
  private def applyPurges(df: DataFrame, markers: Option[DataFrame]): DataFrame =
    markers match {
      case None => df
      case Some(m) =>
        val terms = ParquetFooters.collectSmall(m.limit(InlinePurgeTermCap + 1)).map(_.getString(0))
        if (terms.isEmpty) df
        else if (terms.length <= InlinePurgeTermCap)
          df.filter(!col("term").isInCollection(terms))
        else df.join(broadcast(m), Seq("term"), "left_anti")
    }

  /** The store's lifecycle: three data trees, and the marker/delta
    * trees a completed compaction retires — their content is folded
    * into the promoted `.next` trees, so they must not survive the swap
    * (a leftover negative partial would double-subtract). */
  private val Store = StoreSwap.IndexStore(
    trees = Seq("postings", "stats", "doclens"),
    retire = Seq("deletes", "deletestats", "termpurges"),
    killKey = "doc_id")

  /** The LIVE postings view: the stored rows minus any pending
    * takedown markers ([[deleteDocs]]) and purged terms — what every
    * serve path and [[compact]] consume, so deletion is invisible to all
    * downstream plans except as absent rows. */
  def postings(s: SparkSession, path: String): DataFrame =
    postingsAsOf(s, path, Long.MaxValue)

  /** The store's raw `(n_docs, dl_sum)` stats partials as of `bound` (1
    * row offline, 1 per batch online, plus the negative partial of each
    * READY delete batch) — the mergeable representation every derived
    * number folds from. Only READY delete batches subtract: a
    * half-written batch's negative partial must stay invisible. */
  private[operators] def rawPartials(s: SparkSession, path: String, bound: Long): DataFrame = {
    val base = Store.tree(s, path, "stats", bound)
    StoreSwap.readDirs(s, s"$path/deletestats", Store.deletes(path).ready(s, bound))
      .fold(base)(base.unionByName(_))
  }

  def stats(s: SparkSession, path: String): DataFrame =
    statsAsOf(s, path, Long.MaxValue)

  /** [[TextAnalysis.bm25DocTopK]] served from the store. */
  def bm25DocTopK(s: SparkSession, path: String, queries: DataFrame,
                  k: Int = 10): DataFrame =
    bm25DocTopKAsOf(s, path, queries, k, Long.MaxValue)

  /**
   * Snapshot (time-travel) reads AS OF an operation bound — the
   * [[PointStore.snapshotAsOf]] discipline for the text index. The
   * store's mutations are already keyed by MONOTONE operation ids on
   * one shared axis (caller contract: [[appendBatch]] batch ids and
   * [[deleteDocs]] delete ids strictly increase across BOTH kinds of
   * ops — foreachBatch batch ids satisfy this for free), and both
   * subtree families are append-only; so the view as of operation
   * `bound` is pure path selection over data already on disk: postings
   * from batches with id ≤ bound, minus markers (and negative stats
   * partials) from READY delete batches with id ≤ bound. An
   * offline-[[build]]-written base tree is operation 0 — always
   * included. No version manifests, no rewrites, and serving "the
   * index as of before that takedown" replays the exact plans
   * [[bm25DocTopK]] runs today.
   *
   * History horizon: [[compact]] folds batches, markers, and negative
   * partials into single trees and retires them — snapshots are exact
   * for bounds SINCE the last compaction (the [[PointStore.snapshotAsOf]]
   * retention trade, stated there).
   */
  def postingsAsOf(s: SparkSession, path: String, bound: Long): DataFrame =
    applyPurges(Store.live(s, path, "postings", bound), purges(path).read(s, bound))

  /** Corpus stats as of operation `bound` — positive partials from
    * included batches plus negative partials from included READY
    * deletes, folded raw (see [[postingsAsOf]]). */
  def statsAsOf(s: SparkSession, path: String, bound: Long): DataFrame =
    TextAnalysis.bm25Stats(rawPartials(s, path, bound))

  /** [[bm25DocTopK]] served from the store AS OF operation `bound`. */
  def bm25DocTopKAsOf(s: SparkSession, path: String, queries: DataFrame,
                      k: Int, bound: Long): DataFrame =
    TextAnalysis.bm25DocTopKFrom(queries, postingsAsOf(s, path, bound),
      servedStats(s, path, bound), k, broadcastQueries = true)

  /** [[statsAsOf]]' row for a serve: the raw partials through the
    * driver-side row cache ([[ParquetFooters.collectSmall]]), folded on
    * the driver — a warm serve reads its stats with no Spark job and
    * plans no query for them. */
  private def servedStats(s: SparkSession, path: String, bound: Long): Row =
    TextAnalysis.bm25StatsOf(
      ParquetFooters.collectSmall(rawPartials(s, path, bound).select("n_docs", "dl_sum")).toSeq)

  /** Drop the store (the reference's `drop` verb, `Client.java:217-224`,
    * for the text index). */
  def drop(s: SparkSession, path: String): Unit = StoreSwap.drop(s, new Path(path))
}
