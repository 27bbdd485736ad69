package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Materialized ANN (IVF) index store — the [[PostingsStore]] discipline
 * on the VECTOR surface: the deterministic IVF index
 * ([[Similarity.ivfCentroids]] seeds, optional integer-Lloyd refine,
 * fused-argmax assignment) built ONCE and written to parquet, so every
 * retrieval serves from a probe-prunable table instead of re-assigning
 * the corpus per query batch (at 100 TB the assignment pass IS the
 * expensive half — one fused scan, amortized over every query served).
 *
 * Layout (the [[StoreSwap]] contract, shared with the text index):
 * `path/centroids/base` = the (metadata-scale) `(centroid_id, v)`
 * table, one file; `path/assign/base` = `(vec_id, centroid_id, v, op)`
 * CENTROID-RANGE-CLUSTERED (`repartitionByRange(centroid_id, vec_id)` +
 * in-partition sort), so each file owns a contiguous cell range and a
 * query batch's probe set prunes whole files by footer min/max — the
 * z-ordered point store's bucket pruning, cell-id-shaped;
 * `path/assign/b$id` = [[appendBatch]] output; `path/deletes/d$id` =
 * [[deleteVecs]] markers; `path/meta/base` = the build corpus identity
 * ([[isStale]]). `path/centroids` written flat by the pre-lifecycle
 * layout still reads ([[StoreSwap.treeSources]] unions flat root files).
 *
 * LIFECYCLE, mirroring the text index: [[build]] is CRASH-ATOMIC (both
 * trees written under `.next`, a `_READY` marker, then the
 * [[StoreSwap]] swap — a rebuild interrupted at any filesystem step
 * serves either the old index or the new one, never new centroids over
 * an old assignment); [[appendBatch]] assigns new vectors to the
 * EXISTING centroids under a batch subtree (replay-idempotent);
 * [[deleteVecs]] is a versioned marker-side takedown (a deleted
 * embedding leaves retrieval immediately, re-adding the id under a
 * later op serves the new vector); [[compact]] folds batches and
 * markers back to one clustered base, result-invisibly; [[topKAsOf]]
 * replays the index at an operation bound by pure path selection.
 * Mutation ids share one monotone axis (caller contract, as for
 * [[PostingsStore]]); single writer; every entry point resolves a
 * pending swap first.
 *
 * Serving replays [[Similarity.ivfServe]] — the EXACT plan
 * [[Similarity.ivfTopK]] runs after its on-the-fly assignment — over
 * the stored table, so store-served results are bit-equal by
 * construction (`ann_store_equiv` gates it end-to-end; the lifecycle
 * twins `ann_store_append`/`ann_store_delete` gate the mutated store
 * against [[Similarity.ivfTopKWith]] replays); the one addition is the
 * probe-cell PRE-FILTER: the query batch's distinct probe cells
 * (driver-bounded by the centroid count) are inlined as a pushable
 * `centroid_id IN (...)` predicate ahead of the probe join, which the
 * join spelling alone cannot push into the scan. The FILTERED variant
 * composes a metadata predicate the same pre-filter way
 * ([[Similarity.ivfFilteredTopK]]'s contract: one full-corpus index
 * serves every predicate).
 */
object VectorStore {

  private val CompactReady = "_GRAFT_COMPACT_READY"
  private val DeleteReady = "_GRAFT_DELETE_READY"
  private val BaseDir = StoreSwap.BaseDir
  private val Trees = Seq("centroids", "assign", "meta")
  private val RetireTrees = Seq("deletes")

  private def fsOf(s: SparkSession, path: String) = StoreSwap.fsOf(s, path)
  private def resolve(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    StoreSwap.resolve(fs, path, Trees, RetireTrees, CompactReady)
  private def completeSwap(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    StoreSwap.completeSwap(fs, path, Trees, RetireTrees, CompactReady)

  /** Build (or atomically REBUILD) the store at `path`: centroids,
    * assignment, and the build-corpus identity are written under
    * `.next`, announced with the `_READY` marker, then swapped live —
    * so an interrupted rebuild never serves the new centroids over the
    * old assignment (each file-skipping read would silently return
    * wrong neighbors; the pre-r19 two-overwrite build had exactly that
    * window). The swap replaces the whole `assign` tree and retires the
    * marker trees, so prior batches and takedowns vanish with the
    * corpus they applied to — the overwrite contract. */
  def build(emb: DataFrame, path: String, nCentroids: Int = 0,
            lloydIters: Int = 0): Unit = {
    val s = emb.sparkSession
    val fs = fsOf(s, path)
    resolve(fs, path) // converge an interrupted swap BEFORE overwriting
    Trees.foreach(t => fs.delete(StoreSwap.nextPath(path, t), true))
    val seeds = Similarity.ivfCentroids(emb,
      Similarity.resolveCentroids(emb, nCentroids))
    val cents =
      if (lloydIters > 0) Similarity.ivfRefine(emb, seeds, lloydIters) else seeds
    import s.implicits._
    cents.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids.next/$BaseDir")
    // two consumers re-run the fused-argmax assignment over the whole
    // corpus without a materialization: the range shuffle's SAMPLING
    // job and the write itself — the [[PostingsStore.build]] persist
    // discipline (MEMORY_AND_DISK: spills, never recomputes)
    val assigned = Similarity.ivfAssign(emb, cents)
      .withColumn("op", lit(0L)) // operation id (versioned markers)
    assigned.persist()
    try {
      assigned
        .repartitionByRange(col("centroid_id"), col("vec_id"))
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.mode("overwrite").parquet(s"$path/assign.next/$BaseDir")
    } finally { assigned.unpersist(); () }
    // build-corpus identity for [[isStale]]: row count from the just-
    // written assignment's footers (no second corpus scan) + the
    // file-listing/plan fingerprint where the corpus is file-backed
    val nRows = ParquetFooters.readParquet(s, s"$path/assign.next/$BaseDir").count()
    Seq((nRows, TableMemo.contentKey(emb).getOrElse("")))
      .toDF("n_rows", "fingerprint")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta.next/$BaseDir")
    fs.create(StoreSwap.markerPath(path, CompactReady)).close()
    completeSwap(fs, path)
  }

  /** APPEND one batch: assign the new vectors to the EXISTING centroids
    * (the incremental-index contract — centroid drift is [[build]]'s,
    * i.e. a re-cluster's, job) under a batch-id-keyed subtree, so a
    * foreachBatch replay is idempotent (overwrite of `b$batchId`).
    * Resolves a pending swap FIRST — the [[PostingsStore.appendBatch]]
    * crash-window lesson, applied from day one.
    *
    * `micro` CONTRACT (r19 VERDICT §4): the `true` default funnels the
    * whole batch through ONE write task — correct for foreachBatch
    * micro-batches (every current caller), WRONG for a bulk backfill,
    * which must pass `micro = false` to keep in-batch cell clustering
    * and write-side parallelism (spec-pinned). */
  def appendBatch(emb: DataFrame, path: String, batchId: Long,
                  micro: Boolean = true): Unit = {
    val s = emb.sparkSession
    resolve(fsOf(s, path), path)
    val assigned = Similarity.ivfAssign(emb, centroids(s, path))
      .withColumn("op", lit(batchId))
    // `micro` (the foreachBatch default): one cell-sorted file per
    // batch tree — the [[PostingsStore.appendBatch]] trade: a range
    // shuffle costs a per-call SAMPLING job (a second full assignment
    // pass over the batch) plus a tiny-file fan-out; `repartition(1)`
    // keeps the assignment pass parallel and moves the batch once.
    // Bulk appends pass micro = false for in-batch range clustering
    val clustered =
      if (micro) assigned.repartition(1)
        .sortWithinPartitions("centroid_id", "vec_id")
      else assigned.repartitionByRange(col("centroid_id"), col("vec_id"))
        .sortWithinPartitions("centroid_id", "vec_id")
    clustered.write.mode("overwrite").parquet(s"$path/assign/b$batchId")
  }

  /** Logical vector DELETE (takedown) — the embedding of a taken-down
    * document must leave retrieval without rewriting the index. Marker
    * side table `deletes/d$deleteId` holds `(vec_id, op)`; every serve
    * anti-joins it (broadcast — takedown sets are tiny). Markers are
    * VERSIONED exactly as in [[PostingsStore.deleteDocs]]: a marker
    * kills assignment versions with op ≤ its own, so re-adding the id
    * under a LATER [[appendBatch]] serves the new embedding (the
    * re-embed lifecycle). Crash/replay discipline: the `_READY` file
    * lands LAST (half-written batches invisible), an already-READY id
    * is a no-op, [[compact]] folds markers physically. */
  def deleteVecs(s: SparkSession, path: String, ids: DataFrame,
                 deleteId: Long): Unit = {
    val fs = fsOf(s, path)
    resolve(fs, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/deletes/d$deleteId/$DeleteReady"))) return
    ids.select(col("vec_id").cast("long").as("vec_id"))
      .filter(col("vec_id").isNotNull).distinct()
      .withColumn("op", lit(deleteId))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/deletes/d$deleteId")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/deletes/d$deleteId/$DeleteReady")).close()
  }

  /** Fold batches and takedown markers back to ONE globally
    * cell-clustered base tree — result-invisible (`ann_store_lifecycle`
    * gates serve-before == serve-after) and crash-atomic under the same
    * `_READY` swap as [[build]]. Centroids are NOT re-trained (that
    * would change results — re-clustering is an explicit [[build]] over
    * [[vectors]]); the marker trees retire with the swap. History
    * horizon: as for the text index, [[topKAsOf]] is exact for bounds
    * since the last compaction. */
  def compact(s: SparkSession, path: String): Unit = {
    compactBuild(s, path)
    completeSwap(fsOf(s, path), path)
  }

  /** [[compact]]'s build half (split out for the crash specs): write
    * the folded `.next` assignment, then the marker. */
  private[operators] def compactBuild(s: SparkSession, path: String): Unit = {
    val fs = fsOf(s, path)
    resolve(fs, path)
    fs.delete(StoreSwap.nextPath(path, "assign"), true) // unfinished debris
    // sampling + write otherwise re-read the whole store THROUGH the
    // marker anti-join twice — the [[build]] persist discipline
    val live = assignment(s, path)
    live.persist()
    try {
      live
        .repartitionByRange(col("centroid_id"), col("vec_id"))
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.mode("overwrite").parquet(s"$path/assign.next/$BaseDir")
    } finally { live.unpersist(); () }
    fs.create(StoreSwap.markerPath(path, CompactReady)).close()
  }

  /** The stored centroid table, driver-side (model-scale by the IVF
    * contract — the same collect [[Similarity.ivfCentroids]] performs
    * at build time). */
  def centroids(s: SparkSession, path: String): Seq[(Int, Array[Long])] = {
    resolve(fsOf(s, path), path)
    StoreSwap.readTree(s, StoreSwap.treeSources(s, path, "centroids"),
        s"$path/centroids")
      .select("centroid_id", "v").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq
  }

  /** The LIVE assignment view: the union of base + batch subtrees minus
    * versioned takedown markers — what every serve and [[compact]]
    * consume. */
  def assignment(s: SparkSession, path: String): DataFrame =
    assignmentAsOf(s, path, Long.MaxValue)

  /** [[assignment]] AS OF an operation bound: batches with id ≤ bound,
    * minus READY markers with id ≤ bound — pure path selection, the
    * [[PostingsStore.postingsAsOf]] discipline. */
  def assignmentAsOf(s: SparkSession, path: String, bound: Long): DataFrame = {
    resolve(fsOf(s, path), path)
    val srcs = StoreSwap.treeSources(s, path, "assign")
    val raw = withOp(StoreSwap.readTreeAsOf(s, srcs, s"$path/assign", bound))
    applyMarkers(raw, deleteMarkers(s, path, bound))
  }

  /** The live VECTORS — the corpus a re-cluster ([[build]]) would
    * re-train on. */
  def vectors(s: SparkSession, path: String): DataFrame =
    assignment(s, path).select("vec_id", "v")

  /** Pre-lifecycle stores carry no `op` column; their rows are all
    * operation 0. */
  private def withOp(df: DataFrame): DataFrame =
    if (df.columns.contains("op")) df else df.withColumn("op", lit(0L))

  /** Kill every assignment VERSION a marker shadows: row dead iff some
    * marker matches its vec_id with marker.op >= row.op. */
  private def applyMarkers(raw: DataFrame,
                           markers: Option[DataFrame]): DataFrame =
    markers match {
      case Some(m0) =>
        val m = m0.select(col("vec_id").as("__del_vec"), col("op").as("__del_op"))
        raw.join(broadcast(m),
          raw("vec_id") === col("__del_vec") && raw("op") <= col("__del_op"),
          "left_anti")
      case None => raw
    }

  /** READY delete batches with id ≤ `bound` (the only ones any read may
    * see — [[deleteVecs]]'s crash contract), as one multi-path read. */
  private def deleteMarkers(s: SparkSession, path: String,
                            bound: Long): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/deletes")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith("d") &&
          p.getName.drop(1).toLong <= bound &&
          fs.exists(new org.apache.hadoop.fs.Path(p, DeleteReady)))
        .map(_.getName).toSeq
    if (dirs.isEmpty) None
    else Some(ParquetFooters.readParquet(s, dirs.map(d => s"$path/deletes/$d"): _*))
  }

  /** [[Similarity.ivfTopK]] served from the store. */
  def topK(s: SparkSession, path: String, queries: DataFrame, k: Int,
           nProbe: Int = 4): DataFrame =
    serve(s, path, queries, k, nProbe, None, Long.MaxValue)

  /** [[topK]] AS OF an operation bound — "retrieval as of before that
    * takedown / that batch". */
  def topKAsOf(s: SparkSession, path: String, queries: DataFrame, k: Int,
               nProbe: Int, bound: Long): DataFrame =
    serve(s, path, queries, k, nProbe, None, bound)

  /** [[Similarity.ivfFilteredTopK]] served from the store: the stored
    * full-corpus index answers a metadata-restricted query (pre-filter
    * strategy — the predicate prunes the assignment scan, the probe
    * list is unchanged). */
  def filteredTopK(s: SparkSession, path: String, queries: DataFrame,
                   k: Int, pred: Column, nProbe: Int = 4): DataFrame =
    serve(s, path, queries, k, nProbe, Some(pred), Long.MaxValue)

  private def serve(s: SparkSession, path: String, queries0: DataFrame,
                    k: Int, nProbe: Int, pred: Option[Column],
                    bound: Long): DataFrame = {
    // materialize the query batch ONCE: the collected probe-cell
    // prefilter and the serve-side probe list must come from the SAME
    // rows — a re-evaluated non-deterministic query frame could produce
    // a prefilter inconsistent with the probes actually joined,
    // silently dropping candidate cells. A frame that is ALREADY
    // materialized (a local relation, or an RDD-backed frame whose RDD
    // is persisted or checkpointed, e.g. a caller-side checkpoint)
    // satisfies the same-rows requirement by construction — skip the
    // extra localCheckpoint job, so a gate serving several phases from
    // one query batch pays the materialization once, not per serve. An
    // RDD-backed frame over an unpersisted RDD recomputes per job, so
    // it is checkpointed like any other plan.
    val queries = queries0.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE ||
            lr.rdd.isCheckpointed => queries0
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => queries0
      case _ => CheckpointScope.checkpoint(queries0)
    }
    val cents = centroids(s, path)
    // the query batch's distinct probe cells, inlined as ONE pushable
    // IN predicate: the cell-range-clustered files outside it never
    // open (footer stats). Driver-bounded: ≤ min(|queries|·nProbe,
    // |centroids|) ints — query-log × model scale, never corpus scale.
    val cells = queries
      .select(explode(Similarity.probeCells(cents, nProbe)).as("centroid_id"))
      .distinct().collect().map(_.getInt(0))
    val assigned0 = assignmentAsOf(s, path, bound)
      .filter(col("centroid_id").isInCollection(cells))
    val assigned = pred.map(assigned0.filter).getOrElse(assigned0)
    Similarity.ivfServe(assigned, cents, queries, k, nProbe)
  }

  /** Has the BUILD corpus changed since [[build]] captured it? — the
    * rebuild-freshness contract: the store serves the corpus as indexed
    * (plus its own [[appendBatch]]/[[deleteVecs]] mutations, which are
    * store-side and do NOT make it stale); when the UPSTREAM corpus a
    * caller would rebuild from has drifted, this says so instead of the
    * pre-r19 behavior (silently serving stale neighbors with no signal
    * at all). File-backed corpora compare the full listing+plan
    * fingerprint ([[TableMemo.contentKey]] — catches rewrites in place,
    * added files, and a different derivation over the same files);
    * in-memory corpora degrade to a row-count compare (documented
    * weaker: a same-size content swap passes). A store predating the
    * meta tree answers `true` — unknown provenance is stale by
    * definition. */
  def isStale(s: SparkSession, path: String, emb: DataFrame): Boolean = {
    resolve(fsOf(s, path), path)
    val srcs = StoreSwap.treeSources(s, path, "meta")
    if (srcs.isEmpty) return true
    val m = StoreSwap.readTree(s, srcs, s"$path/meta")
      .select("n_rows", "fingerprint").collect()(0)
    val (n0, fp0) = (m.getLong(0), m.getString(1))
    val fpNow = TableMemo.contentKey(emb).getOrElse("")
    if (fp0.nonEmpty && fpNow.nonEmpty) fpNow != fp0
    else emb.count() != n0
  }

  /** Drop the store. */
  def drop(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }
}
