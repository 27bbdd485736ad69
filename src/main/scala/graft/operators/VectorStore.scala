package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import StoreSwap.BaseDir

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
 * against [[Similarity.ivfTopKWith]] replays). A serve collects the
 * query batch ONCE with its probe lists ([[Similarity.probeBatch]]; a
 * local batch folds at optimization and costs no job) and reads the
 * centroids from the driver-side row cache
 * ([[ParquetFooters.collectSmall]]). Those same rows feed the one
 * addition over the from-scratch plan, the probe-cell PRE-FILTER: the
 * batch's distinct probe cells as a pushable `centroid_id IN (...)`
 * predicate on the assignment scan, which the probe join alone cannot
 * push. The FILTERED variant composes a metadata predicate the same
 * pre-filter way ([[Similarity.ivfFilteredTopK]]'s contract: one
 * full-corpus index serves every predicate).
 */
object VectorStore {

  private val Store = StoreSwap.IndexStore(
    trees = Seq("centroids", "assign", "meta"), retire = Seq("deletes"), killKey = "vec_id")

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
    val fs = StoreSwap.fsOf(s, path)
    val swap = Store.swap(path)
    StoreSwap.begin(fs, swap) // converge an interrupted swap BEFORE overwriting
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
    StoreSwap.commit(fs, swap)
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
    StoreSwap.resolve(StoreSwap.fsOf(s, path), Store.swap(path))
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
    * drops the versions it marks ([[StoreSwap.killVersions]]: an
    * inlined map literal, no join, for small sets). Markers are
    * VERSIONED exactly as in [[PostingsStore.deleteDocs]]: a marker
    * kills assignment versions with op ≤ its own, so re-adding the id
    * under a LATER [[appendBatch]] serves the new embedding (the
    * re-embed lifecycle). Crash/replay discipline: the `_READY` file
    * lands LAST (half-written batches invisible), an already-READY id
    * is a no-op, [[compact]] folds markers physically. */
  def deleteVecs(s: SparkSession, path: String, ids: DataFrame,
                 deleteId: Long): Unit = {
    val fs = StoreSwap.fsOf(s, path)
    StoreSwap.resolve(fs, Store.swap(path))
    Store.deletes(path).announceOnce(fs, deleteId) { dir =>
      ids.select(col("vec_id").cast("long").as("vec_id"))
        .filter(col("vec_id").isNotNull).distinct()
        .withColumn("op", lit(deleteId))
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
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
    StoreSwap.complete(StoreSwap.fsOf(s, path), Store.swap(path))
  }

  /** [[compact]]'s build half (split out for the crash specs): discard
    * every unannounced `.next` tree — a crashed rebuild's centroids
    * promoted over this assignment would serve wrong neighbours — then
    * write the folded `.next` assignment and the marker. */
  private[operators] def compactBuild(s: SparkSession, path: String): Unit = {
    val fs = StoreSwap.fsOf(s, path)
    val swap = Store.swap(path)
    StoreSwap.begin(fs, swap)
    // sampling + write otherwise re-read the whole store THROUGH the
    // marker filter twice — the [[build]] persist discipline
    val live = assignment(s, path)
    live.persist()
    try {
      live
        .repartitionByRange(col("centroid_id"), col("vec_id"))
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.mode("overwrite").parquet(s"$path/assign.next/$BaseDir")
    } finally { live.unpersist(); () }
    fs.create(swap.marker).close()
  }

  /** The stored centroid table, driver-side (model-scale by the IVF
    * contract — the same collect [[Similarity.ivfCentroids]] performs
    * at build time); a warm read is a [[ParquetFooters.collectSmall]]
    * hit, no Spark job. */
  def centroids(s: SparkSession, path: String): Seq[(Int, Array[Long])] =
    ParquetFooters.collectSmall(Store.tree(s, path, "centroids", Long.MaxValue)
      .select("centroid_id", "v"))
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq

  /** The LIVE assignment view: the union of base + batch subtrees minus
    * versioned takedown markers — what every serve and [[compact]]
    * consume. */
  def assignment(s: SparkSession, path: String): DataFrame =
    assignmentAsOf(s, path, Long.MaxValue)

  /** [[assignment]] AS OF an operation bound: batches with id ≤ bound,
    * minus READY markers with id ≤ bound — pure path selection, the
    * [[PostingsStore.postingsAsOf]] discipline. */
  def assignmentAsOf(s: SparkSession, path: String, bound: Long): DataFrame =
    Store.live(s, path, "assign", bound)

  /** The live VECTORS — the corpus a re-cluster ([[build]]) would
    * re-train on. */
  def vectors(s: SparkSession, path: String): DataFrame =
    assignment(s, path).select("vec_id", "v")

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

  private def serve(s: SparkSession, path: String, queries: DataFrame,
                    k: Int, nProbe: Int, pred: Option[Column],
                    bound: Long): DataFrame = {
    val batch = Similarity.probeBatch(queries, centroids(s, path), nProbe)
    // the batch's distinct probe cells, inlined as ONE pushable IN
    // predicate: the cell-range-clustered files outside it never open
    // (footer stats). Driver-bounded: ≤ min(|queries|·nProbe,
    // |centroids|) ints — query-log × model scale, never corpus scale.
    val assigned0 = assignmentAsOf(s, path, bound)
      .filter(col("centroid_id").isInCollection(batch.cells))
    val assigned = pred.map(assigned0.filter).getOrElse(assigned0)
    Similarity.ivfServe(assigned, batch, k)
  }

  /** Has the BUILD corpus changed since [[build]] captured it? The
    * store's own [[appendBatch]]/[[deleteVecs]] mutations do not count
    * — see [[StoreSwap.IndexStore.isStale]]. */
  def isStale(s: SparkSession, path: String, emb: DataFrame): Boolean =
    Store.isStale(s, path, emb)

  /** Drop the store. */
  def drop(s: SparkSession, path: String): Unit =
    StoreSwap.drop(s, new org.apache.hadoop.fs.Path(path))
}
