package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.GraftFunctions.bucket_key
import graft.operators.{ParquetFooters, PointStore, StoreSwap}
import graft.operators.StoreSwap.fsOf
import graft.sources.TxDir

/**
 * Online ingest — the Structured Streaming re-expression of the
 * reference's synchronous put path with adaptive splitting
 * (`Client.insert` → `Index.notifyInsertion` → `maySplit`,
 * `Index.java:175-230`; SURVEY §2.9):
 *
 *  - every micro-batch is z-keyed and appended z-clustered (the `put`);
 *  - the bucket-stats table is maintained INCREMENTALLY: each batch
 *    publishes its own fine-bucket counts as a delta partition (the
 *    `incrementColumnValue` analog, O(batch) per batch — NOT a store
 *    rescan), folded periodically; readers aggregate deltas
 *    ([[fineStats]]) or roll them up to the adaptive bucket view
 *    ([[adaptiveStatsView]]);
 *  - oversized data files are split into threshold-sized z-ranged
 *    files (the `splitBucket` analog). The probe reads Parquet FOOTERS
 *    only (row counts + zkey min/max from file metadata) — no data
 *    scan — so per-batch maintenance cost tracks the batch and the hot
 *    files, not the store. Minor compaction is FILE-LOCAL: only rows of
 *    oversized files are rewritten, each into files that partition the
 *    parent's z-interval (the property that makes the reference's
 *    recursive split skew-proof). Like any LSM, different append
 *    GENERATIONS may overlap in z-range — pruning still works through
 *    per-file min/max stats, just less tightly — and [[recluster]] is
 *    the major compaction that restores globally disjoint z-ranges.
 *
 * The transform is shared verbatim with the batch path ([[hourlyCounts]]
 * runs unchanged under `read` and `readStream` — watermarks are no-ops
 * in batch), which is the Spark-first guarantee that online and offline
 * answers agree.
 */
object StreamingIngest {

  /**
   * The key contract the ingest/maintenance machinery is parameterized
   * over — everything else (two-phase publish, stats deltas, footer
   * probes, split/recluster convergence) is key-agnostic:
   *
   *  - `keyCol`: the clustered key column name (its min/max drive the
   *    footer-metadata split probe and the stats bucketing);
   *  - `derive`: batch rows → keyed point rows;
   *  - `write`: the key-clustered layout writer; `partitions > 0`
   *    range-partitions by the key into that many files. At 0 (the
   *    per-batch call) the stock layouts differ: [[PointStore.write]]
   *    still range-partitions by zkey over the session's shuffle
   *    partitions, [[graft.operators.SpatioTemporal.write]] keeps the
   *    incoming partitioning and only sorts within it.
   */
  final case class IngestLayout(keyCol: String,
                                derive: DataFrame => DataFrame,
                                write: (DataFrame, String, Int) => Unit)

  /** 2-D layout over the events schema: `(event_id, floor(value*100),
    * user_id) → zkey` — the original online path. */
  val EventsLayout2D: IngestLayout = IngestLayout(
    keyCol = "zkey",
    derive = batch => PointStore.points(batch,
      col("event_id"), expr("cast(floor(value*100) as int)"), col("user_id")),
    write = (pts, path, parts) => PointStore.write(pts, path, parts))

  /** 3-D octree layout over the events schema: the spatio-temporal
    * derivation the batch gates use (`PointQueries.events3` — x =
    * floor(value*100), y = user_id, t = low 21 bits of event_id) keyed
    * by `z3` and written z3-clustered. Gives the spatio-temporal store
    * the SAME online put path as the 2-D store. */
  val EventsLayout3D: IngestLayout = IngestLayout(
    keyCol = "z3",
    derive = batch => graft.operators.SpatioTemporal.points3(batch,
      col("event_id"), expr("cast(floor(value*100) as int)"), col("user_id"),
      expr("cast(event_id % 2097152 as int)")),
    write = (pts, path, parts) => graft.operators.SpatioTemporal.write(pts, path, parts))

  /** Event-time hourly rollup, identical for batch and streaming input
    * (the gated `events_hourly` query is its batch twin). `ts` arrives
    * as BIGINT nanos or a timestamp ([[graft.sources.EventTime]]). */
  def hourlyCounts(eventsIn: DataFrame): DataFrame =
    graft.sources.EventTime.normalize(eventsIn, "ts")
      // integer division: epoch-nanos exceed double precision (2^53)
      .withColumn("event_time", expr("timestamp_micros(div(ts, 1000))"))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(round(value*100) as bigint)")).as("sum_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("sum_cents"))

  /** Fine-bucket depth of the incremental stats table. */
  val StatsDepth = 48
  /** Fold the stats deltas once more than this many accumulate. */
  private val StatsFoldLimit = 64

  /**
   * Start streaming ingest of an events stream into a z-clustered point
   * store at `storePath`, maintaining stats and compacting per batch.
   *
   * Idempotent under micro-batch REPLAY (foreachBatch is
   * at-least-once): each batch publishes its files two-phase under the
   * deterministic prefix `ingest-<batchId>` ([[graft.sources.TxDir]]) —
   * a replayed batch whose set is already complete is skipped, a
   * half-published set is wiped and redone — and its stats delta under
   * an overwritten `delta=<batchId>` partition.
   */
  def start(events: DataFrame, storePath: String, statsPath: String,
            checkpoint: String, splitThreshold: Long,
            layout: IngestLayout = EventsLayout2D): StreamingQuery = {
    // converge any recluster/fold interrupted in a previous run BEFORE
    // new batches land — otherwise a later recovery would swap a stale
    // snapshot over them
    recoverRecluster(events.sparkSession, storePath)
    StoreSwap.resolve(fsOf(events.sparkSession, statsPath), statsSwap(statsPath))
    // ... then converge minor compactions interrupted by a crash: a
    // split that died between publishing its set and deleting its source
    // would otherwise leave persistent DUPLICATE rows (nothing revisits
    // it — pendingFiles resets to Nil below)
    convergeSplits(events.sparkSession, storePath, splitThreshold, layout)
    // Compaction is DEFERRED one batch: batch N's files are split while
    // processing batch N+1, after N's checkpoint committed — splitting
    // them inside batch N would consume the very ingest-N marker files
    // that make a replay of N idempotent. (After a restart the deferred
    // list is empty; files missed that way are swept by the
    // convergeSplits above on the NEXT start, and by any recluster.)
    var pendingFiles: Seq[String] = Nil
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val published = ingestBatch(batch, batchId, storePath, layout)
        compactOversizedFiles(batch.sparkSession, storePath, splitThreshold,
          Some(pendingFiles), layout)
        pendingFiles = published
        mergeBatchStats(batch.sparkSession, layout.derive(batch), batchId,
          statsPath, layout.keyCol)
      }
      .start()
  }

  /** One micro-batch of the put path — safe to call repeatedly with the
    * same (batch, batchId): replays converge instead of duplicating.
    * Returns the batch's published data file names. */
  def ingestBatch(batch: DataFrame, batchId: Long, storePath: String,
                  layout: IngestLayout = EventsLayout2D): Seq[String] = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, storePath)
    val dest = new Path(storePath)
    val prefix = s"ingest-$batchId"
    TxDir.completeOrClean(fs, dest, prefix).getOrElse {
      val pts = layout.derive(batch)
      val scratch = new Path(storePath + s".batch-$batchId")
      fs.delete(scratch, true)
      layout.write(pts, scratch.toString, 0)
      TxDir.publish(fs, scratch, dest, prefix)
    }
  }

  // ---------------------------------------------------------------------
  // Incremental stats — the O(1)-per-put counter of the reference
  // (`Index.java:175-181`) re-expressed as O(batch) delta publishing.
  // ---------------------------------------------------------------------

  /** Fine-bucket counts of one batch of points — O(batch). */
  def batchStats(batchPts: DataFrame, keyCol: String = "zkey"): DataFrame =
    batchPts.groupBy(bucket_key(col(keyCol), StatsDepth).as("bucket_key"))
      .agg(count(lit(1)).as("bucket_size"))

  /**
   * Publish one batch's stats delta and fold when due. The delta lands
   * under `delta=<batchId>` with mode=overwrite, so a replayed batch
   * REPLACES its own delta instead of double-counting. Only deltas of
   * COMMITTED batches (id < the current one) are ever folded — a
   * replayable batch's delta always survives as its own partition.
   * Per-batch cost: O(batch) + amortized O(stats)/`StatsFoldLimit`;
   * the store itself is never read.
   */
  def mergeBatchStats(spark: SparkSession, batchPts: DataFrame, batchId: Long,
                      statsPath: String, keyCol: String = "zkey"): Unit = {
    StoreSwap.resolve(fsOf(spark, statsPath), statsSwap(statsPath))
    batchStats(batchPts, keyCol).coalesce(1)
      .write.mode("overwrite").parquet(s"$statsPath/delta=$batchId")
    foldStats(spark, statsPath, keepId = batchId)
  }

  /** Aggregated fine-bucket stats across all deltas (metadata-scale).
    * Like every read it completes an interrupted fold or rebuild first
    * — the swap moves the table aside before promoting its scratch. */
  def fineStats(spark: SparkSession, statsPath: String): DataFrame = {
    StoreSwap.resolve(fsOf(spark, statsPath), statsSwap(statsPath))
    ParquetFooters.readParquet(spark, statsPath)
      .groupBy("bucket_key").agg(sum("bucket_size").as("bucket_size"))
  }

  /** The adaptive (variable-depth, maySplit-rolled) view of the
    * incremental stats table — same shape as
    * [[graft.operators.PointStore.adaptiveStats]] but derived from the
    * deltas, not from a store scan. The driver collect is BOUNDED the
    * same way as the batch path: a one-pass approx_count_distinct probe
    * picks the deepest depth whose occupied-bucket count fits
    * `driverRowCap`, and the deltas are aggregated to that depth
    * distributively BEFORE the collect — on a store with billions of
    * distinct points the view coarsens instead of OOMing the driver. */
  def adaptiveStatsView(spark: SparkSession, statsPath: String,
                        threshold: Long, baseDepth: Int = 2,
                        driverRowCap: Long = 2000000L): DataFrame = {
    import spark.implicits._
    val fineDf = fineStats(spark, statsPath)
    val depth = PointStore.probeDepth(
      fineDf, col("bucket_key"), StatsDepth, baseDepth, driverRowCap)
    val fine = fineDf
      .groupBy(bucket_key(col("bucket_key"), depth).as("k"))
      .agg(sum("bucket_size").as("n"))
      .as[(Long, Long)].collect()
    PointStore.rollupAdaptive(spark, fine.toSeq, threshold, depth, baseDepth)
  }

  /** Offline bootstrap/repair: full recompute of the fine stats table
    * from the store — O(store), the one-time twin of the per-batch
    * [[mergeBatchStats]] path. */
  def rebuildStats(spark: SparkSession, storePath: String, statsPath: String,
                   keyCol: String = "zkey"): Unit = {
    val fs = fsOf(spark, statsPath)
    val swap = statsSwap(statsPath)
    StoreSwap.begin(fs, swap)
    batchStats(ParquetFooters.readParquet(spark, storePath), keyCol).coalesce(1)
      .write.parquet(new Path(swap.trees.head._2, "delta=base").toString)
    StoreSwap.commit(fs, swap)
  }

  /** Fold all committed deltas (id ≠ `keepId`) into one base partition
    * once more than `StatsFoldLimit` accumulate, via the stats table's
    * marker-guarded whole-dir swap ([[statsSwap]]; crash-convergent;
    * single maintenance writer, same as every other layout mutation
    * here). */
  private def foldStats(spark: SparkSession, statsPath: String, keepId: Long): Unit = {
    val fs = fsOf(spark, statsPath)
    val root = new Path(statsPath)
    if (!fs.exists(root)) return
    val deltas = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("delta="))
    if (deltas.length <= StatsFoldLimit) return
    val keep = s"delta=$keepId"
    val foldable = deltas.filterNot(_.getName == keep)
    val swap = statsSwap(statsPath)
    val scratch = swap.trees.head._2
    StoreSwap.begin(fs, swap)
    ParquetFooters.readParquet(spark, foldable.map(_.toString).toIndexedSeq: _*)
      .groupBy("bucket_key").agg(sum("bucket_size").as("bucket_size"))
      .coalesce(1).write.parquet(new Path(scratch, "delta=base").toString)
    // the current (still replayable) batch's delta rides along unchanged
    deltas.find(_.getName == keep).foreach { d =>
      ParquetFooters.readParquet(spark, d.toString).coalesce(1)
        .write.parquet(new Path(scratch, keep).toString)
    }
    StoreSwap.commit(fs, swap)
  }

  /** The stats table's fold/rebuild swap. */
  private def statsSwap(statsPath: String): StoreSwap.Swap =
    StoreSwap.folding(new Path(statsPath), "_GRAFT_SWAP_READY")

  // ---------------------------------------------------------------------
  // Major compaction (recluster)
  // ---------------------------------------------------------------------

  /**
   * Major compaction: globally re-cluster the store by zkey (restores
   * pairwise-disjoint per-file z-ranges across all generations).
   *
   * Concurrency-tolerant by SNAPSHOT MANIFEST: the rebuild reads an
   * explicit listing of the store's data files (only complete TxDir
   * sets — a half-published concurrent batch is left alone) and records
   * it in the scratch dir; the swap then PRESERVES any file published
   * after the snapshot (moves it into the new store) instead of
   * deleting the whole dir blind. A concurrent ingest batch therefore
   * survives a recluster instead of being silently lost; its files are
   * merely not yet re-clustered.
   *
   * The swap itself cannot be one atomic rename, so a `_READY` marker
   * makes every crash state recoverable: scratch without marker =
   * unfinished build (discard); scratch with marker = finished build
   * (the swap completes, including the preserve step, regardless of
   * where the crash hit). [[recoverRecluster]] runs first and converges
   * any interrupted prior attempt.
   */
  def recluster(spark: SparkSession, storePath: String, threshold: Long,
                layout: IngestLayout = EventsLayout2D): Unit = {
    recoverRecluster(spark, storePath)
    // crashed-split debris first: a source file whose split set is
    // complete is DUPLICATE data — snapshotting both would bake the
    // duplicates into the rebuilt store
    convergeSplitDebris(spark, storePath)
    val fs = fsOf(spark, storePath)
    val store = new Path(storePath)
    val scratch = new Path(storePath + CompactSuffix)
    val snapshot = snapshotNames(fs, store)
    if (snapshot.isEmpty) return
    val df = ParquetFooters.readParquet(spark, snapshot.map(n => new Path(store, n).toString): _*)
    val parts = math.max(1, math.ceil(df.count().toDouble / threshold).toInt)
    fs.delete(scratch, true)
    layout.write(df, scratch.toString, parts)
    val out = fs.create(new Path(scratch, SnapshotManifest))
    out.write(snapshot.mkString("\n").getBytes("UTF-8")); out.close()
    fs.create(new Path(scratch, ReclusterReady)).close()
    completeRecluster(fs, store, scratch)
  }

  private val ReclusterReady = "_GRAFT_RECLUSTER_READY"
  private val SnapshotManifest = "_GRAFT_RECLUSTER_SNAPSHOT"
  private val CompactSuffix = ".compacting"

  private val IngestPrefix = """ingest-(\d+)""".r

  /** Data files of a store dir (excludes markers/hidden files). */
  private def dataFiles(fs: FileSystem, store: Path): Seq[FileStatus] =
    if (!fs.exists(store)) Nil
    else fs.listStatus(store).toIndexedSeq.filter { st =>
      val n = st.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }

  private def dataFileNames(fs: FileSystem, store: Path): Seq[String] =
    dataFiles(fs, store).map(_.getPath.getName)

  /** The newest ingest generation id present, if any. Batches publish
    * sequentially, so only this generation can be in-flight or pending
    * an at-least-once replay — every older generation is committed. */
  private def newestIngestId(names: Seq[String]): Option[Long] =
    names.collect { case TxDir.Name(IngestPrefix(id), _, _) => id.toLong }
      .maxOption

  /** Data files eligible for a recluster snapshot: plain files, COMPLETE
    * TxDir sets, and survivors of an incomplete ingest set OLDER than
    * the newest generation — such a set cannot be in-flight (batches
    * publish sequentially), it is a committed set whose other members a
    * minor compaction split away; its survivors are ordinary data files
    * and must keep being re-clustered, not preserved verbatim forever.
    * Members of the newest (possibly in-flight/replayable) incomplete
    * ingest set and of incomplete split sets are excluded — the
    * concurrent writer or the next replay owns them. */
  private def snapshotNames(fs: FileSystem, store: Path): Seq[String] = {
    val names = dataFileNames(fs, store)
    val newest = newestIngestId(names)
    val complete = TxDir.completePrefixes(TxDir.sets(names))
    val byPrefix = names.groupBy {
      case TxDir.Name(pfx, _, _) => Some(pfx)
      case _ => None
    }
    byPrefix.toSeq.flatMap {
      case (None, plain) => plain
      case (Some(pfx), members) =>
        if (complete(pfx)) members
        else pfx match {
          case IngestPrefix(id) if newest.exists(id.toLong < _) => members
          case _ => Nil
        }
    }
  }

  /** Finish the swap: preserve post-snapshot files, then replace. A
    * scratch without a manifest (pre-manifest layout) degrades to the
    * plain swap — nothing to preserve was recorded.
    *
    * The swap never loses a concurrently published file: absorbed
    * snapshot files are deleted BY NAME (never a blind recursive
    * delete), everything else is drained into the scratch, and the
    * emptied dir is removed with a NON-recursive delete — which fails,
    * and retries the drain, if a new file raced in after the listing. A
    * publish can also recreate the store dir (TxDir.publish mkdirs)
    * between that delete and the final rename; the rename then fails and
    * the drain loop runs again. Bounded retries: a store receiving
    * publishes faster than it can be drained indefinitely means the
    * caller broke the single-maintenance-writer contract. */
  private def completeRecluster(fs: FileSystem, store: Path, scratch: Path): Unit = {
    val manifestPath = new Path(scratch, SnapshotManifest)
    val manifest: Set[String] =
      if (!fs.exists(manifestPath)) {
        // no record of the snapshot -> cannot distinguish absorbed from
        // post-snapshot files; treat every store file as absorbed (the
        // pre-manifest behavior, correct under single-writer)
        if (fs.exists(store))
          fs.listStatus(store).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).toSet
        else Set.empty
      } else {
        val in = fs.open(manifestPath)
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, true)
        new String(bytes.toByteArray, "UTF-8").split("\n").filter(_.nonEmpty).toSet
      }
    def drainStore(): Unit =
      if (fs.exists(store)) {
        fs.listStatus(store).map(_.getPath).foreach { p =>
          val n = p.getName
          if (manifest.contains(n)) { fs.delete(p, false); () }
          else if (n.startsWith("_") || n.startsWith(".")) { fs.delete(p, true); () }
          else if (!fs.rename(p, new Path(scratch, n)))
            throw new java.io.IOException(s"recluster preserve $p failed")
        }
        // non-recursive on purpose: fails if a publish raced in after
        // the listing above, and the next drain round picks it up
        try { fs.delete(store, false); () }
        catch { case _: java.io.IOException => () }
      }
    var attempts = 0
    var renamed = false
    while (!renamed) {
      attempts += 1
      if (attempts > 20)
        throw new java.io.IOException(
          s"recluster swap $scratch -> $store failed: dir keeps receiving files")
      drainStore()
      if (!fs.exists(store)) renamed = fs.rename(scratch, store)
    }
    fs.delete(new Path(store, ReclusterReady), false)
    fs.delete(new Path(store, SnapshotManifest), false)
    ()
  }

  /** Converge an interrupted [[recluster]] (call before reads/writes
    * when a crash may have occurred). */
  def recoverRecluster(spark: SparkSession, storePath: String): Unit = {
    val fs = fsOf(spark, storePath)
    val store = new Path(storePath)
    val scratch = new Path(storePath + CompactSuffix)
    if (fs.exists(scratch)) {
      if (fs.exists(new Path(scratch, ReclusterReady))) {
        // build finished: complete the swap (preserve step included)
        completeRecluster(fs, store, scratch)
      } else {
        // build unfinished: old store is intact, discard the scratch
        fs.delete(scratch, true)
      }
    }
    if (fs.exists(new Path(store, ReclusterReady)))
      fs.delete(new Path(store, ReclusterReady), false)
    if (fs.exists(new Path(store, SnapshotManifest)))
      fs.delete(new Path(store, SnapshotManifest), false)
    ()
  }

  // ---------------------------------------------------------------------
  // Minor compaction (file-local split) — footer-metadata probe
  // ---------------------------------------------------------------------

  /** Per-file (rows, key min/max) of the data files in `dir` (only
    * those named in `only`, when given), from their Parquet FOOTERS
    * through [[ParquetFooters.of]]'s cache — no data scan, no Spark job.
    * Key bounds come from row-group column statistics; a file with any
    * row group lacking them reports None and is left alone
    * (conservative). */
  private def footerMeta(spark: SparkSession, dir: Path, keyCol: String,
                         only: Option[Seq[String]]): Seq[(Path, Long, Option[(Long, Long)])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(dir.getFileSystem(conf), dir)
      .filter(st => only.forall(_.contains(st.getPath.getName)))
    files.zip(ParquetFooters.of(files, conf)).map { case (st, footer) =>
      val blocks = footer.getBlocks.asScala.toSeq
      val zranges = blocks.flatMap { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == keyCol).flatMap { c =>
          val stats = c.getStatistics
          if (stats == null || stats.isEmpty || !stats.hasNonNullValue) None
          else Some((stats.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            stats.genericGetMax.asInstanceOf[java.lang.Long].longValue))
        }
      }
      val zr = if (zranges.isEmpty || zranges.length != blocks.length) None
        else Some((zranges.map(_._1).min, zranges.map(_._2).max))
      (new Path(dir, st.getPath.getName), blocks.map(_.getRowCount).sum, zr)
    }
  }

  /**
   * Split every data file holding more than `threshold` rows into
   * z-range-partitioned files of at most ~threshold rows (the
   * `splitBucket` analog, `Index.java:193-230`). The PROBE is
   * footer-metadata only (O(#files) driver-side reads, no data scan —
   * maintenance cost is independent of store row count); only the
   * oversized files themselves are read and rewritten. File-local, and
   * CRASH-CONVERGENT: outputs publish two-phase under a prefix derived
   * from the source file name, so a replay after a crash either skips
   * (complete set found → just drop the source), or wipes a partial set
   * and redoes. A reader between crash and the next maintenance run may
   * transiently see a partial set alongside the source — single-writer
   * maintenance, same dirty-window as any file-layout compaction
   * without a commit log.
   */
  /** The deterministic split prefix of a source file name (12 hex chars
    * of its md5 — matches `substring(md5(name), 1, 12)` in SQL). */
  private def splitPrefix(name: String): String =
    "split-" + java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  def compactOversizedFiles(spark: SparkSession, storePath: String,
                            threshold: Long,
                            onlyFiles: Option[Seq[String]] = None,
                            layout: IngestLayout = EventsLayout2D): Unit = {
    if (onlyFiles.exists(_.isEmpty)) return
    val fs = fsOf(spark, storePath)
    val dest = new Path(storePath)
    val oversized = footerMeta(spark, dest, layout.keyCol, onlyFiles)
      .filter { case (_, n, zr) =>
        n > threshold &&
          // a file whose rows all share one zkey cannot be range-split —
          // rewriting it would churn forever; it is one logical bucket
          // (the reference's max-depth case, Index.java:200-203)
          zr.exists { case (lo, hi) => lo != hi }
      }
    // replay convergence per source: a complete split set means the
    // rewrite already happened (just drop the source); a partial set is
    // wiped and redone. ONE directory listing serves every prefix check
    // (per-prefix isComplete would re-list per file — O(files²)).
    val sets = TxDir.allSets(fs, dest)
    val complete = TxDir.completePrefixes(sets)
    val todo = oversized.filter { case (srcPath, _, _) =>
      val prefix = splitPrefix(srcPath.getName)
      if (complete(prefix)) {
        fs.delete(srcPath, false); false
      } else {
        sets.getOrElse(prefix, Nil)
          .foreach { case (n, _, _) => fs.delete(new Path(dest, n), false) }
        true
      }
    }
    if (todo.isEmpty) return
    // ONE job rewrites every oversized file: rows range-partition on
    // (source-hash, zkey), so each source's outputs cover disjoint
    // z-intervals — the property that keeps the recursive split
    // skew-proof — and partitionBy lands them under per-source subdirs
    // of a single scratch. At millions of files maintenance is one
    // distributed pass, not one driver-orchestrated job per file.
    val totalParts = todo.map { case (_, n, _) =>
      math.max(2, math.ceil(n.toDouble / threshold).toInt) }.sum
    val scratchAll = new Path(storePath + ".splitting")
    fs.delete(scratchAll, true)
    ParquetFooters.readParquet(spark, todo.map(_._1.toString): _*)
      .withColumn("__split",
        expr("substring(md5(element_at(split(input_file_name(), '/'), -1)), 1, 12)"))
      .repartitionByRange(totalParts, col("__split"), col(layout.keyCol))
      .sortWithinPartitions("__split", layout.keyCol)
      .write.partitionBy("__split").mode("overwrite").parquet(scratchAll.toString)
    todo.foreach { case (srcPath, _, _) =>
      val prefix = splitPrefix(srcPath.getName)
      val sub = new Path(scratchAll, "__split=" + prefix.stripPrefix("split-"))
      TxDir.publish(fs, sub, dest, prefix)
      fs.delete(srcPath, false)
      ()
    }
    fs.delete(scratchAll, true)
    ()
  }

  /** Drop crashed-split debris WITHOUT launching jobs: a source file
    * whose split set is already COMPLETE is duplicate data (the split
    * died between publish and source delete) — drop the source; a
    * PARTIAL split set died mid-publish and its source is intact — wipe
    * the partial members. The newest ingest generation is left alone
    * (it may belong to an uncommitted batch whose replay owns it). */
  def convergeSplitDebris(spark: SparkSession, storePath: String): Unit = {
    val fs = fsOf(spark, storePath)
    val store = new Path(storePath)
    val names = dataFileNames(fs, store)
    if (names.isEmpty) return
    val newest = newestIngestId(names)
    // one listing serves every prefix check (O(files), not O(files²))
    val sets = TxDir.sets(names)
    val complete = TxDir.completePrefixes(sets)
    names
      .filterNot(n => newest.exists(id => n.startsWith(s"ingest-$id-")))
      .foreach { n =>
        if (complete(splitPrefix(n))) {
          fs.delete(new Path(store, n), false)
          ()
        }
      }
    sets.foreach { case (pfx, members) =>
      if (pfx.startsWith("split-") && !complete(pfx))
        members.foreach { case (n, _, _) => fs.delete(new Path(store, n), false) }
    }
  }

  /** Converge minor compactions interrupted by a crash: clear split
    * debris ([[convergeSplitDebris]]), then run a full oversized-file
    * sweep over every committed generation — only the newest ingest
    * generation (possibly an uncommitted batch owned by replay) is
    * excluded. Called on stream [[start]]; makes the crash window
    * between split-publish and source-delete self-healing instead of a
    * permanent duplication. */
  def convergeSplits(spark: SparkSession, storePath: String, threshold: Long,
                     layout: IngestLayout = EventsLayout2D): Unit = {
    convergeSplitDebris(spark, storePath)
    val fs = fsOf(spark, storePath)
    val names = dataFileNames(fs, new Path(storePath))
    if (names.isEmpty) return
    val newest = newestIngestId(names)
    val eligible = names
      .filterNot(n => newest.exists(id => n.startsWith(s"ingest-$id-")))
    compactOversizedFiles(spark, storePath, threshold, Some(eligible), layout)
  }
}
