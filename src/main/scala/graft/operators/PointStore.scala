package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.zorder.{IntRange, ZOrder}

/**
 * The engine's multi-dimensional point store: the Spark-native
 * re-expression of the reference's whole API surface
 * (`Client.java:169-231` — put/get/rangeQuery/count/nearestNeighbor/
 * index/drop) over Z-clustered Parquet.
 *
 * Design (SURVEY §1.4, §7.1):
 *  - A point is `(id: Long, x: Int, y: Int)` plus the derived Morton key
 *    `zkey` (`Bucket.java:40-47` analog).
 *  - The data layout is Parquet, range-partitioned AND sorted by `zkey`:
 *    Parquet row-group min/max statistics on `zkey` (and on raw x/y) then
 *    act as the reference's quad-tree index — file/row-group skipping
 *    replaces the index-table probe (`Index.java:144-164`).
 *  - Every query returns a `DataFrame` and stays fully distributed; the
 *    reference's client-side materialization (`Client.java:78-82`) is the
 *    anti-pattern this design avoids — at 100 TB nothing may fold into
 *    the driver except final small results.
 *  - Filters always include the raw x/y predicates; zkey predicates are
 *    redundant pruning hints, so correctness never depends on them
 *    (SURVEY §7.3).
 *
 * The static methods operate on any point DataFrame `(id, x, y, zkey)`;
 * the [[PointStore]] class binds them to a Z-clustered Parquet path.
 */
object PointStore {

  /** Column metadata marking a zkey as genuinely `zorder(x, y)`-derived;
    * [[graft.plans.ZOrderPruningRule]] only fires when it is present, so
    * a user relation that merely happens to have x/y/zkey columns is
    * never rewritten. Persisted through parquet (Spark stores field
    * metadata in the footer schema). */
  val ZkeyMetadata: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.zorder", true).build()

  /** Derive a point DataFrame `(id, x, y, zkey)` from arbitrary columns.
    * The zkey is computed by the codegen'd [[graft.functions.ZOrderKey]]
    * expression. Extra payload columns survive via `extra`. */
  def points(df: DataFrame, id: Column, x: Column, y: Column,
             extra: Seq[Column] = Nil): DataFrame =
    df.select(Seq(id.cast("long").as("id"), x.cast("int").as("x"),
      y.cast("int").as("y")) ++ extra: _*)
      .withColumn("zkey", zorder(col("x"), col("y")).as("zkey", ZkeyMetadata))

  /** Combined predicate for an inclusive 2-D rectangle: raw x/y bounds
    * (correctness) AND a union of tight zkey intervals from the budgeted
    * quad decomposition ([[graft.zorder.ZRanges]]) — pruning-only, a
    * guaranteed superset of the rectangle's z-image, pushed to Parquet
    * for row-group skipping. A rectangle reaching negative coordinates
    * skips the interval conjunct: the codec covers only the
    * non-negative quadrant, so only the raw predicates can be trusted
    * there (the pruning rule's negative-domain bail). */
  def rangeFilter(rx: IntRange, ry: IntRange): Column = {
    val raw = col("x").between(rx.min, rx.max) && col("y").between(ry.min, ry.max)
    if (rx.min < 0 || ry.min < 0) raw
    else raw && graft.zorder.ZRanges.decompose(rx, ry, 16)
      .map { case (lo, hi) => col("zkey").between(lo, hi) }
      .reduce(_ || _)
  }

  /** 2-D rectangle query, inclusive bounds (`Client.java:76-83`,
    * `Range.java:28-44`). */
  def rangeQuery(pts: DataFrame, rx: IntRange, ry: IntRange): DataFrame =
    pts.filter(rangeFilter(rx, ry))

  /** Exact point lookup — all ids at (x, y) (`Client.java:61-65`,
    * `Bucket.java:90-98`). zkey equality prunes to the single
    * file/row-group whose stats cover the key. */
  def get(pts: DataFrame, x: Int, y: Int): DataFrame =
    pts.filter(col("zkey") === lit(ZOrder.zorder(x, y)) &&
               col("x") === x && col("y") === y)

  /**
   * Exact k-nearest-neighbor with deterministic (dist², id) tie order —
   * the reference's best-first search (`Client.java:92-152`) re-expressed
   * as probe jobs over a square window around the query point (analog
   * of `Client.java:118-126`) plus a final `TakeOrderedAndProject`
   * (`orderBy(dist2, id).limit(k)`), which Spark executes as a
   * distributed per-partition top-k + small driver merge: no full sort,
   * no driver materialization of candidates. Rows with a null x or y
   * have no distance and are never returned. Distances are exact while
   * dist² fits a Long (query and points within 2^31 of each other).
   *
   * INVARIANT: the final window's radius is at least the true k-th
   * distance, so it holds every row of the answer, ties included — the
   * reference's termination invariant (`Client.java:131-134`). A probe
   * window holding ≥ k rows bounds the k-th distance by its own k-th
   * distance; see [[knnRadius]] for how the windows are chosen.
   * Distance ties are KEPT up to k results (the reference's TreeSet
   * silently drops equidistant points, `Client.java:94-101` — documented
   * divergence, SURVEY §2.1).
   *
   * TERMINATION: on a bare store scan (`PointStore.open(..).df`) the
   * footer zone map ([[ZoneMap]]) seeds the search, and it submits AT
   * MOST ONE probe job before the final scan: the probe radius is the
   * one expected to hold ~2k rows at the local density, and a probe
   * holding fewer than k rows jumps straight to the zone map's cap,
   * which holds ≥ k rows by the footers' counts. On any other frame
   * (derived frames, [[PointStore#live]], [[PointStore#snapshotAsOf]])
   * the probe radius starts at `initialRadius` and grows ×8 until the
   * window covers every Int coordinate — AT MOST 12 probes
   * (8^11 > 2^32), each collecting k scalars; there either the window
   * holds ≥ k rows or the frame has fewer than k rows with
   * coordinates, all of which that window takes. No exit can return
   * a partial window (specs: "knn widening loop is probe-bounded",
   * "knn probe jobs").
   */
  def knn(pts: DataFrame, qx: Int, qy: Int, k: Int, initialRadius: Int = 64): DataFrame = {
    def window(r: Long): DataFrame = rangeQuery(pts, around(qx, r), around(qy, r))
    val d2 = dist2(col("x"), col("y"), qx, qy)
    window(knnRadius(pts, Seq("x", "y"), Seq(qx, qy), k, initialRadius, window, d2))
      .withColumn("dist2", d2)
      .orderBy(col("dist2"), col("id"))
      .limit(k)
      .select("id", "x", "y", "dist2")
  }

  /** `[q - r, q + r]` clamped to the Int range. */
  private[operators] def around(q: Int, r: Long): IntRange =
    IntRange(math.max(Int.MinValue.toLong, q - r).toInt, math.min(Int.MaxValue.toLong, q + r).toInt)

  /**
   * The radius of the final kNN window around `q` over the coordinate
   * columns `coords`. One probe job per round: the k smallest window
   * distances give both the saturation check (fewer than k rows =>
   * widen) and the k-th bound. A bare parquet scan starts from its
   * [[ZoneMap]]'s probe radius and falls back on its cap, so it probes
   * at most once; any other frame, or a scan whose footers lack
   * statistics, walks the ×8 ladder from `initialRadius`. The window
   * of the returned radius holds the whole answer: when fewer than k
   * rows have coordinates it covers every Int coordinate, which takes
   * exactly the rows with coordinates.
   */
  private[operators] def knnRadius(pts: DataFrame, coords: Seq[String], q: Seq[Int], k: Int,
                                   initialRadius: Int, window: Long => DataFrame,
                                   dist: Column): Long = {
    require(k > 0, s"k must be positive, got $k")
    val full = q.map(v => math.max(v.toLong - Int.MinValue, Int.MaxValue.toLong - v)).max
    def radius(d2: Long): Long = math.min(math.ceil(math.sqrt(d2.toDouble)).toLong + 1, full)
    def kth(r: Long): Option[Long] = {
      val top = window(r).select(dist.as("d2")).orderBy("d2").limit(k).collect()
      Option.when(top.length >= k)(top.last.getLong(0))
    }
    ZoneMap.of(pts, coords) match {
      case Some(zones) => zones.knnStart(q, k) match {
        case None => full
        case Some((probe, zoneCap)) =>
          val cap = math.min(zoneCap, full)
          if (probe >= cap) cap else kth(probe).map(d2 => math.min(radius(d2), cap)).getOrElse(cap)
      }
      case None =>
        var r = math.max(1L, initialRadius.toLong)
        var bound = kth(r)
        while (bound.isEmpty && r < full) { r = math.min(r * 8, full); bound = kth(r) }
        bound.map(radius).getOrElse(full)
    }
  }

  /** Uniform-depth bucket statistics — the reference's index table
    * (`Index.java:44-57`) derived by grouping on the zkey prefix.
    * One shuffle with map-side partial counts. */
  def indexStats(pts: DataFrame, prefixLen: Int): DataFrame =
    pts.groupBy(bucket_key(col("zkey"), prefixLen).as("bucket_key"))
      .agg(count(lit(1)).as("bucket_size"))
      .select(col("bucket_key"),
        bucket_name(col("bucket_key"), prefixLen).as("bucket_name"),
        col("bucket_size"))

  /**
   * Adaptive bucket stats — the variable-depth analog of the
   * reference's index (`Index.java:183-230`): recursively split any
   * bucket larger than `threshold`, computed from ONE data-scale
   * aggregation at `statsDepth` plus a metadata-scale driver roll-up
   * (driver state bounded by occupied fine buckets ≤ 2^statsDepth).
   */
  def adaptiveStats(pts: DataFrame, threshold: Long, statsDepth: Int = 24,
                    baseDepth: Int = 2, driverRowCap: Long = 2000000L,
                    keyCol: String = "zkey"): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val depth = probeDepth(pts, col(keyCol), statsDepth, baseDepth, driverRowCap)
    val fine: Array[(Long, Long)] = pts
      .groupBy(bucket_key(col(keyCol), depth).as("k"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect()
    rollupAdaptive(spark, fine.toSeq, threshold, depth, baseDepth)
  }

  /**
   * Deepest stats depth whose occupied-bucket count fits the driver
   * budget. The roll-up collects one row per OCCUPIED depth-`depth`
   * bucket; on a huge store a deep statsDepth could approach one row per
   * point. Probe every candidate depth with approx_count_distinct in ONE
   * aggregation pass and pick the deepest that stays within the budget
   * (coarsening by 8 bits per step, floored at base). `key` may be a raw
   * zkey or an already-masked bucket key at ≥ statsDepth bits — masking
   * is idempotent, so the probe is valid for both (shared with the
   * streaming stats view).
   */
  def probeDepth(df: DataFrame, key: Column, statsDepth: Int,
                 baseDepth: Int, driverRowCap: Long): Int = {
    val candidates =
      (Iterator.iterate(statsDepth)(_ - 8).takeWhile(_ > baseDepth).toSeq :+ baseDepth).distinct
    val probe = df.select(candidates.map(d =>
      approx_count_distinct(bucket_key(key, d)).as(s"d$d")): _*).head()
    candidates.zipWithIndex
      .collectFirst { case (d, i) if probe.getLong(i) <= driverRowCap => d }
      .getOrElse(baseDepth)
  }

  /**
   * The metadata-scale half of [[adaptiveStats]]: roll depth-`statsDepth`
   * fine-bucket counts up into variable-depth buckets — the batch
   * re-expression of the reference's recursive `maySplit`
   * (`Index.java:183-230`). Shared with the streaming stats table
   * ([[graft.streaming.StreamingIngest.adaptiveStatsView]]), whose fine
   * counts come from incremental per-batch deltas instead of a store
   * scan.
   */
  def rollupAdaptive(spark: SparkSession, fine: Seq[(Long, Long)], threshold: Long,
                     statsDepth: Int, baseDepth: Int = 2): DataFrame = {
    import spark.implicits._
    def splitLevel(entries: Seq[(Long, Long)], pl: Int): Seq[(Long, Int, Long)] = {
      val grouped = entries.groupBy { case (key, _) => key & ZOrder.makeMask(pl) }
      grouped.toSeq.flatMap { case (bk, kids) =>
        val total = kids.map(_._2).sum
        if (total <= threshold || pl >= statsDepth) Seq((bk, pl, total))
        else splitLevel(kids, pl + 1)
      }
    }
    splitLevel(fine, baseDepth)
      .toDF("bucket_key", "prefix_len", "bucket_size")
      .withColumn("bucket_name", expr(
        "concat(substring(lpad(bin(bucket_key), 64, '0'), 1, prefix_len)," +
        " repeat('*', 64 - prefix_len))"))
  }

  /**
   * Logical-delete view: the rows of `pts` NOT superseded by a tombstone
   * marker — the single-entity DELETE verb both the reference
   * (`Client.java:217-224` offers only whole-store drop; SURVEY §2.1
   * documents the upsert-only consequence of `Bucket.java:76-81`) and a
   * naive 100-TB store lack, yet a takedown/GDPR workflow cannot live
   * without.
   *
   * Markers are an Iceberg-style equality-delete side table
   * `(id, x, y, seq...)`: a marker kills every version of its key with
   * sequence ≤ the marker's (delete wins a seq tie), so a put appended
   * AFTER the delete — higher seq — RESURRECTS the key (spec-pinned).
   * The read is one left_anti equi-join on the key plus the lexicographic
   * seq comparison; takedown sets are tiny relative to the store, so the
   * marker side broadcasts and the 100-TB side never shuffles. The
   * logical view is exact immediately; [[PointStore.compactDeletes]]
   * folds it physically (and result-invisibly — the `delete_equiv` gate)
   * without ever rewriting the store on the read path.
   */
  def applyTombstones(pts: DataFrame, markers: DataFrame,
                      seqCols: Seq[String]): DataFrame = {
    val keyCols = Seq("id", "x", "y")
    val m = markers.select((keyCols ++ seqCols).map(c => col(c).as(s"__t_$c")): _*)
    val keyEq = keyCols.map(c => col(c) === col(s"__t_$c")).reduce(_ && _)
    val killed = struct(seqCols.map(col): _*) <=
      struct(seqCols.map(c => col(s"__t_$c")): _*)
    pts.join(broadcast(m), keyEq && killed, "left_anti")
  }

  /** Upsert-on-read: reference `Put` overwrite semantics per (x, y, id)
    * (`Bucket.java:76-81`) over an append-only put log — keep the row
    * with the greatest sequence columns per key. */
  def latest(putLog: DataFrame, seq: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("x"), col("y"), col("id"))
      .orderBy(seq.map(_.desc): _*)
    putLog.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Z-clustered write — the analog of the reference's z-sorted HBase data
   * table (`Bucket.java:40-47`). `repartitionByRange(zkey)` gives a
   * global range partitioning (each output file covers a disjoint
   * z-interval ≈ a bucket); `sortWithinPartitions` makes row groups
   * internally ordered so Parquet min/max stats are tight. At cluster
   * scale the same two calls distribute; only the partition count grows.
   */
  def write(pts: DataFrame, path: String, numPartitions: Int = 0): Unit =
    clustered(pts, numPartitions).write.mode("overwrite").parquet(path)

  /** Append a batch of puts (reference `Client.insert`, `Bucket.java:76-81`). */
  def append(pts: DataFrame, path: String, numPartitions: Int = 0): Unit =
    clustered(pts, numPartitions).write.mode("append").parquet(path)

  private def clustered(pts: DataFrame, numPartitions: Int): DataFrame = {
    val p = if (numPartitions > 0) pts.repartitionByRange(numPartitions, col("zkey"))
            else pts.repartitionByRange(col("zkey"))
    p.sortWithinPartitions("zkey")
  }

  def open(spark: SparkSession, path: String): PointStore =
    new PointStore(spark, path)
}

/** A Z-clustered Parquet point store at a fixed path. */
class PointStore(spark: SparkSession, path: String) {
  import PointStore._
  import org.apache.hadoop.fs.Path

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tombPath = new Path(path + ".tombstones")
  private def rangeTombPath = new Path(path + ".rangetombs")
  private def foldScratch = new Path(path + ".folding")
  private val FoldReady = "_GRAFT_FOLD_READY"

  /** The full store as a DataFrame `(id, x, y, zkey [, payload...])`.
    * Converges a crash-interrupted [[compactDeletes]] first, so a
    * mid-fold crash self-heals on the next read. */
  def df: DataFrame = { resolveFold(); spark.read.parquet(path) }

  /** Logical single-entity DELETE (`delete_equiv` gate): append
    * equality-delete markers `(id, x, y, seq...)` to the store's
    * tombstone side table. O(markers) write — the store itself is
    * untouched; reads through [[live]] are exact immediately. */
  def delete(markers: DataFrame): Unit =
    markers.write.mode("append").parquet(tombPath.toString)

  /**
   * Logical RANGE (predicate) DELETE — region takedown without
   * enumerating ids (the geofence-purge / bad-sensor-window verb; an
   * equality marker per member would mean scanning 100 TB just to
   * WRITE the delete). Markers are rectangles
   * `(xmin, xmax, ymin, ymax, seq...)` appended O(markers); a marker
   * kills every row inside its rectangle with sequence ≤ the marker's
   * — the same seq discipline as [[delete]], so a later re-put inside
   * the region resurrects. The read side compiles the (tiny) marker
   * set into ONE plain x/y/seq predicate — no join at all, and the
   * conjunction pushes to the parquet scan where row groups inside
   * the dead region prune by footer stats.
   */
  def deleteRange(markers: DataFrame): Unit =
    markers.write.mode("append").parquet(rangeTombPath.toString)

  /** Pending range-tombstone markers (empty after a fold). */
  def rangeTombstones: Option[DataFrame] = {
    resolveFold()
    if (fs.exists(rangeTombPath)) Some(spark.read.parquet(rangeTombPath.toString))
    else None
  }

  /** Lexicographic `cols <= bounds` expanded into plain comparisons —
    * a `struct(...) <= struct(...)` spelling is NOT translatable to a
    * parquet source filter, which would keep the whole compiled
    * range-tombstone predicate off the scan (measured: empty
    * PushedFilters); the expansion keeps every atom pushable. For the
    * common single-sequence-column case it degenerates to one plain
    * `col <= lit`. */
  private def lexLe(cols: Seq[Column], bounds: Seq[Column]): Column =
    if (cols.size == 1) cols.head <= bounds.head
    else (cols.head < bounds.head) ||
      (cols.head === bounds.head && lexLe(cols.tail, bounds.tail))

  /** Above this many pending rectangle markers the read path stops
    * compiling them into one OR-ladder predicate (an unbounded marker
    * backlog would mean an unbounded expression tree — analysis/codegen
    * cost on EVERY read — plus a driver collect per read) and falls
    * back to a broadcast nested-loop anti-join: plan size O(1), marker
    * side broadcasts, the store side still never shuffles. The ladder
    * is preferred below the cap because it pushes to the parquet scan
    * (row groups inside a dead region prune by footer stats — the
    * `delete_range_equiv` PushedFilters pin), which the join spelling
    * cannot. Either way correctness is identical (spec-pinned); past
    * the cap a warning nudges the operator to [[compactDeletes]],
    * which folds markers physically and empties the backlog. */
  val MaxCompiledRangeMarkers = 64

  private def applyRangeTombstones(pts: DataFrame, markers: DataFrame,
                                   seqCols: Seq[String]): DataFrame = {
    val rectCols = Seq("xmin", "xmax", "ymin", "ymax")
    val sel = markers.select((rectCols ++ seqCols).map(col): _*)
    val rects = sel.limit(MaxCompiledRangeMarkers + 1).collect()
    if (rects.isEmpty) pts
    else if (rects.length <= MaxCompiledRangeMarkers) {
      val dead = rects.map { r =>
        col("x") >= lit(r.get(0)) && col("x") <= lit(r.get(1)) &&
          col("y") >= lit(r.get(2)) && col("y") <= lit(r.get(3)) &&
          lexLe(seqCols.map(col),
            seqCols.indices.map(i => lit(r.get(4 + i))))
      }.reduce(_ || _)
      // null-safe: a null x/y/seq makes `dead` NULL, which filter()
      // would drop where the >cap anti-join keeps ("not provably dead
      // = kept"); the isnull disjuncts pin both spellings to the join
      // semantics AND stay source-translatable (a coalesce() wrapper
      // would kill the pushdown this ladder exists for)
      val nullable = (Seq("x", "y") ++ seqCols).map(col(_).isNull).reduce(_ || _)
      pts.filter(!dead || nullable)
    } else {
      org.slf4j.LoggerFactory.getLogger(classOf[PointStore]).warn(
        s"graft: > $MaxCompiledRangeMarkers unfolded range-tombstone markers " +
        s"at $path - reads fall back to a broadcast anti-join and lose scan " +
        "pruning inside dead regions; run compactDeletes to fold the backlog")
      val m = sel.select((rectCols ++ seqCols).map(c => col(c).as(s"__rt_$c")): _*)
      val inside =
        col("x") >= col("__rt_xmin") && col("x") <= col("__rt_xmax") &&
        col("y") >= col("__rt_ymin") && col("y") <= col("__rt_ymax") &&
        lexLe(seqCols.map(col), seqCols.map(c => col(s"__rt_$c")))
      pts.join(broadcast(m), inside, "left_anti")
    }
  }

  /** The store's pending tombstone markers (empty after a fold). */
  def tombstones: Option[DataFrame] = {
    resolveFold()
    if (fs.exists(tombPath)) Some(spark.read.parquet(tombPath.toString)) else None
  }

  /** The live view: store rows not superseded by a tombstone marker —
    * see [[PointStore.applyTombstones]]. Compose with [[latest]] when
    * the store is an upsert log. */
  def live(seqCols: Seq[String]): DataFrame = {
    val base = df
    val afterEq =
      tombstones.map(PointStore.applyTombstones(base, _, seqCols)).getOrElse(base)
    rangeTombstones.map(applyRangeTombstones(afterEq, _, seqCols))
      .getOrElse(afterEq)
  }

  /**
   * Snapshot (time-travel) read AS OF a sequence bound — the view the
   * store presented when the last operation with sequence ≤ `bound`
   * landed: puts with a later sequence don't exist yet, and only
   * markers already appended by then kill rows (so a key deleted AFTER
   * the bound is still alive in the snapshot, and one deleted BEFORE a
   * re-put is correctly absent). Because the put log and the marker
   * table are both APPEND-ONLY with monotone sequences, a snapshot is
   * two predicates over data already on disk — no version manifests,
   * no copy-on-write, and the 100-TB store is never rewritten to serve
   * history. Compose with [[PointStore.latest]] for upsert-log
   * semantics, exactly like [[live]].
   *
   * History horizon: [[compactDeletes]] folds markers into the data
   * and retires them — snapshots are exact for bounds SINCE the last
   * fold; a bound older than the fold replays against the folded rows
   * (the Iceberg snapshot-expiry trade: physical cleanup forgets
   * history, by design — schedule folds at your retention boundary).
   *
   * The cut predicate is spelled through [[lexLe]], NOT
   * `struct(seq) <= struct(bound)` — the struct spelling is not
   * translatable to a parquet source filter (measured: empty
   * PushedFilters), so it would make every time-travel read scan all
   * row groups regardless of seq footer stats. The expansion keeps
   * every atom pushable; for the common 1-column case it is a single
   * `put_seq <= bound` that prunes row groups written after the bound
   * (PushedFilters pinned in PlanQualitySpec, the range-delete
   * discipline). The marker sides reuse the same predicate — they
   * broadcast, so pushability there is moot.
   */
  def snapshotAsOf(seqCols: Seq[String], bound: Seq[Column]): DataFrame = {
    val cut = lexLe(seqCols.map(col), bound)
    val base = df.filter(cut)
    val afterEq = tombstones match {
      case Some(t) => PointStore.applyTombstones(base, t.filter(cut), seqCols)
      case None => base
    }
    rangeTombstones match {
      case Some(rt) => applyRangeTombstones(afterEq, rt.filter(cut), seqCols)
      case None => afterEq
    }
  }

  /**
   * Physically fold pending tombstones: rewrite the store z-clustered
   * with the markers applied, then retire the marker table — the
   * point-store analog of [[PostingsStore.compact]], and like it
   * CRASH-ATOMIC via the `_READY`-marker scratch swap: the clustered
   * live rows are fully written to a scratch sibling before the marker
   * announces them, and every crash state converges on the next read
   * ([[resolveFold]]). Leftover markers after a crash are HARMLESS even
   * before recovery runs: a marker only kills rows with seq ≤ its own,
   * and the folded store no longer holds any such row — the anti-join
   * is a no-op, so correctness never depends on the cleanup step.
   *
   * Single fold-writer assumed, and no concurrent [[delete]] during the
   * fold (a marker appended between the scratch write and the cleanup
   * would be retired unapplied) — the crash-recovery guarantee, not
   * multi-writer coordination, is the claim here.
   *
   * FILESYSTEM CONTRACT: the swap's directory rename must be atomic
   * (HDFS/POSIX semantics — the same requirement
   * [[PostingsStore.compact]]'s swap states). On an object store whose
   * rename is per-file copy (e.g. S3A), the in-scratch `_READY` marker
   * could surface under the store path before all data files finish
   * copying, and [[resolveFold]] would retire the tombstone tables
   * against a partially-copied store. Run folds against an
   * atomic-rename filesystem, or front the store with a committer that
   * provides one.
   */
  def compactDeletes(seqCols: Seq[String], numPartitions: Int = 0): Unit = {
    resolveFold()
    fs.delete(foldScratch, true)            // unfinished-build debris
    clustered(live(seqCols), numPartitions).write.parquet(foldScratch.toString)
    fs.create(new Path(foldScratch, FoldReady)).close()
    completeFold()
  }

  private def completeFold(): Unit = {
    fs.delete(new Path(path), true)
    if (!fs.rename(foldScratch, new Path(path)))
      throw new java.io.IOException(s"fold swap $foldScratch -> $path failed")
    fs.delete(new Path(path, FoldReady), false)
    fs.delete(tombPath, true)
    fs.delete(rangeTombPath, true)
    ()
  }

  private def resolveFold(): Unit = {
    if (fs.exists(new Path(foldScratch, FoldReady))) completeFold()
    else if (fs.exists(new Path(path, FoldReady))) {
      // crashed between the swap rename and the cleanup: finish it
      fs.delete(new Path(path, FoldReady), false)
      fs.delete(tombPath, true)
      fs.delete(rangeTombPath, true)
      ()
    }
  }

  def get(x: Int, y: Int): DataFrame = PointStore.get(df, x, y)
  def rangeQuery(rx: IntRange, ry: IntRange): DataFrame = PointStore.rangeQuery(df, rx, ry)
  def rangeCount(rx: IntRange, ry: IntRange): DataFrame =
    rangeQuery(rx, ry).agg(count(lit(1)).as("cnt"))
  def knn(qx: Int, qy: Int, k: Int, initialRadius: Int = 64): DataFrame =
    PointStore.knn(df, qx, qy, k, initialRadius)
  def indexStats(prefixLen: Int): DataFrame = PointStore.indexStats(df, prefixLen)
  def latest(seq: Seq[Column] = Nil): DataFrame =
    if (seq.isEmpty) df.dropDuplicates("x", "y", "id") else PointStore.latest(df, seq)

  /** Variable-depth bucket stats — see [[PointStore.adaptiveStats]]. */
  def adaptiveStats(threshold: Long, statsDepth: Int = 24, baseDepth: Int = 2): DataFrame =
    PointStore.adaptiveStats(df, threshold, statsDepth, baseDepth)

  /** Drop the store (`Client.java:217-224`), including its tombstone
    * side table and any fold scratch. */
  def drop(): Unit = {
    fs.delete(new Path(path), true)
    fs.delete(tombPath, true)
    fs.delete(rangeTombPath, true)
    fs.delete(foldScratch, true)
    ()
  }
}
