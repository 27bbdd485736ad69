package graft.operators

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import scala.annotation.nowarn
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Expression,
  FileSourceMetadataAttribute, IntegerLiteral, InterpretedOrdering, Predicate, SubqueryExpression,
  Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LocalRelation,
  LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory, PartitionedFile,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFilters, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Driver-side zone map of a bare parquet scan: per row group, the rows
 * whose coordinates are all non-null and each coordinate's min/max,
 * read from the file footers alone (no data scan, no Spark job). It
 * plays the role of MD-HBase's bucket index in kNN: the boxes bound
 * where the data near a query lies and how dense it is there, so the
 * search can start at a radius that fits the data
 * ([[PointStore.nearest]]).
 *
 * The footers come from [[ParquetFooters]]' cache, so a file rewritten
 * in place (new length or modification time) is read afresh.
 */
final class ZoneMap private (zones: IndexedSeq[ZoneMap.Zone]) {

  /**
   * Where an exact kNN search for `k` rows around `q` starts:
   * `(probe, cap)` window radii. `probe` is the radius whose window's
   * inscribed ball — the region a probe can answer from — is expected to
   * hold ~2k rows at the density of the row groups containing `q` (of
   * the nearest one when none does); the ball fills [[ballShare]] of the
   * window (π/4 in 2-D, π/6 in 3-D). `cap` needs no probe: the row groups
   * with the nearest farthest corners that together hold ≥ k rows put
   * k rows within the last one's farthest-corner distance, so the window
   * of that radius holds the whole answer. None when the zones hold
   * fewer than k rows with coordinates.
   */
  def knnStart(q: Seq[Int], k: Int): Option[(Long, Long)] = {
    val dims = q.indices
    def norm(f: Int => Double): Double = math.sqrt(dims.map { i => val v = f(i); v * v }.sum)
    def gap(z: ZoneMap.Zone): Double =
      norm(i => math.max(0.0, math.max(z.lo(i).toDouble - q(i), q(i) - z.hi(i).toDouble)))
    def far(z: ZoneMap.Zone): Double =
      norm(i => math.max(math.abs(q(i) - z.lo(i).toDouble), math.abs(z.hi(i) - q(i).toDouble)))
    val byFar = zones.map(z => (far(z), z.rows)).sortBy(_._1)
    val held = byFar.iterator.scanLeft(0L)(_ + _._2).indexWhere(_ >= k)
    if (held < 0) None
    else {
      val cap = math.ceil(byFar(held - 1)._1).toLong + 1
      val inside = zones.filter(gap(_) == 0.0)
      val near = if (inside.nonEmpty) inside else Seq(zones.minBy(gap))
      val volume = near.map(z => dims.map(i => z.hi(i) - z.lo(i) + 1.0).product).sum
      val side = math.pow(2.0 * k * volume / (near.map(_.rows).sum * ZoneMap.ballShare(dims.size)),
        1.0 / dims.size)
      val probe = math.ceil(near.map(gap).max + side / 2).toLong
      Some((math.max(1L, probe), cap))
    }
  }
}

object ZoneMap {

  /** One row group: `rows` is a lower bound on the rows whose
    * coordinates are all non-null (row count minus each coordinate's
    * null count); `lo`/`hi` bound every non-null coordinate value. */
  private[operators] final case class Zone(rows: Long, lo: IndexedSeq[Long], hi: IndexedSeq[Long])

  /** The share of a `d`-dimensional cube its inscribed ball fills:
    * π/4 for a square, π/6 for a cube. */
  private[operators] def ballShare(d: Int): Double =
    if (d < 2) 1.0 else ballShare(d - 2) * math.Pi / (2 * d)

  /** The zone map of `df` over the integral columns `cols`, when `df`
    * is a bare parquet scan (a non-streaming, unpartitioned parquet
    * relation with no operator on top) whose every row group carries
    * min/max and null-count statistics for each column; None otherwise,
    * including when a footer cannot be read. */
  def of(df: DataFrame, cols: Seq[String]): Option[ZoneMap] =
    bareParquetFiles(df).flatMap { files =>
      try {
        val perFile = ParquetFooters.of(files, df.sparkSession.sessionState.newHadoopConf())
          .map(zones(_, cols))
        Option.when(perFile.forall(_.isDefined))(new ZoneMap(perFile.flatten.flatten.toIndexedSeq))
      } catch { case NonFatal(_) => None }
    }

  private def bareParquetFiles(df: DataFrame): Option[Seq[FileStatus]] =
    df.queryExecution.analyzed match {
      case ParquetFooters.Scan(fs, files) if fs.partitionSchema.isEmpty => Some(files)
      case _ => None
    }

  /** One file's zones, keeping row groups with a row that has every
    * coordinate; None when a row group lacks a column's statistics. */
  private def zones(footer: ParquetMetadata, cols: Seq[String]): Option[IndexedSeq[Zone]] = {
    val groups = footer.getBlocks.asScala.toIndexedSeq.map { b =>
      val chunks = b.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
      val stats = cols.flatMap(chunks.get).map(_.getStatistics).toIndexedSeq
      if (stats.size < cols.size ||
          stats.exists(s => s == null || s.isEmpty || !s.isNumNullsSet)) None
      else if (stats.exists(!_.hasNonNullValue)) Some(Zone(0L, Vector.empty, Vector.empty))
      else {
        val lo = stats.map(s => integral(s.genericGetMin))
        val hi = stats.map(s => integral(s.genericGetMax))
        val rows = b.getRowCount - stats.map(_.getNumNulls).sum
        Option.when((lo ++ hi).forall(_.isDefined))(Zone(rows, lo.flatten, hi.flatten))
      }
    }
    if (groups.exists(_.isEmpty)) None else Some(groups.flatten.filter(_.rows > 0))
  }

  /** An INT32/INT64 statistic; other types bound nothing a window can use. */
  private def integral(v: Any): Option[Long] = v match {
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long => Some(l.longValue)
    case _ => None
  }
}

/**
 * Parquet footers read on the driver, and the engine's store reads built
 * on them. Files are immutable under their (path, length, modification
 * time), so each footer is cached under that key in one fixed-size LRU
 * shared by every reader ([[ZoneMap]], [[readParquet]] and its file
 * index); a file rewritten
 * in place changes its length or modification time and is read afresh.
 * Cache misses are read in parallel on a small daemon pool. Beside the
 * footers, a second LRU keeps the collected rows of small store
 * relations under the same file identity ([[collectSmall]]). The row
 * groups a scan's pushed filters keep ([[keptRowGroups]]) decide both
 * which files a store read plans and whether
 * [[graft.plans.SmallStoreReads]] answers it on the driver ([[fold]]),
 * the one driver decode path, which [[collectSmall]]'s cold reads take
 * too.
 */
private[graft] object ParquetFooters {

  /** Files whose footers the cache keeps. */
  val CacheFiles = 4096

  private type Key = (String, Long, Long)

  private val cache = new java.util.LinkedHashMap[Key, ParquetMetadata](256, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, ParquetMetadata]): Boolean =
      size() > CacheFiles
  }

  private lazy val readers: ExecutionContext = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(8, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graft-footers")
        t.setDaemon(true)
        t
      }
    }))

  /** The footers of `files`, in order; `conf` is built only on a cache
    * miss. Throws when a footer cannot be read. */
  def of(files: Seq[FileStatus], conf: => Configuration): Seq[ParquetMetadata] = {
    def key(st: FileStatus): Key = (st.getPath.toString, st.getLen, st.getModificationTime)
    val known = cache.synchronized(files.map(st => Option(cache.get(key(st)))))
    val missing = files.zip(known).collect { case (st, None) => st }
    if (missing.isEmpty) known.flatten
    else {
      val c = conf
      val fresh = Await.result(Future.traverse(missing)(st =>
        Future(key(st) -> read(st, c))(readers))(implicitly, readers), Duration.Inf).toMap
      cache.synchronized(fresh.foreach { case (k, f) => cache.put(k, f) })
      files.zip(known).map { case (st, k) => k.getOrElse(fresh(key(st))) }
    }
  }

  private def read(st: FileStatus, conf: Configuration): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try reader.getFooter finally reader.close()
  }

  /** A non-streaming parquet file scan: its relation and the files its
    * index listed. */
  object Scan {
    def unapply(plan: LogicalPlan): Option[(HadoopFsRelation, Seq[FileStatus])] = plan match {
      case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          fs.location match {
            case idx: PartitioningAwareFileIndex => Some((fs, idx.allFiles()))
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }
  }

  /** Relations the row cache admits: their footers count at most this
    * many rows and uncompressed bytes in all. */
  private val SmallRows = 10000L
  private val SmallBytes = 4L << 20

  /** Relations whose rows the cache keeps. */
  private val CacheRelations = 64

  private val rowCache = new java.util.LinkedHashMap[String, Array[Row]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Row]]): Boolean =
      size() > CacheRelations
  }

  /**
   * `df.collect()` for a small store relation — centroids, stats
   * partials, marker lists, the build identity — answered without a
   * Spark job on a warm read, and on a cold read whose plan is a chain
   * of foldable operators over one store scan ([[foldableScan]]): its
   * rows are every row group of the scan's files, decoded and folded on
   * the driver ([[fold]]). Any other cold read runs `df.collect()`.
   *
   * Invariant: the rows are the ones `df.collect()` returns now. A
   * deterministic plan whose every leaf is a parquet file scan is a
   * function of its canonical plan and its files' (path, length,
   * modification time), the [[TableMemo.contentKey]] fingerprint; the
   * rows are cached under that key when the files' footers count at
   * most [[SmallRows]] rows and [[SmallBytes]] bytes. A file rewritten
   * in place or a file added to or removed from the listing changes
   * the key. Any other plan is collected as is.
   */
  def collectSmall(df: DataFrame): Array[Row] = {
    val plan = df.queryExecution.optimizedPlan
    val scans = plan.collectLeaves().map {
      case Scan(_, files) => Some(files)
      case _ => None
    }
    val footers = if (!plan.deterministic || scans.isEmpty || scans.exists(_.isEmpty)) None else {
      val files = scans.flatten.flatten.distinct
      try Some(files.zip(of(files, df.sparkSession.sessionState.newHadoopConf())))
      catch { case NonFatal(_) => None }
    }
    val small = footers.exists { byFile =>
      val blocks = byFile.flatMap(_._2.getBlocks.asScala)
      blocks.map(_.getRowCount).sum <= SmallRows && blocks.map(_.getTotalByteSize).sum <= SmallBytes
    }
    (if (small) TableMemo.contentKey(df) else None) match {
      case None => df.collect()
      case Some(key) =>
        rowCache.synchronized(Option(rowCache.get(key))).getOrElse {
          val local = try foldableScan(plan).flatMap(scan =>
              fold(plan, scan, footers.get.map { case (st, f) => st -> f.getBlocks.asScala.toSeq }))
            catch { case NonFatal(_) => None }
          val rows = local.fold(df.collect())(Bridge.ofRows(df.sparkSession, _).collect())
          rowCache.synchronized(rowCache.put(key, rows))
          rows
        }
    }
  }

  /**
   * `spark.read.parquet(paths: _*)` without Spark's schema-inference job,
   * over a [[FooterIndex]] that lists only the files a scan's pushed
   * filters can match.
   *
   * Invariant: the DataFrame has the schema Spark's own inference gives,
   * taken from the same file, and building it submits no Spark job.
   * Without `mergeSchema` and summary files, Spark's inference reads the
   * footer of one file: the path-sorted first data file among the
   * non-hidden files directly under the paths. This lists the paths on
   * the driver, picks that file, converts its footer (the schema Spark
   * wrote there, else the session's parquet-to-Spark conversion) and
   * builds the relation over that schema, made nullable as Spark does
   * for a given schema. The listing is handed to the index, so each path
   * is listed once per read; the footer comes from the shared cache.
   *
   * It falls back to plain `spark.read.parquet` (keeping Spark's errors
   * and semantics) when `spark.sql.parquet.mergeSchema` is on, when a
   * path is a glob or cannot be listed, when the listing holds a
   * `_metadata`/`_common_metadata` summary file, a `k=v` partition
   * directory or a streaming sink's `_spark_metadata` log, when no data
   * file sits directly under the paths, when the footer cannot be read,
   * and when the schema repeats a column name.
   */
  def readParquet(s: SparkSession, paths: String*): DataFrame =
    footerListing(s, paths) match {
      case Some((schema, leaves)) => s.baseRelationToDataFrame(new FooterIndex(s, leaves, schema).relation)
      case None => s.read.parquet(paths: _*)
    }

  /** Is `lr` a store read the driver may answer: a non-streaming read
    * [[readParquet]] built over a [[FooterIndex]] (a user's own
    * `spark.read.parquet` never is), without a `_metadata` column, read
    * with neither `ignoreMissingFiles` nor `ignoreCorruptFiles` (the
    * driver read honours neither)? The one scan test of
    * [[graft.plans.SmallStoreReads]] and [[collectSmall]]. */
  def storeRead(lr: LogicalRelation): Boolean = !lr.isStreaming && (lr.relation match {
    case fs: HadoopFsRelation =>
      val opts = new FileSourceOptions(CaseInsensitiveMap(fs.options))
      fs.location.isInstanceOf[FooterIndex] &&
        !lr.output.exists { case FileSourceMetadataAttribute(_) => true; case _ => false } &&
        !opts.ignoreMissingFiles && !opts.ignoreCorruptFiles
    case _ => false
  })

  /** The schema Spark would infer for `paths` and every path's qualified
    * root with the leaf files Spark's listing finds under it, in its
    * order; None where [[readParquet]] falls back. */
  private def footerListing(s: SparkSession, paths: Seq[String])
      : Option[(StructType, Seq[(Path, Array[FileStatus])])] = {
    val sql = s.sessionState.conf
    if (paths.isEmpty || sql.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else try {
      val conf = s.sessionState.newHadoopConf()
      val roots = paths.map { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(conf)
        val qualified = fs.makeQualified(root)
        val listed = fs.listStatus(qualified)
        val top = visible(listed)
        (qualified, listed, top, top ++ top.filter(_.isDirectory).flatMap(d => below(fs, d.getPath)))
      }
      if (roots.exists { case (_, listed, _, entries) =>
            entries.exists(summaryOrPartition) || listed.exists(_.getPath.getName == "_spark_metadata") }) None
      else roots.flatMap(_._3).filter(_.isFile).sortBy(_.getPath.toString).headOption.flatMap { st =>
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, of(Seq(st), conf).head),
          new ParquetToSparkSchemaConverter(sql))
        val names = schema.fieldNames.map(n => if (sql.caseSensitiveAnalysis) n else n.toLowerCase)
        Option.when(names.distinct.length == names.length)(
          (schema, roots.map { case (root, _, _, entries) => root -> entries.filter(_.isFile).toArray }))
      }
    } catch { case NonFatal(_) => None }
  }

  /**
   * A store read's file index: Spark's [[InMemoryFileIndex]] over the
   * listing [[readParquet]] took (served from a per-read
   * [[FileStatusCache]] holding it, so Spark does not list again), whose
   * `listFiles` leaves out the files whose footers cannot match the
   * scan's pushed data filters. `allFiles` still lists every file, so
   * [[Scan]], [[ZoneMap]], [[collectSmall]] and `TableMemo.contentKey`
   * see the whole tree.
   *
   * Invariant: the driver drops exactly the files in which the executor
   * would skip every row group, so answers are unchanged by
   * construction. Per file it builds the predicate the executor's
   * row-group skip builds — the filters `FileSourceScanExec` pushes,
   * through `ParquetFilters` over the file's own footer schema with the
   * session's pushdown settings — and keeps the file when
   * `RowGroupFilter` keeps one of its row groups by their statistics.
   * It lists every file when no filter translates, when
   * `spark.sql.parquet.filterPushdown` is off, when a footer cannot be
   * read or a predicate cannot be built, and when the listing holds more
   * files than the footer cache keeps ([[CacheFiles]]), where each read
   * would evict its own footers and read them all again on the driver.
   */
  private final class FooterIndex(s: SparkSession, leaves: Seq[(Path, Array[FileStatus])],
                                  schema: StructType)
      extends InMemoryFileIndex(s, leaves.map(_._1), Map.empty, Some(schema), new Listed(leaves)) {

    lazy val relation: HadoopFsRelation = HadoopFsRelation(this, partitionSchema, Bridge.asNullable(schema),
      None, new ParquetFileFormat, Map.empty)(s)

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val dirs = super.listFiles(partitionFilters, dataFilters)
      matching(dirs.flatMap(_.files.map(_.fileStatus)), Bridge.pushedFilters(relation, dataFilters)) match {
        case Some(keep) => dirs.map(d => d.copy(files = d.files.filter(f => keep(f.fileStatus.getPath))))
        case None => dirs
      }
    }

    /** The files whose footers may hold a row passing `pushed`; None
      * keeps every file. */
    private def matching(files: Seq[FileStatus], pushed: Seq[Filter]): Option[Set[Path]] = {
      val sql = s.sessionState.conf
      if (pushed.isEmpty || !sql.parquetFilterPushDown || files.size > CacheFiles) None
      else try {
        val footers = of(files, s.sessionState.newHadoopConf())
        Some(files.zip(footers).collect { case (st, f) if keptRowGroups(f, pushed, sql).nonEmpty => st.getPath }.toSet)
      } catch { case NonFatal(_) => None }
    }
  }

  /** The row groups of the file with `footer` that survive the
    * statistics skip of the predicate the executor builds for `pushed`:
    * all of them when pushdown is off or no filter translates. The one
    * test behind both [[FooterIndex]]'s file skip and the row budget of
    * [[graft.plans.SmallStoreReads]]. */
  @nowarn("cat=deprecation")
  def keptRowGroups(footer: ParquetMetadata, pushed: Seq[Filter], sql: SQLConf): Seq[BlockMetaData] = {
    val meta = footer.getFileMetaData
    val blocks = footer.getBlocks
    val predicate = if (pushed.isEmpty || !sql.parquetFilterPushDown) None else {
      val rebase = DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
        new ParquetOptions(Map.empty[String, String], sql).datetimeRebaseModeInRead)
      val filters = new ParquetFilters(meta.getSchema, sql.parquetFilterPushDownDate,
        sql.parquetFilterPushDownTimestamp, sql.parquetFilterPushDownDecimal,
        sql.parquetFilterPushDownStringPredicate, sql.parquetFilterPushDownInFilterThreshold,
        sql.caseSensitiveAnalysis, rebase)
      pushed.flatMap(filters.createFilter).reduceOption(FilterApi.and)
    }
    predicate.fold(blocks)(p => RowGroupFilter.filterRowGroups(FilterCompat.get(p), blocks, meta.getSchema))
      .asScala.toSeq
  }

  /** Spark's parquet reader built for one relation schema and column
    * set, as executors run it. */
  private final class RowReader(val required: StructType, val read: PartitionedFile => Iterator[InternalRow])

  /** A reader's inputs: data schema, requested schema, relation options,
    * every entry of the Hadoop conf it reads with (the session's Hadoop
    * and SQL settings and the relation's options), and the Spark
    * application (its broadcast of that conf lives there). */
  private type ReaderKey = (StructType, StructType, Map[String, String], Map[String, String], String, Long)

  private val rowReaders = new java.util.LinkedHashMap[ReaderKey, RowReader](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[ReaderKey, RowReader]): Boolean = size() > 16
  }

  /** Readers built. */
  private[graft] val readersBuilt = new AtomicLong

  /**
   * The rows a scan of `relation` yields from the row groups `groups`
   * (per file, the row groups it keeps), as `required`'s columns, read
   * on the driver, each row copied into an `UnsafeRow`. The row groups
   * are decoded in parallel on the footer pool, as a scan's tasks would
   * be. Throws where the executor's read would.
   *
   *  - The reader: `ParquetFileFormat.buildReaderWithPartitionValues`,
   *    the function executors run (row-based, the relation's options and
   *    Hadoop conf, no pushed filter), built once per (data schema,
   *    requested schema, options, Hadoop conf entries, application) and
   *    kept in a 16-entry LRU; building it broadcasts the Hadoop conf,
   *    the larger part of a small read's set-up, so a reader is reused
   *    across queries and a Hadoop or SQL setting changed since builds
   *    a new one.
   *  - A row group: the split `[start, start + compressed size)`, which
   *    Spark's reader turns into exactly that group (it keeps the groups
   *    whose midpoint falls in the split), decoded whole; a decode whose
   *    row count is not the group's throws. The callers apply their
   *    complete filter, so what is read does not depend on what the
   *    reader prunes. The trade-off: a kept group is decoded whole where
   *    the column index could have skipped pages, which costs nothing
   *    with one page per column chunk, the point store's layout today.
   */
  def readRowGroups(relation: HadoopFsRelation, required: StructType,
                    groups: Seq[(FileStatus, Seq[BlockMetaData])]): Seq[InternalRow] = {
    val reader = rowReader(relation, required)
    Await.result(Future.traverse(for ((st, blocks) <- groups; b <- blocks) yield (st, b)) {
      case (st, b) => Future(decode(reader, st, b))(readers)
    }(implicitly, readers), Duration.Inf).flatten
  }

  private def rowReader(relation: HadoopFsRelation, required: StructType): RowReader = {
    val s = relation.sparkSession
    val conf = s.sessionState.newHadoopConfWithOptions(relation.options)
    val k = (relation.dataSchema, required, relation.options,
      conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap,
      s.sparkContext.applicationId, s.sparkContext.startTime)
    rowReaders.synchronized(Option(rowReaders.get(k))).getOrElse {
      readersBuilt.incrementAndGet()
      val built = new RowReader(required, new ParquetFileFormat().buildReaderWithPartitionValues(s,
        relation.dataSchema, relation.partitionSchema, required, Nil,
        relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), conf))
      rowReaders.synchronized(Option(rowReaders.putIfAbsent(k, built)).getOrElse(built))
    }
  }

  /** Row group `group` of file `st`, decoded whole and copied. */
  private def decode(reader: RowReader, st: FileStatus, group: BlockMetaData): Vector[InternalRow] = {
    val copy = UnsafeProjection.create(reader.required)
    val rows = reader.read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
      group.getStartingPos, group.getCompressedSize, Array.empty[String], st.getModificationTime, st.getLen))
    val out = try rows.map(r => copy(r).copy()).toVector
      finally rows match { case c: java.io.Closeable => c.close(); case _ => }
    if (out.length != group.getRowCount) throw new IllegalStateException(
      s"${st.getPath}: the split at ${group.getStartingPos} decoded ${out.length} rows of ${group.getRowCount}")
    out
  }

  /**
   * The store scan under `plan` when `plan` is a chain of operators
   * [[fold]] folds: `Project`, `Filter`, global `Sort`,
   * `GlobalLimit`/`LocalLimit` and a grouping-free `Aggregate` of plain
   * `count(...)`s, every expression deterministic and free of
   * subqueries, over one [[storeRead]] scan. Checked before anything is
   * read.
   */
  def foldableScan(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Option.when(storeRead(lr))(lr)
    case _ if !p.expressions.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) => None
    case Project(_, child) => foldableScan(child)
    case logical.Filter(_, child) => foldableScan(child)
    case s: Sort if s.global => foldableScan(s.child)
    case GlobalLimit(IntegerLiteral(_), child) => foldableScan(child)
    case LocalLimit(IntegerLiteral(_), child) => foldableScan(child)
    case a: Aggregate if a.groupingExpressions.isEmpty && a.aggregateExpressions.forall {
        case Alias(AggregateExpression(_: Count, Complete, false, None, _), _) => true
        case _ => false
      } => foldableScan(a.child)
    case _ => None
  }

  /**
   * `plan`, a [[foldableScan]] chain over `scan`, as one local relation
   * with the plan's output: the scan's rows are the row groups `groups`
   * (per file) decoded whole ([[readRowGroups]]: every row of the
   * columns the plan uses), and the operators above are folded
   * bottom-up, interpreted throughout, so it compiles no class:
   *
   *  - a Filter bound once and evaluated with an interpreted predicate
   *    (Catalyst's `ConvertToLocalRelation` would compile one per query,
   *    as every window brings new literals; like it, never over an
   *    `Unevaluable` expression);
   *  - Catalyst's `ConvertToLocalRelation` for Project and the limits;
   *  - what Spark does not fold: a global Sort (an
   *    `InterpretedOrdering`), the counts, and the lone `GlobalLimit`
   *    left once its `LocalLimit` is folded.
   *
   * None where an operator does not fold. Throws where the read would:
   * a listed file deleted before its row groups are decoded fails it,
   * and callers fall back to the distributed plan, which raises Spark's
   * own error. Isolating every reader from a concurrent rewrite is the
   * store file manifest's aim (ROADMAP item 4).
   */
  def fold(plan: LogicalPlan, scan: LogicalRelation,
           groups: Seq[(FileStatus, Seq[BlockMetaData])]): Option[LocalRelation] = {
    val fs = scan.relation.asInstanceOf[HadoopFsRelation]
    val used = plan.collect { case n => n.references }.foldLeft(plan.outputSet)(_ ++ _)
    val needed = scan.output.filter(used.contains)
    val data = readRowGroups(fs,
      StructType(needed.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata))), groups)
    folded(plan, scan, LocalRelation(needed, data))
  }

  private def folded(p: LogicalPlan, scan: LogicalRelation, rows: LocalRelation): Option[LocalRelation] =
    if (p eq scan) Some(rows)
    else folded(p.children.head, scan, rows).flatMap(child => step(p.withNewChildren(Seq(child))))

  /** One operator over local rows, folded. */
  private def step(p: LogicalPlan): Option[LocalRelation] = p match {
    case logical.Filter(cond, in: LocalRelation) =>
      val bound = bind(cond, in.output)
      if (bound.exists(_.isInstanceOf[Unevaluable])) None
      else {
        val predicate = Predicate.createInterpreted(bound)
        predicate.initialize(0)
        Some(in.copy(data = in.data.filter(predicate.eval)))
      }
    case _ => converted(p)
  }

  private def converted(p: LogicalPlan): Option[LocalRelation] = ConvertToLocalRelation(p) match {
    case done: LocalRelation => Some(done)
    case s: Sort => s.child match {
      case in: LocalRelation =>
        Some(in.copy(data = in.data.sorted(new InterpretedOrdering(s.order.map(bind(_, in.output))))))
      case _ => None
    }
    case GlobalLimit(IntegerLiteral(n), in: LocalRelation) => Some(in.copy(data = in.data.take(n)))
    case a: Aggregate => a.child match {
      case in: LocalRelation =>
        val counts = a.aggregateExpressions.map {
          case Alias(AggregateExpression(Count(args), _, _, _, _), _) =>
            val bound = args.map(bind(_, in.output))
            in.data.count(row => bound.forall(_.eval(row) != null)).toLong
        }
        Some(LocalRelation(a.output, Seq(InternalRow.fromSeq(counts))))
      case _ => None
    }
    case _ => None
  }

  private def bind[E <: Expression](e: E, output: Seq[Attribute]): E =
    BindReferences.bindReference(e, output)

  /** One read's listing as Spark's listing cache, keyed by root path. */
  private final class Listed(leaves: Seq[(Path, Array[FileStatus])]) extends FileStatusCache {
    private val byRoot = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
    leaves.foreach { case (root, files) => byRoot.put(root, files) }
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Option(byRoot.get(path))
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = byRoot.put(path, files)
    override def invalidateAll(): Unit = byRoot.clear()
  }

  /** The entries Spark's file listing keeps: it drops names starting
    * with `_` or `.` (but not summary files or `_k=v`) and in-flight
    * `._COPYING_` files. */
  private def visible(sts: Array[FileStatus]): Seq[FileStatus] = sts.toSeq.filterNot { st =>
    val n = st.getPath.getName
    val hidden = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")
    hidden && !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
  }

  /** A summary file or a `k=v` partition directory: with either, Spark's
    * schema is not the first data file's (it reads the summary file, or
    * adds partition columns). */
  private def summaryOrPartition(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    n.startsWith("_") || (st.isDirectory && n.contains("="))
  }

  /** Every visible entry below directory `dir`, at any depth. */
  private def below(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val kids = visible(fs.listStatus(dir))
    kids ++ kids.filter(_.isDirectory).flatMap(k => below(fs, k.getPath))
  }
}
