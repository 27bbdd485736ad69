package graft.operators

import java.util.concurrent.{Executors, ThreadFactory}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/**
 * Driver-side zone map of a bare parquet scan: per row group, the rows
 * whose coordinates are all non-null and each coordinate's min/max,
 * read from the file footers alone (no data scan, no Spark job). It
 * plays the role of MD-HBase's bucket index in kNN: the boxes bound
 * where the data near a query lies and how dense it is there, so the
 * search can start at a radius that fits the data
 * ([[PointStore.knnRadius]]).
 *
 * Files are immutable under their (path, length, modification time),
 * so each file's zones are cached under that key in a fixed-size LRU;
 * a file rewritten in place changes its length or modification time
 * and is read afresh. Cache misses are read in parallel.
 */
final class ZoneMap private (zones: IndexedSeq[ZoneMap.Zone]) {

  /**
   * Where an exact kNN search for `k` rows around `q` starts:
   * `(probe, cap)` window radii. `probe` is the radius expected to hold
   * ~2k rows at the density of the row groups containing `q` (of the
   * nearest one when none does). `cap` needs no probe: the row groups
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
      val side = math.pow(2.0 * k * volume / near.map(_.rows).sum, 1.0 / dims.size)
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

  /** Files whose zones the cache keeps. */
  private val CacheFiles = 4096

  private type Key = (String, Long, Long, Seq[String])

  private val cache = new java.util.LinkedHashMap[Key, Option[IndexedSeq[Zone]]](256, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, Option[IndexedSeq[Zone]]]): Boolean = size() > CacheFiles
  }

  private lazy val readers: ExecutionContext = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(8, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graft-zone-map")
        t.setDaemon(true)
        t
      }
    }))

  /** The zone map of `df` over the integral columns `cols`, when `df`
    * is a bare parquet scan (a non-streaming, unpartitioned parquet
    * relation with no operator on top) whose every row group carries
    * min/max and null-count statistics for each column; None otherwise,
    * including when a footer cannot be read. */
  def of(df: DataFrame, cols: Seq[String]): Option[ZoneMap] =
    bareParquetFiles(df).flatMap { files =>
      def key(st: FileStatus): Key = (st.getPath.toString, st.getLen, st.getModificationTime, cols)
      val known = cache.synchronized(files.map(st => st -> Option(cache.get(key(st)))))
      val missing = known.collect { case (st, None) => st }
      val read =
        if (missing.isEmpty) Some(Nil)
        else {
          val conf = df.sparkSession.sessionState.newHadoopConf()
          try Some(Await.result(Future.traverse(missing)(st =>
            Future(readZones(st, cols, conf))(readers))(implicitly, readers), Duration.Inf))
          catch { case NonFatal(_) => None }
        }
      read.flatMap { fresh =>
        cache.synchronized(missing.zip(fresh).foreach { case (st, z) => cache.put(key(st), z) })
        val perFile = known.flatMap(_._2) ++ fresh
        if (perFile.exists(_.isEmpty)) None
        else Some(new ZoneMap(perFile.flatMap(_.get).toIndexedSeq))
      }
    }

  private def bareParquetFiles(df: DataFrame): Option[Seq[FileStatus]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.partitionSchema.isEmpty => fs.location match {
          case idx: PartitioningAwareFileIndex => Some(idx.allFiles())
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** One file's zones, keeping row groups with a row that has every
    * coordinate; None when a row group lacks a column's statistics. */
  private def readZones(st: FileStatus, cols: Seq[String],
                        conf: Configuration): Option[IndexedSeq[Zone]] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val groups = reader.getFooter.getBlocks.asScala.toIndexedSeq.map { b =>
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
    } finally reader.close()
  }

  /** An INT32/INT64 statistic; other types bound nothing a window can use. */
  private def integral(v: Any): Option[Long] = v match {
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long => Some(l.longValue)
    case _ => None
  }
}
