package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/**
 * Per-process memo of materialized parquet tables — the "compute once,
 * consume many times" seam behind [[Dedup.sharedClusters]],
 * [[Similarity.sharedKnnJoin]] and [[Similarity.semanticIncremental]].
 *
 * STALENESS CONTRACT: the memo trusts the key ALONE — it never inspects
 * the data. All in-repo callers therefore build their key from
 * [[TableMemo.contentKey]] — a fingerprint of the input's file listing
 * (path, length, modification time of every file) AND its canonicalized
 * logical plan — plus their parameters, so rewriting the data behind a
 * path mints a new key and the memo self-invalidates, and two views
 * derived from the same files via different filters/projections get
 * distinct fingerprints. The caller-supplied key component remains
 * a namespace, and carries staleness alone ONLY for inputs with no
 * file-backed lineage (in-memory test fixtures), where `contentKey`
 * returns None.
 *
 * Concurrency: `computeIfAbsent` only constructs a cheap holder under
 * the map's bin lock; the Spark job runs on first `path` access,
 * guarded by that holder's own lazy-val lock — so two first-consumers
 * of DIFFERENT keys never serialize behind each other's jobs, while
 * two first-consumers of the SAME key still compute exactly once.
 */
private[graft] final class TableMemo(prefix: String) {
  final class Holder(compute: () => String) {
    lazy val path: String = compute()
  }

  private[graft] val entries = new ConcurrentHashMap[String, Holder]()

  /** Number of memo entries whose key starts with `keyPrefix` (spec hook). */
  private[graft] def countKeys(keyPrefix: String): Long =
    entries.entrySet().stream().filter(e => e.getKey.startsWith(keyPrefix)).count()

  /** Materialized path for `key`, if any (spec hook). */
  private[graft] def pathOf(key: String): Option[String] =
    Option(entries.get(key)).map(_.path)

  /** Path of the memoized table for `key`, computing + writing it on
    * first access via `write(dir)` into a fresh tmpdir (deleted on JVM
    * exit). */
  def getOrCreate(key: String)(write: String => Unit): String =
    entries.computeIfAbsent(key, { _ =>
      new Holder(() => {
        val dir = java.nio.file.Files.createTempDirectory(prefix)
        sys.addShutdownHook {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        write(dir.toString)
        dir.toString
      })
    }).path
}

private[graft] object TableMemo {

  /**
   * Content fingerprint of `df`'s file-backed inputs: md5 over the
   * sorted `(path, length, modificationTime)` of every input file plus
   * the canonicalized optimized plan — rewriting data at the same path
   * changes the fingerprint (Spark writes fresh part-file names, and
   * length/mtime move too), and derived views of the SAME files
   * (different filters/projections) fingerprint differently, so memo
   * keys built from it self-invalidate.
   *
   * Metadata-only and driver-side: the listing comes from the analyzed
   * plan's already-materialized file index when the input is a V1 file
   * scan (no filesystem round trips beyond what planning already paid).
   * Optimizer rules never rewrite the analyzed plan, so a read
   * [[graft.plans.SmallStoreReads]] folds into local rows keeps its
   * files' identity;
   * otherwise one `getFileStatus` per `inputFiles` entry. Returns None
   * when the plan has no file-backed input (in-memory fixtures) — such
   * inputs cannot be content-keyed and the caller's key stands alone.
   * That None case includes a `.cache()`d input whose plan was replaced
   * by cache substitution: an InMemoryRelation exposes no files, so the
   * caller's key is again the sole staleness carrier there.
   */
  def contentKey(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    val fromIndex: Seq[(String, Long, Long)] =
      df.queryExecution.analyzed.collect {
        case lr: LogicalRelation => lr.relation
      }.collect { case fs: HadoopFsRelation => fs.location }
        .collect { case idx: PartitioningAwareFileIndex => idx }
        .flatMap(_.allFiles().map(s =>
          (s.getPath.toString, s.getLen, s.getModificationTime)))
    // MERGE with inputFiles rather than short-circuiting on the V1
    // index: a plan mixing a V1 scan with another source (DSv2, catalog
    // table) must fingerprint BOTH sides, or a rewrite of the non-V1
    // input would silently keep the old key
    val indexed = fromIndex.map(_._1).toSet
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val extra = df.inputFiles.toSeq.filterNot(indexed).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
    val entries = fromIndex ++ extra
    if (entries.isEmpty) None
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.sorted.foreach { case (p, l, m) =>
        md.update(s"$p|$l|$m;".getBytes("UTF-8"))
      }
      // Mix in the canonicalized plan: two views DERIVED from the same
      // files (a filtered prior vs the full corpus) must not collide
      // under one caller key just because their file listings match.
      // JSON, not toString: treeString elides columns past
      // spark.sql.debug.maxToStringFields (default 25), so wide-schema
      // projections differing only in late fields would stringify — and
      // therefore fingerprint — identically. toJSON is lossless.
      val plan = df.queryExecution.optimizedPlan.canonicalized
      val planBytes =
        try plan.toJSON catch { case _: Throwable => plan.treeString }
      md.update(planBytes.getBytes("UTF-8"))
      Some(md.digest().map("%02x".format(_)).mkString)
    }
  }

  /** The memo-key component for `df`: the content fingerprint, or the
    * no-files sentinel for inputs that cannot be content-keyed. */
  def keyOf(df: DataFrame): String = contentKey(df).getOrElse("nofiles")

  private final class Value(compute: () => Any) {
    lazy val get: Any = compute()
  }

  private val values = new ConcurrentHashMap[String, Value]()

  /** `compute`, run once per process for each `namespace`, content
    * fingerprint of `df` and `params` (a driver-side value: a trained
    * model, a resolved count), and on every call when `df` has no
    * file-backed input. As in the table memo, only a cheap holder is
    * built under the map's lock, so a `compute` may itself memoize. */
  def value[T](namespace: String, df: DataFrame, params: String)(compute: => T): T =
    contentKey(df) match {
      case Some(fp) =>
        values.computeIfAbsent(s"$namespace|$fp|$params", _ => new Value(() => compute))
          .get.asInstanceOf[T]
      case None => compute
    }
}
