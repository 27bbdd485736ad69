package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, MapType}

/**
 * The one store-lifecycle core: the marker-guarded swap every store
 * rewrite goes through, the READY-announced marker batches, the
 * versioned-marker operation axis and the base/batch/legacy-flat tree
 * layout. [[PointStore]]'s fold, [[PostingsStore]] and [[VectorStore]]
 * build and compact, and the streaming stats table's fold and rebuild
 * supply only their paths, marker names and kill key.
 * `StreamingIngest.recluster` keeps its own completion: it must
 * preserve files published after its snapshot. The README "Store
 * lifecycle contracts" section states the invariants once:
 *
 *  - **READY visibility**: a rewrite writes every `.next` tree fully,
 *    THEN creates the swap's marker; a marker batch is announced by its
 *    READY file, written last. A crash at any filesystem step leaves
 *    the store either wholly-old or wholly-new, never mixed.
 *  - **Converge on access**: every read and every mutation completes a
 *    marked swap first ([[resolve]]). A converging read never deletes
 *    unmarked `.next` debris — a writer may still be building it; only
 *    the next rewrite's [[begin]] discards it.
 *  - **Retire-with-swap**: delta trees a rewrite folds (markers,
 *    negative partials, tombstones) are deleted inside the SAME marked
 *    swap, so a crash can neither double-apply nor lose them.
 *  - **Monotone operation axis**: batch subdirs are `b$op`; the
 *    reserved [[BaseDir]] (build/compact output) and legacy flat root
 *    files are operation 0. As-of reads are pure path selection over
 *    this axis ([[readTreeAsOf]], [[Batches.ready]]).
 *  - **Single writer**: the discipline is crash recovery, not
 *    multi-writer coordination — callers sequence mutations. A
 *    converging read is itself a completer, so a read must not overlap
 *    the completion of a rewrite of the same store.
 */
private[graft] object StoreSwap {

  /** Reserved subdir holding build/compact output inside a tree root —
    * shaped like a batch dir so the folded and batched layouts compose
    * instead of shadowing each other. */
  val BaseDir = "base"

  def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** One marker-guarded swap: each `next` tree replaces its `live`
    * tree, the `retire` trees go, and `marker` announces that every
    * `next` tree is complete. A marker inside a `next` tree moves with
    * it, so its copy under the promoted live tree announces the swap
    * too. */
  final case class Swap(trees: Seq[(Path, Path)], retire: Seq[Path], marker: Path) {
    def markers: Seq[Path] = marker +: trees.collect {
      case (live, next) if marker.getParent == next => new Path(live, marker.getName)
    }
    /** Every path the swap may leave on disk. */
    def paths: Seq[Path] =
      trees.flatMap { case (live, next) => Seq(live, next, live.suffix(".old")) } ++ retire
  }

  /** A single-tree swap: the scratch sibling `<live>.folding` replaces
    * `live`, announced by the marker `name` inside it. */
  def folding(live: Path, name: String, retire: Seq[Path] = Nil): Swap = {
    val scratch = live.suffix(".folding")
    Swap(Seq((live, scratch)), retire, new Path(scratch, name))
  }

  /** Start a rewrite: complete a marked swap, then discard every
    * unmarked `next` tree (an unfinished earlier rewrite). */
  def begin(fs: FileSystem, sw: Swap): Unit = {
    resolve(fs, sw)
    sw.trees.foreach { case (_, next) => fs.delete(next, true) }
  }

  /** Announce the fully written `next` trees, then complete the swap. */
  def commit(fs: FileSystem, sw: Swap): Unit = {
    fs.create(sw.marker).close()
    complete(fs, sw)
  }

  /** Complete an announced swap, per tree: move live aside to `.old`,
    * promote `next`, drop `.old`. Each step only fires from the state
    * the previous one leaves, so re-running after a crash at ANY point
    * finishes exactly the remaining steps. A tree with no `next` is
    * left as-is (a compaction may rewrite a subset of the trees). The
    * `retire` trees are deleted last, still under the marker — their
    * content is folded into the promoted trees, so they must not
    * survive the swap (a leftover negative partial would
    * double-subtract). */
  def complete(fs: FileSystem, sw: Swap): Unit = {
    sw.trees.foreach { case (live, next) =>
      val old = live.suffix(".old")
      if (fs.exists(next)) {
        if (fs.exists(live)) {
          fs.delete(old, true)              // stale .old from a doubly-crashed swap
          if (!fs.rename(live, old))
            throw new java.io.IOException(s"store swap: $live -> $old failed")
        }
        if (!fs.rename(next, live))
          throw new java.io.IOException(s"store swap: $next -> $live failed")
      }
      fs.delete(old, true)
    }
    sw.retire.foreach(fs.delete(_, true))
    sw.markers.foreach(fs.delete(_, false))
  }

  /** Converge a crash-interrupted rewrite: with the marker present the
    * `next` trees are complete, so finish the swap; without it the live
    * trees are authoritative and any `next` debris is left alone.
    * Called by every read AND every mutation entry point — a mutation
    * that skipped it could write into a live tree the next resolve
    * moves aside and deletes. */
  def resolve(fs: FileSystem, sw: Swap): Unit =
    if (sw.markers.exists(fs.exists)) complete(fs, sw)

  /** Delete each path, recursively (the stores' `drop` verb). */
  def drop(s: SparkSession, paths: Path*): Unit =
    paths.foreach(p => p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true))

  /** The file that announces a marker batch, written last. */
  val BatchReady = "_GRAFT_DELETE_READY"

  /** READY-announced marker batches `root/<prefix><id>` (takedowns
    * `deletes/d$id`, term purges `termpurges/t$id`). */
  final case class Batches(root: String, prefix: String) {

    /** Names of the batch dirs holding [[BatchReady]] with id ≤
      * `bound` — the only batches any read may see. */
    def ready(s: SparkSession, bound: Long): Seq[String] = {
      val dir = new Path(root)
      val fs = fsOf(s, root)
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(prefix) &&
          n.drop(prefix.length).toLongOption.exists(_ <= bound) &&
          fs.exists(new Path(dir, s"$n/$BatchReady")))
    }

    /** The READY batches with id ≤ `bound` as one relation. */
    def read(s: SparkSession, bound: Long): Option[DataFrame] =
      readDirs(s, root, ready(s, bound))

    /** Write batch `id` once: `write` gets the batch dir and runs only
      * while that dir holds no READY file, which lands after it. A
      * replay of an announced id is a no-op — rewriting it would delete
      * the READY file first and un-publish the applied batch — and a
      * batch that crashed mid-write stays invisible. */
    def announceOnce(fs: FileSystem, id: Long)(write: String => Unit): Unit = {
      val dir = s"$root/$prefix$id"
      val ready = new Path(dir, BatchReady)
      if (!fs.exists(ready)) {
        write(dir)
        fs.create(ready).close()
      }
    }
  }

  /** The named dirs under `root` as ONE multi-path relation — a union
    * of one read per dir would bill every read O(#dirs) in plan size
    * and file listings. */
  def readDirs(s: SparkSession, root: String, names: Seq[String]): Option[DataFrame] =
    Option.when(names.nonEmpty)(ParquetFooters.readParquet(s, names.map(n => s"$root/$n"): _*))

  /** Pre-versioning rows and markers carry no `op` column; they are all
    * operation 0 — the versioned semantics degrade to exactly the old
    * permanent-takedown behaviour. */
  def withOp(df: DataFrame): DataFrame =
    if (df.columns.contains("op")) df else df.withColumn("op", lit(0L))

  /** Kill every row VERSION a marker shadows: a row is dead iff some
    * marker matches its `key` with marker.op ≥ row.op — so a key
    * re-added under a LATER op than its takedown serves again (the
    * re-crawl / re-embed lifecycle), while earlier versions stay dead.
    * A null key or a null op matches no marker.
    *
    * The markers are read through the driver-side row cache, a cold
    * read decoding their files on the driver
    * ([[ParquetFooters.collectSmall]]), so a store open submits no job
    * for them, and folded to key → latest marker op. Up
    * to [[InlineMarkerCap]] keys (of the rows' key type) the fold is one
    * map literal, a row dies iff `key IN keys(m) AND op <= m[key]`, and
    * the store side needs no join; above it the same collected rows
    * broadcast into an anti-join. The store side never shuffles. */
  def killVersions(rows: DataFrame, markers: Option[DataFrame], key: String): DataFrame = {
    val raw = withOp(rows)
    markers.fold(raw) { m0 =>
      val m = withOp(m0).select(col(key).as("__del_key"), col("op").cast("long").as("__del_op"))
      val marks = ParquetFooters.collectSmall(m)
      val latest = marks.iterator.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
        .map(r => r.get(0) -> r.getLong(1)).toSeq.groupMapReduce(_._1)(_._2)(math.max)
      val keyType = m.schema(0).dataType
      if (latest.isEmpty) raw
      else if (latest.size <= InlineMarkerCap && raw.schema(key).dataType == keyType) {
        val opOf = Bridge.column(Literal.create(latest, MapType(keyType, LongType, valueContainsNull = false)))
        // the hashed key test first: a map literal's lookup is a scan of its keys
        raw.filter(!(raw(key).isInCollection(latest.keys) && coalesce(raw("op") <= opOf(raw(key)), lit(false))))
      } else
        raw.join(broadcast(rows.sparkSession.createDataFrame(marks.toSeq.asJava, m.schema)),
          raw(key) === col("__del_key") && raw("op") <= col("__del_op"), "left_anti")
    }
  }

  /** Above this many marked keys a marker set is not inlined as a plan
    * literal — every task would carry it — and broadcasts instead. */
  private val InlineMarkerCap = 1000

  /** The lifecycle of a base/batch index store at `path`
    * ([[PostingsStore]], [[VectorStore]]): the data `trees` build and
    * compact swap, the marker `retire` trees a compaction folds, and
    * the column its `deletes/d$id` takedown markers kill. */
  final case class IndexStore(trees: Seq[String], retire: Seq[String], killKey: String) {

    def swap(path: String): Swap = Swap(
      trees.map(t => (new Path(s"$path/$t"), new Path(s"$path/$t.next"))),
      retire.map(t => new Path(s"$path/$t")),
      new Path(s"$path/_GRAFT_COMPACT_READY"))

    def deletes(path: String): Batches = Batches(s"$path/deletes", "d")

    /** `path/tree` as of operation `bound` (every source at
      * `Long.MaxValue`), after converging the store. */
    def tree(s: SparkSession, path: String, tree: String, bound: Long): DataFrame = {
      resolve(fsOf(s, path), swap(path))
      readTreeAsOf(s, treeSources(s, path, tree), s"$path/$tree", bound)
    }

    /** [[tree]] minus the versions the READY takedown markers with id ≤
      * `bound` shadow. */
    def live(s: SparkSession, path: String, tree: String, bound: Long): DataFrame =
      killVersions(this.tree(s, path, tree, bound), deletes(path).read(s, bound), killKey)

    /** Has the BUILD corpus drifted from the identity `path/meta`
      * recorded? The store's own mutations do not count; upstream drift
      * of the corpus a caller would rebuild from does. File-backed
      * corpora compare the full listing+plan fingerprint
      * ([[TableMemo.contentKey]] — catches rewrites in place, added
      * files, and a different derivation over the same files);
      * in-memory corpora degrade to a row-count compare (weaker: a
      * same-size content swap passes). A store without a meta tree is
      * stale — unknown provenance is stale by definition. */
    def isStale(s: SparkSession, path: String, corpus: DataFrame): Boolean = {
      resolve(fsOf(s, path), swap(path))
      val srcs = treeSources(s, path, "meta")
      srcs.isEmpty || {
        val m = ParquetFooters.collectSmall(
          readTree(s, srcs, s"$path/meta").select("n_rows", "fingerprint"))(0)
        val (n0, fp0) = (m.getLong(0), m.getString(1))
        val fpNow = TableMemo.contentKey(corpus).getOrElse("")
        if (fp0.nonEmpty && fpNow.nonEmpty) fpNow != fp0 else corpus.count() != n0
      }
    }
  }

  /** One data source of a store tree: `op` its operation id for as-of
    * bounds, `key` its logical identity for sidecar-coverage compare
    * (`base`, `b$id`, or `""` for flat root files), `absPath` what the
    * reader opens. */
  final case class TreeSrc(op: Long, key: String, absPath: String)

  /** Every data source of `path/tree`: the reserved [[BaseDir]]
    * (build/compact output) and each `b$id` batch dir, PLUS any flat
    * files at the tree root (a store written before the base-dir
    * layout) — so a compacted base that later receives appends, or a
    * flat legacy store that does, serves the UNION of everything on
    * disk. Base and flat files are operation 0 (always inside an as-of
    * bound). */
  def treeSources(s: SparkSession, path: String, tree: String): Seq[TreeSrc] = {
    val root = new Path(s"$path/$tree")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n == BaseDir)
        Some(TreeSrc(0L, n, st.getPath.toString))
      else if (st.isDirectory && n.startsWith("b"))
        Some(TreeSrc(n.drop(1).toLong, n, st.getPath.toString))
      else if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
        Some(TreeSrc(0L, "", st.getPath.toString))
      else None
    }
  }

  /** One read over a tree's sources; an empty source list reads the
    * tree root so a missing store raises the standard path-not-found
    * error.
    *
    * MIXED-ERA SCHEMAS: sources written before the versioned-marker
    * layout carry no `op` column, and a single multi-path read takes
    * its schema from ONE footer — either dropping `op` everywhere
    * (every row then stamps op 0 and one marker kills re-indexed
    * versions) or reading legacy rows as op NULL (which an
    * `op <= marker` predicate never matches: takedowns silently keep
    * serving the legacy layer). So sources are grouped by op-presence
    * (one cached driver-side footer read per source and no Spark job —
    * sources are few by the compaction contract, and single-source reads
    * skip the probe),
    * legacy rows get their contractual `op = 0`, and the groups union
    * by name. */
  def readTree(s: SparkSession, srcs: Seq[TreeSrc], root: String): DataFrame = {
    if (srcs.isEmpty) ParquetFooters.readParquet(s, root)
    else if (srcs.size == 1) ParquetFooters.readParquet(s, srcs.head.absPath)
    else {
      val (versioned, legacy) = srcs.partition(src =>
        ParquetFooters.readParquet(s, src.absPath).schema.fieldNames.contains("op"))
      if (versioned.isEmpty || legacy.isEmpty)
        ParquetFooters.readParquet(s, srcs.map(_.absPath): _*)
      else
        ParquetFooters.readParquet(s, versioned.map(_.absPath): _*)
          .unionByName(ParquetFooters.readParquet(s, legacy.map(_.absPath): _*)
            .withColumn("op", lit(0L)))
    }
  }

  /** [[readTree]] restricted to sources with op id ≤ `bound` (empty
    * result — not an error — when the bound precedes every source). */
  def readTreeAsOf(s: SparkSession, srcs: Seq[TreeSrc], root: String,
                   bound: Long): DataFrame = {
    val in = srcs.filter(_.op <= bound)
    if (srcs.isEmpty) ParquetFooters.readParquet(s, root)
    else if (in.isEmpty) readTree(s, srcs, root).limit(0)
    else readTree(s, in, root)
  }
}
