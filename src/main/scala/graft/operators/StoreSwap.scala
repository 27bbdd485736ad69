package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Shared materialized-store lifecycle machinery — the `_READY`-marker
 * crash-atomic tree swap and the base/batch/legacy-flat tree layout
 * that [[PostingsStore]] (text index) and [[VectorStore]] (ANN index)
 * both build on. One implementation, one set of invariants (the README
 * "store contracts" section states them once for every store):
 *
 *  - **READY visibility**: a multi-tree rewrite writes every `.next`
 *    tree fully, THEN creates the marker; readers complete a marked
 *    swap ([[resolve]]) and ignore unmarked `.next` debris — so a crash
 *    at any filesystem step leaves the store either wholly-old or
 *    wholly-new, never mixed.
 *  - **Retire-with-swap**: delta trees a compaction folds (markers,
 *    negative partials) are deleted inside the SAME marked swap, so a
 *    crash can neither double-apply nor lose them.
 *  - **Monotone operation axis**: batch subdirs are `b$op`; the
 *    reserved [[BaseDir]] (build/compact output) and legacy flat root
 *    files are operation 0. As-of reads are pure path selection over
 *    this axis ([[readTreeAsOf]]).
 *  - **Single writer**: the discipline is crash recovery, not
 *    multi-writer coordination — callers sequence mutations.
 */
private[operators] object StoreSwap {

  /** Reserved subdir holding build/compact output inside a tree root —
    * shaped like a batch dir so the folded and batched layouts compose
    * instead of shadowing each other. */
  val BaseDir = "base"

  def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  def livePath(path: String, t: String) = new Path(s"$path/$t")
  def nextPath(path: String, t: String) = new Path(s"$path/$t.next")
  def oldPath(path: String, t: String) = new Path(s"$path/$t.old")
  def markerPath(path: String, marker: String) = new Path(s"$path/$marker")

  /** Complete a marker-announced swap, per tree and idempotently: move
    * live aside, promote `.next`, drop the `.old`. Each step only fires
    * from the state the previous one leaves, so re-running after a
    * crash at ANY point finishes exactly the remaining steps. A tree
    * with no `.next` is left as-is (a compaction may rewrite a subset
    * of the trees). `retire` trees are deleted last, still under the
    * marker — their content is folded into the promoted trees, so they
    * must not survive the swap (a leftover negative partial would
    * double-subtract). */
  def completeSwap(fs: FileSystem, path: String, trees: Seq[String],
                   retire: Seq[String], marker: String): Unit = {
    trees.foreach { t =>
      val (live, next, old) = (livePath(path, t), nextPath(path, t), oldPath(path, t))
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
    retire.foreach(t => fs.delete(livePath(path, t), true))
    fs.delete(markerPath(path, marker), false)
    ()
  }

  /** Converge a crash-interrupted rewrite: with the marker present the
    * `.next` trees are complete, so finish the swap; without it any
    * `.next` debris is an unfinished build and the live trees are
    * authoritative. Called by every read AND every mutation entry
    * point — a mutation that skipped it could write into a live tree
    * the next resolve's swap deletes (the r18 `appendBatch` window). */
  def resolve(fs: FileSystem, path: String, trees: Seq[String],
              retire: Seq[String], marker: String): Unit =
    if (fs.exists(markerPath(path, marker)))
      completeSwap(fs, path, trees, retire, marker)

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
