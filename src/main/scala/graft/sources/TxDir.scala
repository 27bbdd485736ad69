package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Poor-man's transactional file publishing for a parquet directory —
 * enough to make streaming ingest and compaction CRASH-CONVERGENT
 * without a full table format:
 *
 * a unit of work (one micro-batch, one file split) publishes its output
 * files under deterministic names `<prefix>-<i>-of-<n>.parquet`. A
 * replay can then decide exactly what happened:
 *
 *  - complete set present  → the work finished; only cleanup remains;
 *  - partial set present   → the work died mid-publish; delete the
 *    partial set and redo (outputs are deterministic, so redo is safe);
 *  - nothing present       → redo from scratch.
 *
 * Single-writer assumption (one maintenance/ingest job per store), the
 * same assumption every file-layout table format makes per commit.
 */
object TxDir {

  /** A published file name `<prefix>-<i>-of-<n>.parquet` as (prefix, i, n). */
  object Name {
    private val Pattern = """(.+)-(\d+)-of-(\d+)\.parquet""".r
    def unapply(name: String): Option[(String, Int, Int)] = name match {
      case Pattern(pfx, i, n) => Some((pfx, i.toInt, n.toInt))
      case _ => None
    }
  }

  /** Move every data file of `scratch` into `dest` under the prefix,
    * then return the published file names. Call only after the scratch
    * content is fully written. Rename failures throw — silently
    * dropping a batch is never acceptable — and the scratch dir is only
    * removed once every rename succeeded. */
  def publish(fs: FileSystem, scratch: Path, dest: Path, prefix: String): Seq[String] = {
    val parts = fs.listStatus(scratch).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val n = parts.length
    fs.mkdirs(dest) // HDFS rename into a missing parent returns false
    val names = parts.zipWithIndex.map { case (p, i) =>
      val target = new Path(dest, s"$prefix-$i-of-$n.parquet")
      if (!fs.rename(p, target))
        throw new java.io.IOException(s"TxDir.publish: rename $p -> $target failed")
      target.getName
    }
    fs.delete(scratch, true)
    names.toSeq
  }

  /** Is a complete `<prefix>-*-of-n` set present in `dest`? */
  def isComplete(fs: FileSystem, dest: Path, prefix: String): Boolean =
    completePrefixes(allSets(fs, dest))(prefix)

  /** Remove an incomplete published set (no-op when complete or absent). */
  def cleanPartial(fs: FileSystem, dest: Path, prefix: String): Unit =
    completeOrClean(fs, dest, prefix)

  /** The file names of `prefix`'s set when it is complete; otherwise
    * None, after removing whatever partial set is present. One listing:
    * the replay decision of a unit of work. */
  def completeOrClean(fs: FileSystem, dest: Path, prefix: String): Option[Seq[String]] = {
    val sets = allSets(fs, dest)
    val mine = sets.getOrElse(prefix, Nil).map(_._1)
    if (completePrefixes(sets)(prefix)) Some(mine)
    else {
      mine.foreach(n => fs.delete(new Path(dest, n), false))
      None
    }
  }

  /** ONE-LISTING view of every published set in `dest`: prefix → member
    * (name, i, n) triples. Maintenance sweeps that touch many prefixes
    * list once through this rather than once per prefix. */
  def allSets(fs: FileSystem, dest: Path): Map[String, Seq[(String, Int, Int)]] =
    if (!fs.exists(dest)) Map.empty
    else sets(fs.listStatus(dest).map(_.getPath.getName).toSeq)

  /** The published sets among the file names `names`, as [[allSets]]
    * groups them: for a caller that already listed the directory. */
  def sets(names: Seq[String]): Map[String, Seq[(String, Int, Int)]] =
    names.collect { case n @ Name(pfx, i, c) => (pfx, (n, i, c)) }.groupMap(_._1)(_._2)

  /** The complete sets among [[allSets]] output: all members agree on n
    * and exactly 0..n-1 are present (a stale file from an older
    * generation that a failed delete left behind must not validate a
    * newer partial set). */
  def completePrefixes(sets: Map[String, Seq[(String, Int, Int)]]): Set[String] =
    sets.collect { case (pfx, members) if {
      val n = members.head._3
      members.forall(_._3 == n) && members.length == n &&
        members.map(_._2).distinct.sorted == (0 until n).toList
    } => pfx }.toSet
}
