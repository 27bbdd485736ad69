package graft.perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.PointStore
import graft.perfbench.Gen.Points
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.IngestLayout
import graft.zorder.IntRange

/**
 * The write phase of `point_store`: writes beside reads. Seeded batch
 * files are staged in order and ingested into the served 2-D store by
 * `StreamingIngest.start` (one file per trigger, run to
 * `processAllAvailable`), with the stats deltas on. While the stream
 * runs, one reader client runs a closed loop of range counts and kNN
 * ([[FreshReads]] of them); each answer must equal the brute-force
 * answer over the base rows plus the first b committed batches for some
 * b, and a read that throws is a failed operation. Then the
 * maintenance: the split compaction, the adaptive stats view, a
 * recluster, alternating equality and range takedowns (every second one
 * followed by a read of `live`), a snapshot read and one
 * `compactDeletes`; the final live view must equal the generator's puts
 * minus the takedowns.
 */
object PointIngest {
  val BatchRows = 10000
  val Batches = 2
  val Takedowns = 2
  /** Reads the reader makes beside the stream, alternating range count
    * and kNN (it waits for the stream when done first). */
  val FreshReads = 8
  /** Above the base store's file size (so the base is never split) and
    * below a batch, so a batch written as one file is split. */
  val SplitThreshold: Long = 8000
  /** The stream's own split threshold: no file reaches it, and the split
    * compaction runs after the stream as a maintenance step. The engine
    * gives readers no isolation from a split that deletes a file they
    * have listed, so with the stream splitting at [[SplitThreshold]] a
    * read beside it fails with `FAILED_READ_FILE.FILE_NOT_EXIST` in
    * about half the runs. */
  val StreamThreshold: Long = Long.MaxValue
  val SeqCols = Seq("put_seq")
  private val Schema = "id long, x int, y int, put_seq long"
  private val Domain = PointQuery.Domain2
  private val Clusters = PointQuery.Clusters

  private def layout(write: (DataFrame, String, Int) => Unit) = IngestLayout("zkey",
    b => PointStore.points(b, col("id"), col("x"), col("y"), Seq(col("put_seq"))), write)

  def batch(seed: Long, b: Int, idBase: Long): Points =
    Gen.ingestBatch(seed, b, BatchRows, Domain, Clusters, idBase)

  /** Write batch b as `batch-<b>.parquet` with increasing modification
    * times, so the file source takes them in batch order. */
  def stage(spark: SparkSession, seed: Long, idBase: Long, dir: String): Unit = {
    import spark.implicits._
    val tmp = s"$dir.tmp"
    spark.sparkContext.parallelize(1 to Batches, Batches).flatMap { b =>
      val p = batch(seed, b, idBase)
      p.ids.indices.iterator.map(i => (p.ids(i), p.xs(i), p.ys(i), b.toLong))
    }.toDF("id", "x", "y", "put_seq").write.parquet(tmp)
    val parts = new java.io.File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == Batches, s"expected $Batches staged files, got ${parts.length}")
    new java.io.File(dir).mkdirs()
    val base = System.currentTimeMillis() - Batches * 1000L
    parts.zipWithIndex.foreach { case (f, i) =>
      val dest = new java.io.File(dir, f"batch-${i + 1}%05d.parquet")
      require(f.renameTo(dest), s"cannot stage $f")
      dest.setLastModified(base + i * 1000L)
    }
    Run.deleteRecursively(new java.io.File(tmp))
  }

  /** Ingest the staged batches at `src` into the store at `storePath`,
    * whose rows before the phase are `base` (all with sequence 0), then
    * run the maintenance. Returns the rows the store holds after it. */
  def run(ctx: Ctx, out: Outcome, src: String, storePath: String, statsPath: String,
          checkpoint: String, base: Points): Points = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val nb = Batches
    // every put in sequence order: the base, then batch 1, 2, ...
    val puts = base ++ Gen.concat((1 to nb).map(b => batch(ctx.seed, b, base.size)))
    def prefix(b: Int): Int = base.size + b * BatchRows
    val centres = Gen.centres2(ctx.seed, Clusters, Domain)
    val r = Gen.rng(ctx.seed, 200, 0)

    def window(sel: Double): (IntRange, IntRange) = {
      val c = centres(r.nextInt(Clusters))
      val side = Domain * math.sqrt(sel)
      def rng(v: Int) = {
        val mid = v + r.nextGaussian() * Domain / 256.0
        val lo = math.max(0L, math.round(mid - side / 2)).toInt
        IntRange(lo, math.max(lo, math.min(Domain - 1L, math.round(mid + side / 2)).toInt))
      }
      (rng(c(0)), rng(c(1)))
    }

    // ---- ingest: the stream in one thread, the reader in this one
    val events = spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).parquet(src)
    val query = new AtomicReference[StreamingQuery]()
    val done = new AtomicBoolean(false)
    val streamLayout = layout((pts, path, parts) =>
      tr.span("PointStore.append")(PointStore.write(pts, path, parts)))
    val ingestThread = new Thread(() => {
      try Run.timed(ctx, out, "ingest", read = false) {
        val q = tr.span("StreamingIngest.start")(StreamingIngest.start(events, storePath,
          statsPath, checkpoint, StreamThreshold, streamLayout))
        query.set(q)
        q.processAllAvailable()
      } finally done.set(true)
    }, "perfbench-ingest")
    def committed: Int = Option(query.get).flatMap(q => Option(q.lastProgress))
      .map(_.batchId.toInt + 1).getOrElse(0)

    final case class Fresh(rect: Option[(IntRange, IntRange)], q: Array[Int], k: Int,
                           lo: Int, hi: Int, ans: Any)
    val fresh = mutable.ArrayBuffer.empty[Fresh]
    ingestThread.start()
    var turn = 0
    while (turn < FreshReads) {
      val lo = committed
      if (turn % 2 == 0) {
        val (rx, ry) = window(PointQuery.logStratified(r, 1e-3, 1e-1, turn / 2, FreshReads / 2))
        Run.timed(ctx, out, "fresh_range", read = true) {
          val df = tr.span("PointStore.open")(PointStore.open(spark, storePath).df)
          val n = PointStore.rangeQuery(df, rx, ry).agg(count(lit(1))).head().getLong(0)
          tr.value("rows_returned", n.toDouble)
          n
        }.foreach(n => fresh += Fresh(Some((rx, ry)), null, 0, lo, committed + 1, n))
      } else {
        val q = Array(r.nextInt(Domain), r.nextInt(Domain))
        val k = if (turn % 4 == 1) 10 else 100
        Run.timed(ctx, out, "fresh_knn", read = true) {
          val df = tr.span("PointStore.open")(PointStore.open(spark, storePath).df)
          val res = tr.span("PointStore.knn_probe")(PointStore.knn(df, q(0), q(1), k))
          val rows = res.select("dist2", "id").collect()
            .map(w => (w.getLong(0), w.getLong(1))).toSeq
          tr.value("rows_returned", rows.size.toDouble)
          rows
        }.foreach(rows => fresh += Fresh(None, q, k, lo, committed + 1, rows))
      }
      turn += 1
    }
    ingestThread.join()
    Option(query.get).foreach(_.stop())
    out.check(committed == nb, s"stream committed $committed of $nb batches")
    out.figures("ingest_rows_per_s") = nb.toLong * BatchRows / (out.latencyMs("ingest").sum / 1000.0)

    // ---- maintenance
    val plainLayout = layout((pts, path, parts) => PointStore.write(pts, path, parts))
    val store = PointStore.open(spark, storePath)
    Run.timed(ctx, out, "split", read = false) {
      tr.span("StreamingIngest.compactOversizedFiles")(StreamingIngest.compactOversizedFiles(
        spark, storePath, SplitThreshold, layout = plainLayout))
    }
    Run.timed(ctx, out, "stats_view", read = false) {
      tr.span("StreamingIngest.adaptiveStatsView")(
        StreamingIngest.adaptiveStatsView(spark, statsPath, BatchRows.toLong)
          .agg(sum("bucket_size")).head().getLong(0))
    }.foreach(n => out.check(n == nb * BatchRows, s"stats view counts $n streamed rows"))
    Run.timed(ctx, out, "recluster", read = false) {
      tr.span("StreamingIngest.recluster")(
        StreamingIngest.recluster(spark, storePath, 4L * BatchRows, plainLayout))
    }

    val alive = Array.fill(puts.size)(true)
    val killedAt = mutable.ArrayBuffer.empty[(Long, Seq[Int])] // (marker seq, indices)
    def aliveIn(rx: IntRange, ry: IntRange): Seq[Int] =
      puts.xs.indices.filter(i => alive(i) && rx.include(puts.xs(i)) && ry.include(puts.ys(i)))
    import spark.implicits._
    for (t <- 1 to Takedowns) {
      val seq = nb.toLong + t
      if (t % 2 == 1) {
        val idx = Iterator.continually(r.nextInt(puts.size)).filter(i => alive(i)).take(5).toSeq.distinct
        val markers = idx.map(i => (puts.ids(i), puts.xs(i), puts.ys(i), seq))
          .toDF("id", "x", "y", "put_seq")
        Run.timed(ctx, out, "takedown_eq", read = false) {
          tr.span("PointStore.delete")(store.delete(markers))
          tr.span("PointStore.live")(store.live(SeqCols))
            .filter(col("id").isin(idx.map(puts.ids(_)): _*)).count()
        }.foreach(n => out.check(n == 0, s"equality takedown $t still serves $n rows"))
        idx.foreach(alive(_) = false)
        killedAt += ((seq, idx))
      } else {
        val (rx, ry) = window(1e-4)
        val markers = Seq((rx.min, rx.max, ry.min, ry.max, seq))
          .toDF("xmin", "xmax", "ymin", "ymax", "put_seq")
        Run.timed(ctx, out, "takedown_range", read = false) {
          tr.span("PointStore.deleteRange")(store.deleteRange(markers))
          PointStore.rangeQuery(tr.span("PointStore.live")(store.live(SeqCols)), rx, ry).count()
        }.foreach(n => out.check(n == 0, s"range takedown $t still serves $n rows"))
        val idx = aliveIn(rx, ry)
        idx.foreach(alive(_) = false)
        killedAt += ((seq, idx))
        val (wx, wy) = window(PointQuery.logStratified(r, 1e-3, 1e-1, t / 2, 1))
        Run.timed(ctx, out, "live_read", read = true) {
          val n = PointStore.rangeQuery(tr.span("PointStore.live")(store.live(SeqCols)), wx, wy).count()
          tr.value("rows_returned", n.toDouble)
          n
        }.foreach(n => out.check(n == aliveIn(wx, wy).size, s"live read after takedown $t: $n rows"))
      }
    }
    val bound = nb.toLong + Takedowns / 2
    Run.timed(ctx, out, "snapshot", read = true) {
      val n = store.snapshotAsOf(SeqCols, Seq(lit(bound))).count()
      tr.value("rows_returned", n.toDouble)
      n
    }.foreach { n =>
      val dead = killedAt.filter(_._1 <= bound).flatMap(_._2).distinct.size
      out.check(n == puts.size - dead, s"snapshot as of $bound: $n rows, want ${puts.size - dead}")
    }
    Run.timed(ctx, out, "compact", read = false) {
      tr.span("PointStore.compactDeletes")(store.compactDeletes(SeqCols, PointQuery.Files2))
    }
    out.figures("maintenance_s") =
      Seq("split", "stats_view", "recluster", "compact").flatMap(out.latencyMs).sum / 1000.0

    // ---- oracles, outside the timed operations
    fresh.foreach { f =>
      val hi = math.min(f.hi, nb)
      val ok = f.rect match {
        case Some((rx, ry)) => Stats.legalPrefix(f.ans, f.lo, hi)(b =>
          Brute.count2(puts, rx.min, rx.max, ry.min, ry.max, upto = prefix(b)))
        case None => Stats.legalPrefix(f.ans, f.lo, hi)(b =>
          Brute.knn(puts, f.q, f.k, upto = prefix(b)))
      }
      out.check(ok.isDefined, s"fresh read (${f.rect.getOrElse(f.q.mkString(","))}) " +
        s"matches no committed prefix in ${f.lo}..$hi")
    }
    val fin = store.live(SeqCols).agg(count(lit(1)), sum("id")).head()
    val wantIds = puts.ids.indices.filter(i => alive(i)).map(puts.ids(_))
    out.check(fin.getLong(0) == wantIds.size && fin.getLong(1) == wantIds.sum,
      s"final live view: ${fin.getLong(0)} rows, want ${wantIds.size}")
    puts.filterIndex(alive(_))
  }
}
