package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.PointStore

class StreamingIngestSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  test("streaming ingest: per-batch z-keyed append + stats + split compaction") {
    val src = tmp("stream-src"); val store = tmp("stream-store") + "/store"
    val stats = tmp("stream-stats") + "/stats"; val ckpt = tmp("stream-ckpt")

    val events = spark.read.parquet(sf("sf0.01") + "/events.parquet").limit(3000).cache()
    // stage the first micro-batch before the stream starts
    events.filter(col("event_id") % 3 === 0).write.parquet(s"$src/b0")

    val stream = spark.readStream.schema(events.schema).parquet(s"$src/*")
    val q = StreamingIngest.start(stream, store, stats, ckpt, splitThreshold = 200L)
    try {
      q.processAllAvailable()
      // two more micro-batches arrive
      events.filter(col("event_id") % 3 === 1).write.parquet(s"$src/b1")
      q.processAllAvailable()
      events.filter(col("event_id") % 3 === 2).write.parquet(s"$src/b2")
      q.processAllAvailable()
    } finally q.stop()

    val stored = spark.read.parquet(store)
    // every ingested event is present exactly once
    assert(stored.count() === 3000L)
    assert(stored.select(countDistinct(col("id"))).head().getLong(0) === 3000L)
    // streaming result == batch result through the same derivation
    val batchPts = PointStore.points(events,
      col("event_id"), expr("cast(floor(value*100) as int)"), col("user_id"))
    assert(stored.select(sum(col("zkey"))).head().getLong(0) ===
      batchPts.select(sum(col("zkey"))).head().getLong(0))
    // minor compaction is deferred one batch (replay-marker safety), so
    // flush the final batch's files with one explicit sweep before
    // asserting the invariant
    StreamingIngest.compactOversizedFiles(spark, store, 200L)
    val perFile = spark.read.parquet(store)
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(perFile.max <= 200L, s"oversized file: ${perFile.max}")
    // incremental stats: the deltas sum to the store size, and the
    // adaptive roll-up equals a FULL recompute from the store
    val st = spark.read.parquet(stats)
    assert(st.agg(sum("bucket_size")).head().getLong(0) === 3000L)
    val view = StreamingIngest.adaptiveStatsView(spark, stats, threshold = 200L)
      .select("bucket_key", "prefix_len", "bucket_size")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = PointStore.open(spark, store)
      .adaptiveStats(threshold = 200L, statsDepth = StreamingIngest.StatsDepth)
      .select("bucket_key", "prefix_len", "bucket_size")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(view === full)
    assert(view.nonEmpty)

    // major compaction restores globally disjoint per-file z-ranges
    StreamingIngest.recluster(spark, store, 200L)
    val after = spark.read.parquet(store)
    assert(after.count() === 3000L)
    val ranges = after.groupBy(input_file_name())
      .agg(min("zkey").as("lo"), max("zkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap $hi1 > $lo2")
      case _ =>
    }
  }

  test("stats deltas: replay idempotent, folds bounded, cost tracks the batch") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val stats = tmp("stats-fold") + "/stats"
    def pts(id: Long) = PointStore.points(
      Seq((id, (id % 100).toInt, (id % 50).toInt)).toDF("pid", "px", "py"),
      col("pid"), col("px"), col("py"))
    // 70 one-row batches: maintenance only ever touches the batch and
    // the metadata-scale stats dir — the store is never opened (there
    // is none here, which is itself the proof)
    (0L until 70L).foreach(i => StreamingIngest.mergeBatchStats(spark, pts(i), i, stats))
    def total() = spark.read.parquet(stats).agg(sum("bucket_size")).head().getLong(0)
    assert(total() === 70L)
    // an at-least-once REPLAY of the newest batch overwrites its own
    // delta instead of double-counting
    StreamingIngest.mergeBatchStats(spark, pts(69L), 69L, stats)
    assert(total() === 70L)
    // folding keeps the partition count bounded
    val fs = new Path(stats).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltas = fs.listStatus(new Path(stats)).map(_.getPath.getName)
      .count(_.startsWith("delta="))
    assert(deltas <= 66, s"unbounded deltas: $deltas")
  }

  test("a stats read completes a fold that crashed after moving the table aside") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val stats = tmp("stats-crash") + "/stats"
    val pts = PointStore.points((0L until 400L)
      .map(i => (i, (i * 37 % 1009).toInt, (i * 53 % 997).toInt)).toDF("pid", "px", "py"),
      col("pid"), col("px"), col("py"))
    StreamingIngest.mergeBatchStats(spark, pts.filter(col("id") < 100), 0L, stats)
    // the crash state: the folded table sits complete in the marked
    // scratch, and the live table was already deleted
    val scratch = new Path(stats + ".folding")
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StreamingIngest.batchStats(pts).coalesce(1).write.parquet(s"$scratch/delta=base")
    fs.create(new Path(scratch, "_GRAFT_SWAP_READY")).close()
    fs.delete(new Path(stats), true)
    def view(df: => org.apache.spark.sql.DataFrame) =
      df.select("bucket_key", "prefix_len", "bucket_size").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val folded = view(PointStore.adaptiveStats(pts, threshold = 50L,
      statsDepth = StreamingIngest.StatsDepth))
    assert(view(StreamingIngest.adaptiveStatsView(spark, stats, threshold = 50L)) === folded)
    assert(!fs.exists(scratch) && !fs.exists(new Path(stats, "_GRAFT_SWAP_READY")))
  }

  test("adaptiveStatsView bounds its driver collect: coarsens under the row cap") {
    import spark.implicits._
    val stats = tmp("stats-cap") + "/stats"
    // points spread over the full coordinate domain so the depth-48 fine
    // buckets are ~one per point — the shape that would OOM an uncapped
    // driver collect on a real store
    val df = (0L until 500L)
      .map(i => (i, ((i * 2654435761L) % Int.MaxValue).toInt,
                    ((i * 40503L * 65537L) % Int.MaxValue).toInt))
      .toDF("pid", "px", "py")
    val pts = PointStore.points(df, col("pid"), col("px"), col("py"))
    StreamingIngest.mergeBatchStats(spark, pts, 0L, stats)
    val cap = 64L
    assert(StreamingIngest.fineStats(spark, stats).count() > cap,
      "fixture must exceed the cap at fine depth")
    val capped = StreamingIngest.adaptiveStatsView(
        spark, stats, threshold = 50L, driverRowCap = cap)
      .select("bucket_key", "prefix_len", "bucket_size").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // coarsened (nothing at fine depth), nothing lost
    assert(capped.map(_._2).max < StreamingIngest.StatsDepth)
    assert(capped.map(_._3).sum === 500L)
    // and identical to the batch path under the same cap (shared
    // probe + roll-up)
    val full = PointStore.adaptiveStats(pts, threshold = 50L,
        statsDepth = StreamingIngest.StatsDepth, driverRowCap = cap)
      .select("bucket_key", "prefix_len", "bucket_size").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(capped.toSet === full.toSet)
  }

  test("watermark drops events later than the 1h threshold (append mode)") {
    import spark.implicits._
    val src = tmp("late-src")
    def mk(id: Long, tsNanos: Long, typ: String) =
      Seq((id, tsNanos, 1L, typ, 1.0, "")).toDF(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    // declare the stream schema from the fixture's own vintage (ts: BIGINT
    // nanos) — EventTime.normalize inside hourlyCounts absorbs it, which is
    // the mixed-vintage contract this test exercises
    val schema = mk(0, 0L, "probe").schema
    val h0 = 1704067200000000000L // 2024-01-01 00:00 in nanos

    mk(1, h0 + 1000L, "on_time").write.parquet(s"$src/b0")
    val sdf = spark.readStream.schema(schema).parquet(s"$src/*")
    val q = StreamingIngest.hourlyCounts(sdf).writeStream
      .format("memory").queryName("late_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance event time (and thus the watermark) by 6 hours
      mk(2, h0 + 6L * 3600 * 1000000000L, "advance").write.parquet(s"$src/b1")
      q.processAllAvailable()
      // a late event for the long-closed first hour: beyond the 1h
      // watermark, so it must be dropped
      mk(3, h0 + 2000L, "too_late").write.parquet(s"$src/b2")
      q.processAllAvailable()
      // close the advance window too
      mk(4, h0 + 12L * 3600 * 1000000000L, "flush").write.parquet(s"$src/b3")
      q.processAllAvailable()
    } finally q.stop()

    val byType = spark.table("late_out").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(byType.get("on_time") === Some(1L))   // emitted when window closed
    assert(!byType.contains("too_late"))         // dropped by the watermark
    // the batch twin (no watermark effect in batch) KEEPS the late event
    val batchAll = StreamingIngest.hourlyCounts(
      spark.read.parquet(s"$src/b0").unionByName(spark.read.parquet(s"$src/b2")))
      .collect().map(r => r.getString(1)).toSet
    assert(batchAll.contains("too_late"))
  }

  test("hourly rollup: streaming result equals the batch twin") {
    val src = tmp("roll-src")
    val events = spark.read.parquet(sf("sf0.01") + "/events.parquet").limit(2000).cache()
    events.write.parquet(s"$src/b0")

    val batch = StreamingIngest.hourlyCounts(events).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

    val sdf = spark.readStream.schema(events.schema).parquet(s"$src/*")
    val q = StreamingIngest.hourlyCounts(sdf).writeStream
      .format("memory").queryName("hourly_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hourly_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }
}
