package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DataQuality, Html, Perceptron, PointStore, TextAnalysis}
import graft.streaming.StreamingIngest
import graft.zorder.IntRange

/**
 * Streaming-mode parity gate: the ONLINE ingest loop itself — the real
 * `foreachBatch` path with two-phase publishing, per-batch stats deltas
 * and footer-probed compaction ([[StreamingIngest.start]]) — runs
 * against the events table as a file stream, and the resulting
 * z-clustered store answers a rectangle aggregate. The oracle is plain
 * SQL over the SOURCE table: the gate therefore proves end-to-end that
 * streaming ingest loses nothing, duplicates nothing, and the stored
 * derivation matches the batch definition (exactly-once net effect of
 * the at-least-once machinery). Sums over id/x/y pin the exact row
 * multiset, not just the count.
 */
object StreamingQueries {

  // same rectangle the batch range queries use (PointQueries)
  private val RX = IntRange(10000, 30000)
  private val RY = IntRange(40, 110)
  // same time window as the batch range_query_3d gate
  private val RT3 = IntRange(500, 300000)

  /** The streaming gates, each run bound to its [[streamSession]] clone
    * (the staging/read-back batch work inside the gates is tiny —
    * coalesced writes and final aggregates — so it runs there too). */
  lazy val gates: Seq[Gate] = Seq(
    Gate("stream_ingest_range", (s, dir) => {
      import org.apache.hadoop.fs.{FileUtil, Path}
      // the file stream source wants a DIRECTORY to watch; the source
      // table may itself be a file OR a directory-shaped parquet dataset
      // — FileUtil.copy handles both recursively (a bare Files.copy of a
      // directory would copy an empty dir and the gate would silently
      // compare an empty store)
      val tmp = Files.createTempDirectory("graft-stream-gate").toString
      val conf = s.sparkContext.hadoopConfiguration
      val src = new Path(s"$dir/events.parquet")
      val fs = src.getFileSystem(conf)
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      FileUtil.copy(fs, src, fs, new Path(s"$tmp/in/events.parquet"), false, conf)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema).parquet(s"$tmp/in")
      val q = StreamingIngest.start(stream, s"$tmp/store", s"$tmp/stats",
        s"$tmp/ckpt", splitThreshold = 100000L)
      try q.processAllAvailable() finally q.stop()
      val agg = PointStore.rangeQuery(s.read.parquet(s"$tmp/store"), RX, RY)
        .agg(count(lit(1)).as("cnt"), sum(col("id")).as("id_sum"),
          sum(col("x").cast("long")).as("x_sum"),
          sum(col("y").cast("long")).as("y_sum"))
      // evaluate EAGERLY so the full temp tree (store copy, checkpoint)
      // can be deleted before returning — no gate run may leave a
      // store-sized copy in /tmp
      val rows = agg.collect().toSeq
      val outSchema = agg.schema
      fs.delete(new Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      s"""SELECT CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(event_id) AS BIGINT) AS id_sum,
  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS x_sum,
  CAST(sum(user_id) AS BIGINT) AS y_sum
FROM events
WHERE CAST(floor(value*100) AS INT) BETWEEN ${RX.min} AND ${RX.max}
  AND user_id BETWEEN ${RY.min} AND ${RY.max}"""),

    // The same online ingest loop over the 3-D OCTREE layout
    // (StreamingIngest.EventsLayout3D): foreachBatch two-phase publish,
    // z3-keyed stats deltas and z3-footer compaction probes, then a
    // spatio-temporal box aggregate over the resulting store vs plain
    // SQL on the source — proves the whole put path is key-agnostic and
    // the spatio-temporal store has the same online write surface as
    // the 2-D store (the reference's put path, lifted).
    Gate("stream_ingest_box3", (s, dir) => {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val tmp = Files.createTempDirectory("graft-stream-gate3").toString
      val conf = s.sparkContext.hadoopConfiguration
      val src = new Path(s"$dir/events.parquet")
      val fs = src.getFileSystem(conf)
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      FileUtil.copy(fs, src, fs, new Path(s"$tmp/in/events.parquet"), false, conf)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema).parquet(s"$tmp/in")
      val q = StreamingIngest.start(stream, s"$tmp/store", s"$tmp/stats",
        s"$tmp/ckpt", splitThreshold = 100000L,
        layout = StreamingIngest.EventsLayout3D)
      try q.processAllAvailable() finally q.stop()
      val agg = graft.operators.SpatioTemporal
        .rangeQuery3(s.read.parquet(s"$tmp/store"), RX, RY, RT3)
        .agg(count(lit(1)).as("cnt"), sum(col("id")).as("id_sum"),
          sum(col("x").cast("long")).as("x_sum"),
          sum(col("y").cast("long")).as("y_sum"),
          sum(col("t").cast("long")).as("t_sum"))
      val rows = agg.collect().toSeq
      val outSchema = agg.schema
      fs.delete(new Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      s"""SELECT CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(event_id) AS BIGINT) AS id_sum,
  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS x_sum,
  CAST(sum(user_id) AS BIGINT) AS y_sum,
  CAST(sum(event_id % 2097152) AS BIGINT) AS t_sum
FROM events
WHERE CAST(floor(value*100) AS INT) BETWEEN ${RX.min} AND ${RX.max}
  AND user_id BETWEEN ${RY.min} AND ${RY.max}
  AND (event_id % 2097152) BETWEEN ${RT3.min} AND ${RT3.max}"""),

    // Watermarked windowed aggregation in APPEND mode — the canonical
    // streaming-analytics shape, gated against the batch definition.
    // Batch 1 ingests all real events (no intra-batch late-drop risk);
    // then a single far-future sentinel row arrives as batch 2, pushing
    // the watermark past every real window so append mode EMITS them
    // all; the sentinel's own window never closes and stays out of the
    // sink. The result is therefore exactly the batch hourly rollup —
    // unless watermark bookkeeping, window assignment, or append-mode
    // finalization is broken, which is the gate.
    Gate("stream_hourly", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-hourly").toString
      val src = graft.sources.EventTime.events(s, dir)
        .select(expr("timestamp_micros(div(ts, 1000))").as("event_time"),
          col("event_type"), expr("cast(round(value*100) as bigint)").as("cents"))
      src.write.parquet(s"$tmp/in")
      val maxTs = src.agg(max(col("event_time"))).head().getTimestamp(0)
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema).parquet(s"$tmp/in")
      val agg = stream
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
        .select(col("window.start").cast("long").as("hour_epoch"),
          col("event_type"), col("cnt"), col("sum_cents"))
      val q = agg.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try {
        q.processAllAvailable() // batch 1: every real event, one batch
        import s.implicits._
        Seq((new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000),
            "__sentinel", 0L))
          .toDF("event_time", "event_type", "cents")
          .write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable() // batch 2: sentinel advances the watermark
      } finally q.stop()
      val res = s.read.parquet(s"$tmp/out")
      val rows = res.collect().toSeq
      val outSchema = res.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the batch hourly rollup — identical to events_hourly's oracle
      Gate.sql(RelationalQueries.gates, "events_hourly")),

    // Sliding (OVERLAPPING) windowed aggregation in append mode: every
    // event lands in four 1h/15m windows; the sentinel advances the
    // watermark past every real window so append mode finalizes all of
    // them (the sentinel's own windows never close and never emit).
    // The batch oracle replays the overlap by exploding each event
    // into its four window starts — streaming window ASSIGNMENT,
    // watermark bookkeeping, and append finalization are all gated.
    Gate("stream_sliding", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-sliding").toString
      val src = graft.sources.EventTime.events(s, dir)
        .select(expr("timestamp_micros(div(ts, 1000))").as("event_time"),
          col("event_type"), expr("cast(round(value*100) as bigint)").as("cents"))
      src.write.parquet(s"$tmp/in")
      val maxTs = src.agg(max(col("event_time"))).head().getTimestamp(0)
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema).parquet(s"$tmp/in")
      val agg = stream
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("cnt"), col("sum_cents"))
      val q = agg.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try {
        q.processAllAvailable()
        import s.implicits._
        Seq((new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000),
            "__sentinel", 0L))
          .toDF("event_time", "event_type", "cents")
          .write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable()
      } finally q.stop()
      val res = s.read.parquet(s"$tmp/out")
      val rows = res.collect().toSeq
      val outSchema = res.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // batch replay of the 1h/15m sliding assignment: each event
      // explodes into its four window starts
      """WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS tsec, event_type,
    CAST(round(value*100) AS BIGINT) AS cents FROM events),
w AS (SELECT ((tsec // 900) - k.k) * 900 AS win_start, event_type, cents
  FROM e, (SELECT unnest(range(0, 4)) AS k) k)
SELECT win_start, event_type, count(*) AS cnt,
  CAST(sum(cents) AS BIGINT) AS sum_cents
FROM w GROUP BY win_start, event_type"""),

    // Online web-ingest classification: the capstone composition of
    // the web-ingest chain — raw HTML pages arrive as microbatches;
    // each batch extracts visible text ([[Html.extract]], pure
    // projection) and scores it under a model trained OFFLINE on the
    // clean corpus ([[Perceptron.ipmTrain]], run in the setup phase —
    // the deployment split every production filter has). Scoring uses
    // the STATELESS margin fold ([[Perceptron.marginExpr]]: aggregate
    // over hashed tokens, bias as init) so the stream stays append-mode
    // with zero state; only accepted documents (margin > 0) are
    // emitted. The oracle replays training doc-by-doc and scores the
    // same extracted text in batch.
    Gate("stream_classify", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-classify").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val w = Perceptron.ipmTrain(docs)
      docs.withColumn("html", expr(HtmlQueries.FixtureHtmlSql))
        .select("doc_id", "html")
        .repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = Html.extract(stream)
        .withColumn("ws", TextAnalysis.tokens(col("text")))
        .withColumn("margin", Perceptron.marginExpr("ws", w))
        .filter(col("margin") > 0)
        .select(col("doc_id"), col("margin"))
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val res = s.read.parquet(s"$tmp/out")
      val rows = res.collect().toSeq
      val outSchema = res.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      s"""${Perceptron.oracleCore()},
h AS (SELECT doc_id, ${HtmlQueries.FixtureHtmlSql} AS html FROM documents),
xt AS (SELECT doc_id,
    regexp_split_to_array(lower(trim(${Html.stripSql("html", duck = true)})), '\\s+') AS ws
  FROM h),
sc AS (SELECT xt.doc_id,
    CAST(m.w[${Perceptron.Buckets + 1}] + list_sum(list_transform(xt.ws,
      t -> m.w[CAST(${Perceptron.bucketDuck(Perceptron.Buckets)} + 1 AS BIGINT)])) AS BIGINT) AS margin
  FROM xt, mix${Perceptron.Epochs} m)
SELECT doc_id, margin FROM sc WHERE margin > 0"""),

    // Stateful streaming dedup: dropDuplicates state must survive
    // across microbatches — the source is rewritten as several files
    // and streamed one file per trigger, so most (user_id, event_type)
    // keys repeat in LATER batches than their first arrival. Lost or
    // leaking state would double-emit keys and fail the oracle (a
    // plain batch distinct over the source). Only key columns flow
    // into the dedup, so the surviving-row arrival order — the one
    // nondeterministic degree of freedom — cannot affect the result.
    Gate("stream_dedup", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-dedup").toString
      s.read.parquet(s"$dir/events.parquet")
        .select("user_id", "event_type")
        .repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.dropDuplicates("user_id", "event_type")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val agg = s.read.parquet(s"$tmp/out")
        .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      val rows = agg.collect().toSeq
      val outSchema = agg.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type"""),

    // Streaming dedup through dropDuplicatesWithinWatermark — the
    // PRODUCTION dedup shape whose state store is BOUNDED by the
    // watermark delay (plain dropDuplicates grows state forever). The
    // harness stages four time-ordered slices and re-injects a third
    // of each slice's keys into the NEXT slice with their ORIGINAL
    // event times: genuinely late rows, but inside the delay (delay =
    // span/2 > slice span), so the state store — not an intra-batch
    // distinct — must drop them. Emitted keys = first arrivals only;
    // a duplicate beyond the delay would be cut by the watermark
    // late-filter instead (same key set either way — carrying the
    // original event time makes re-emission impossible), so the gate
    // pins exactly the batch distinct over the source. Double-emission
    // from lost/evicted state inflates n_users and fails the oracle.
    Gate("stream_dedup_wm", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-dedupwm").toString
      val ev = graft.sources.EventTime.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("timestamp_micros(div(ts, 1000))").as("event_time"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("event_time"))
      val sliced = ev.withColumn("slice", ntile(4).over(w)).cache()
      val Row2 = sliced.agg(
        (unix_timestamp(max(col("event_time"))) -
          unix_timestamp(min(col("event_time")))).as("span")).collect()(0)
      val delaySec = math.max(1L, Row2.getLong(0) / 2)
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      (1 to 4).foreach { k =>
        val own = sliced.filter(col("slice") === k)
        val lateDups = sliced.filter(col("slice") === k - 1 &&
          col("user_id") % 3 === 0)
        own.unionByName(lateDups).drop("slice")
          .coalesce(1).write.parquet(s"$tmp/stage$k")
        // one file per batch, arrival order = slice order
        val part = new java.io.File(s"$tmp/stage$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath,
          java.nio.file.Paths.get(f"$tmp/in/slice$k%04d.parquet"))
      }
      sliced.unpersist()
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false").parquet(s"$tmp/in")
      val q = stream
        .withWatermark("event_time", s"$delaySec seconds")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val agg = s.read.parquet(s"$tmp/out")
        .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      val rows = agg.collect().toSeq
      val outSchema = agg.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the deduped union IS the source's distinct key set: the injected
      // within-watermark duplicates must all be dropped by state
      """SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type"""),

    // COMPACTION EQUIVALENCE — the property the reference's
    // non-transactional split famously lacks (SURVEY §3.1): a file-
    // layout rewrite must be RESULT-INVISIBLE. The online ingest loop
    // builds the z-clustered store (large splitThreshold, so the
    // explicit compactions below have real work left); ONE query then
    // returns the same snapshot aggregates TWICE — phase 'pre'
    // straight after ingest, phase 'post' after a minor compaction
    // sweep (file-local oversized splits, footer-probed) AND a major
    // recluster (global zkey re-cluster through the crash-recoverable
    // scratch/_READY swap). The oracle emits the aggregates once per
    // phase from the SOURCE table, so a compaction that loses,
    // duplicates, or corrupts one row breaks the post row's hash while
    // the pre row still matches — the diff pins the rewrite itself.
    // Aggregates pin the row multiset (range rectangle count/sums,
    // whole-store count/sum, kNN id+dist2 sums), not just counts.
    Gate("compact_equiv", (s, dir) => {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val tmp = Files.createTempDirectory("graft-compact-equiv").toString
      val conf = s.sparkContext.hadoopConfiguration
      val src = new Path(s"$dir/events.parquet")
      val fs = src.getFileSystem(conf)
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      FileUtil.copy(fs, src, fs, new Path(s"$tmp/in/events.parquet"), false, conf)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema).parquet(s"$tmp/in")
      val q = StreamingIngest.start(stream, s"$tmp/store", s"$tmp/stats",
        s"$tmp/ckpt", splitThreshold = 1000000L)
      try q.processAllAvailable() finally q.stop()
      def snapshot(phase: String): org.apache.spark.sql.Row = {
        // coalesce: an empty rectangle (possible at tiny sf) sums to 0,
        // not NULL — mirrored in the oracle. NOT checkpointed: unlike
        // the tombstone-folded gates, this view is a bare parquet read
        // whose per-job column pruning + zkey row-group pruning beat a
        // full-width materialization (r19: measured +0.35 s with one)
        val pts = s.read.parquet(s"$tmp/store")
        val r = PointStore.rangeQuery(pts, RX, RY)
          .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("x").cast("long")), lit(0L)),
            coalesce(sum(col("y").cast("long")), lit(0L))).head()
        val tot = pts.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val kn = PointStore.knn(pts, 25000, 75, 10)
          .agg(coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("dist2")), lit(0L))).head()
        // every consumer of pts is a collected Row by here — release the
        // phase's blocks NOW instead of letting phases accumulate until
        // the run-boundary releaseAll (r19 ADVICE; r20)
        graft.operators.CheckpointScope.release(pts)
        org.apache.spark.sql.Row(phase, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), tot.getLong(0), tot.getLong(1),
          kn.getLong(0), kn.getLong(1))
      }
      val pre = snapshot("pre")
      // minor: every oversized file splits in place (threshold far
      // below the batch file size, so the sweep genuinely rewrites);
      // major: global re-cluster into ~rows/threshold z-runs
      StreamingIngest.compactOversizedFiles(s, s"$tmp/store", 2000L)
      StreamingIngest.recluster(s, s"$tmp/store", 2000L)
      val post = snapshot("post")
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("phase",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("range_cnt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("range_id_sum",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("range_x_sum",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("range_y_sum",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("total_cnt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("total_id_sum",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("knn_id_sum",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("knn_d2_sum",
          org.apache.spark.sql.types.LongType, nullable = false)))
      fs.delete(new Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(Seq(pre, post)).asJava),
        outSchema)
    },
      // compaction is result-invisible: the SOURCE-table aggregates hold
      // for BOTH phases — a lost/duplicated/corrupted row after the
      // rewrite breaks only the post row, pinning the rewrite itself
      s"""WITH pts AS MATERIALIZED (
  SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events),
r AS (SELECT CAST(count(*) AS BIGINT) AS range_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS range_id_sum,
    CAST(coalesce(sum(x), 0) AS BIGINT) AS range_x_sum,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS range_y_sum
  FROM pts WHERE x BETWEEN ${RX.min} AND ${RX.max}
    AND y BETWEEN ${RY.min} AND ${RY.max}),
t AS (SELECT CAST(count(*) AS BIGINT) AS total_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS total_id_sum FROM pts),
k AS (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) AS knn_id_sum,
    CAST(coalesce(sum(d2), 0) AS BIGINT) AS knn_d2_sum
  FROM (SELECT id, (x-25000)*(x-25000) + (y-75)*(y-75) AS d2
        FROM pts ORDER BY d2, id LIMIT 10)),
phases(phase) AS (VALUES ('pre'), ('post'))
SELECT phase, range_cnt, range_id_sum, range_x_sum, range_y_sum,
  total_cnt, total_id_sum, knn_id_sum, knn_d2_sum
FROM phases, r, t, k"""),

    // Watermarked STREAM-STREAM inner join — the attribution shape
    // (impressions × conversions within a bounded lag) with BOTH sides
    // live, the one production streaming surface the other gates leave
    // untouched (every other stream gate joins stream-vs-static or
    // self). Impressions are the 'view' events; conversions are
    // 'click'/'purchase'; a pair matches when the conversion lands in
    // [imp_time, imp_time + 6h] for the same user — the online spelling
    // of the batch interval join (the reference's index→data two-phase
    // lookup made continuous, SURVEY §2.4).
    //
    // Harness: each side is staged as four time-ordered slices (the
    // stream_dedup_wm ntile trick), and a third of each slice's rows
    // (user_id % 3 == 0) are DEMOTED one arrival slot with their
    // ORIGINAL event times — genuinely late rows, inside the watermark
    // delay (delay = span/2 > slice span), so the join STATE — not
    // intra-batch matching — must pair them with counterparts that
    // arrived batches earlier, in both directions (late impression
    // meeting stored conversion and vice versa). Both sides carry
    // watermarks so join state is DELAY-BOUNDED: an impression is
    // evictable once the watermark passes imp_time + 6h (no not-yet-
    // late conversion can still match it), a conversion once the
    // watermark passes conv_time — state is O(rows in the last
    // delay + 6h of event time), not O(stream). Inner join emits on
    // match (no watermark-gated finalization), so no sentinel is
    // needed; the batch read side aggregates the emitted pairs. Oracle
    // = the batch interval join over the full union: a lost pair
    // (over-eager eviction), duplicate pair (replayed emission), or
    // late-filtered row (delay bookkeeping) each breaks the hash.
    Gate("stream_join", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-join").toString
      val ev = graft.sources.EventTime.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"),
          expr("timestamp_micros(div(ts, 1000))").as("event_time"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("event_time"))
      val sliced = ev.withColumn("slice", ntile(4).over(w))
        // demotion: late-by-one-slot arrival, original event time
        .withColumn("arrival",
          when(col("user_id") % 3 === 0, col("slice") + 1).otherwise(col("slice")))
        .cache()
      val span = sliced.agg(
        (unix_timestamp(max(col("event_time"))) -
          unix_timestamp(min(col("event_time")))).as("span")).collect()(0).getLong(0)
      val delaySec = math.max(1L, span / 2)
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/imp"))
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/conv"))
      (1 to 5).foreach { k =>
        // one file per arrival slot per side, empty slots included, so
        // the two maxFilesPerTrigger=1 sources advance in lockstep
        Seq("imp" -> (col("event_type") === "view"),
            "conv" -> (col("event_type") =!= "view")).foreach { case (side, p) =>
          sliced.filter(col("arrival") === k && p)
            .select("user_id", "event_type", "event_time")
            .coalesce(1).write.parquet(s"$tmp/stage-$side$k")
          val part = new java.io.File(s"$tmp/stage-$side$k").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          Files.copy(part.toPath,
            java.nio.file.Paths.get(f"$tmp/$side/slice$k%04d.parquet"))
        }
      }
      sliced.unpersist()
      val schema = s.read.parquet(s"$tmp/imp").schema
      val imp = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false").parquet(s"$tmp/imp")
        .withWatermark("event_time", s"$delaySec seconds")
        .select(col("user_id").as("imp_user"), col("event_time").as("imp_time"))
      val conv = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false").parquet(s"$tmp/conv")
        .withWatermark("event_time", s"$delaySec seconds")
        .select(col("user_id").as("conv_user"),
          col("event_type").as("conv_type"), col("event_time").as("conv_time"))
      val joined = imp.join(conv,
        col("imp_user") === col("conv_user") &&
          col("conv_time") >= col("imp_time") &&
          col("conv_time") <= col("imp_time") + expr("INTERVAL 6 HOURS"))
        .select(col("conv_type"), col("conv_user").as("user_id"),
          ((unix_micros(col("conv_time")) - unix_micros(col("imp_time"))) * 1000L)
            .as("lag_ns"))
      val q = joined.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val agg = s.read.parquet(s"$tmp/out")
        .groupBy("conv_type")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"),
          sum(expr("lag_ns div 1000000000")).as("lag_s_sum"))
      val rows = agg.collect().toSeq
      val outSchema = agg.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the batch interval join over the full union: every within-window
      // (impression, conversion) pair exactly once — late arrivals, state
      // retention, and watermark bookkeeping all collapse into multiset
      // equality with this one-shot join
      // tns is FLOORED to microseconds: the streaming side joins on
      // event_time = timestamp_micros(ts div 1000), so the oracle must
      // compare at the same granularity or a ts with sub-µs residue
      // within 1 µs of the 6 h window edge would flip pair membership
      """WITH e AS MATERIALIZED (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 * 1000 AS tns FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
imp AS (SELECT user_id, tns AS imp_tns FROM e WHERE event_type = 'view'),
conv AS (SELECT user_id, event_type, tns AS conv_tns FROM e
  WHERE event_type <> 'view')
SELECT conv.event_type AS conv_type,
  count(*) AS n_pairs,
  CAST(count(DISTINCT conv.user_id) AS BIGINT) AS n_users,
  CAST(sum((conv.conv_tns - imp.imp_tns) // 1000000000) AS BIGINT) AS lag_s_sum
FROM imp JOIN conv ON imp.user_id = conv.user_id
  AND conv.conv_tns >= imp.imp_tns
  AND conv.conv_tns <= imp.imp_tns + 21600000000000
GROUP BY conv_type"""),

    // LEFT-OUTER watermarked stream-stream join — the semantics the
    // inner gate cannot reach: an impression with NO conversion inside
    // its 6 h window must still emit (conv_type null), and Spark may
    // do so ONLY once the watermark proves no not-yet-late conversion
    // can ever match it (imp_time + 6 h + delay below the watermark) —
    // null rows are watermark-GATED, not immediate. Same two-sided
    // staged-slice harness as stream_join (late demotions inside the
    // delay), plus one far-future sentinel row PER SIDE in a final
    // batch: the sentinels push the watermark past every real
    // impression's window so ALL unmatched impressions emit their null
    // rows before the stream stops (the stream_hourly finalization
    // trick); the sentinel impression's own window never closes (it
    // dies in state), and the sentinel conversion matches nothing. The
    // oracle is then the plain batch LEFT join over the real rows —
    // premature null emission (a null row for an impression whose
    // window could still match) or a swallowed unmatched impression
    // both break the hash.
    Gate("stream_join_outer", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-joinout").toString
      val ev = graft.sources.EventTime.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"),
          expr("timestamp_micros(div(ts, 1000))").as("event_time"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("event_time"))
      val sliced = ev.withColumn("slice", ntile(4).over(w))
        .withColumn("arrival",
          when(col("user_id") % 3 === 0, col("slice") + 1).otherwise(col("slice")))
        .cache()
      val mm = sliced.agg(
        unix_timestamp(max(col("event_time"))).as("mx"),
        (unix_timestamp(max(col("event_time"))) -
          unix_timestamp(min(col("event_time")))).as("span")).collect()(0)
      val delaySec = math.max(1L, mm.getLong(1) / 2)
      // sentinel epoch: far enough that real windows + delay all
      // close under watermark = sentinel - delay
      val sentinelTs = new java.sql.Timestamp(
        (mm.getLong(0) + 4 * delaySec + 12 * 3600) * 1000L)
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/imp"))
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/conv"))
      import s.implicits._
      (1 to 6).foreach { k =>
        // DISTINCT sentinel users per side (-1 impressions, -2
        // conversions): the two sentinels land at the same instant
        // and must not match each other — they exist only to advance
        // both sources' watermarks (min policy) past every real
        // impression's window
        Seq("imp" -> -1L, "conv" -> -2L).foreach { case (side, sentUser) =>
          val p = if (side == "imp") col("event_type") === "view"
                  else col("event_type") =!= "view"
          val part =
            if (k <= 5) sliced.filter(col("arrival") === k && p)
              .select("user_id", "event_type", "event_time")
            else Seq((sentUser, "__sentinel", sentinelTs))
              .toDF("user_id", "event_type", "event_time")
          part.coalesce(1).write.parquet(s"$tmp/stage-$side$k")
          val f = new java.io.File(s"$tmp/stage-$side$k").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          Files.copy(f.toPath,
            java.nio.file.Paths.get(f"$tmp/$side/slice$k%04d.parquet"))
        }
      }
      sliced.unpersist()
      val schema = s.read.parquet(s"$tmp/imp").schema
      val imp = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false").parquet(s"$tmp/imp")
        .withWatermark("event_time", s"$delaySec seconds")
        .select(col("user_id").as("imp_user"), col("event_time").as("imp_time"))
      val conv = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false").parquet(s"$tmp/conv")
        .withWatermark("event_time", s"$delaySec seconds")
        .select(col("user_id").as("conv_user"),
          col("event_type").as("conv_type"), col("event_time").as("conv_time"))
      val joined = imp.join(conv,
        col("imp_user") === col("conv_user") &&
          col("conv_time") >= col("imp_time") &&
          col("conv_time") <= col("imp_time") + expr("INTERVAL 6 HOURS"),
        "left_outer")
        .select(col("imp_user"), col("imp_time"), col("conv_type"),
          ((unix_micros(col("conv_time")) - unix_micros(col("imp_time"))) * 1000L)
            .as("lag_ns"))
      val q = joined.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val agg = s.read.parquet(s"$tmp/out")
        .filter(col("imp_user") =!= -1L) // the sentinel impression never emits, but guard anyway
        .groupBy(coalesce(col("conv_type"), lit("__none")).as("conv_type"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("imp_user")).as("n_users"),
          coalesce(sum(expr("lag_ns div 1000000000")), lit(0L)).as("lag_s_sum"))
      val rows = agg.collect().toSeq
      val outSchema = agg.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the batch LEFT join over the real rows: sentinels forced every
      // unmatched impression's null row out before the stream stopped,
      // so the emitted multiset equals the one-shot outer join exactly
      // same µs floor as stream_join — both engines compare at the
      // granularity the streaming clock actually carries
      """WITH e AS MATERIALIZED (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 * 1000 AS tns FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
imp AS (SELECT user_id, tns AS imp_tns FROM e WHERE event_type = 'view'),
conv AS (SELECT user_id, event_type, tns AS conv_tns FROM e
  WHERE event_type <> 'view'),
lj AS (SELECT imp.user_id, conv.event_type AS conv_type,
    conv.conv_tns - imp.imp_tns AS lag_ns
  FROM imp LEFT JOIN conv ON imp.user_id = conv.user_id
    AND conv.conv_tns >= imp.imp_tns
    AND conv.conv_tns <= imp.imp_tns + 21600000000000)
SELECT coalesce(conv_type, '__none') AS conv_type,
  count(*) AS n_pairs,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(coalesce(sum(lag_ns // 1000000000), 0) AS BIGINT) AS lag_s_sum
FROM lj GROUP BY 1"""),

    // Streaming corpus curation: the documents table arrives as four
    // microbatches; each batch passes the per-row quality gate (pure
    // projection — stateless, same predicate as quality_filter) and the
    // whitespace-insensitive content fingerprint feeds a cross-batch
    // dropDuplicates — the online dedup shape of a continuously-
    // ingesting corpus build. Exact duplicates of a document that
    // arrived in an EARLIER batch must be suppressed by state, not by
    // intra-batch distinct — lost state double-emits and fails the
    // oracle (batch DISTINCT over the source). Only the fp column flows
    // into the dedup, so arrival order cannot affect the result. (A
    // production stream would add a watermark to bound the state store;
    // the gate's corpus is finite.)
    Gate("stream_curate", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-curate").toString
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
        .repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val curated = stream
        .withColumn("ws", split(lower(trim(col("text"))), "\\s+"))
        .filter(size(col("ws")) >= 30 &&
          expr("cast(div(cast(size(array_distinct(ws)) as bigint) * 1000, size(ws)) as bigint)") >= 500)
        .select(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
        .dropDuplicates("fp")
      val q = curated.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val res = s.read.parquet(s"$tmp/out").select("fp")
      val rows = res.collect().toSeq
      val outSchema = res.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the batch spelling of the streamed gate: distinct whitespace-
      // collapsed fingerprints of the quality-passing documents
      """SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents
WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 30
  AND (CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) * 1000)
      // len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 500"""),

    // Streaming data-quality monitor: each microbatch appends its
    // per-rule violation counts ([[DataQuality.ruleViolations]] — one
    // conditional-aggregate pass) to an audit log; the read side SUMS
    // per rule. Counts are additive, so merge-then-read equals the
    // batch audit over the union — the production "quality dashboard"
    // loop where a batch that trips a threshold quarantines before
    // publish. State is O(rules) per batch; each batch OVERWRITES its
    // batch-id-keyed log directory, so an at-least-once replay rewrites
    // identical counts instead of double-counting (the additive merge
    // stays exactly-once in net effect).
    // STREAMING TAKEDOWN — the tombstone DELETE path driven online: the
    // store holds the base puts (seq 0) plus a seq-2 re-put of the %10
    // keys; the file stream delivers two marker batches (%5 at seq 1,
    // %3 at seq 3) that foreachBatch appends to the tombstone table.
    // Marker application is an append of an anti-join side — it
    // COMMUTES and duplicate markers are invisible, so file-arrival
    // order doesn't matter and at-least-once redelivery is exactly-once
    // in net effect WITHOUT batch-id keying: the gate redelivers an
    // entire marker batch after the stream and pins that the live view
    // doesn't move ('replayed' phase). The %10 keys resurrect through
    // the seq-1 marker, then the %30 subset dies again at seq 3 —
    // the full marker/put sequence interplay, online.
    Gate("stream_takedown", (s, dir) => {
      import org.apache.hadoop.fs.Path
      val tmp = Files.createTempDirectory("graft-stream-takedown").toString
      val base = PointStore.points(
          s.read.parquet(s"$dir/events.parquet"),
          col("event_id"), expr("cast(floor(value*100) as int)"),
          col("user_id"))
        .withColumn("put_seq", lit(0L))
      PointStore.write(base, s"$tmp/store")
      PointStore.append(base.filter(col("id") % 10 === 0)
        .withColumn("put_seq", lit(2L)), s"$tmp/store")
      base.filter(col("id") % 5 === 0)
        .select(col("id"), col("x"), col("y"), lit(1L).as("put_seq"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      base.filter(col("id") % 3 === 0)
        .select(col("id"), col("x"), col("y"), lit(3L).as("put_seq"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      val fs = new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
      val mSchema = s.read.parquet(s"$tmp/in").schema
      val store = PointStore.open(s, s"$tmp/store")
      val stream = s.readStream.schema(mSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) => store.delete(batch) }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      def snapshot(phase: String): org.apache.spark.sql.Row = {
        // one materialization feeds the phase's 4-5 jobs (r19 — the
        // delete_equiv/snapshot_asof gate shape)
        val pts = graft.operators.CheckpointScope.checkpoint(
          store.live(Seq("put_seq")))
        val r = PointStore.rangeQuery(pts, RX, RY)
          .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("x").cast("long")), lit(0L)),
            coalesce(sum(col("y").cast("long")), lit(0L))).head()
        val tot = pts.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val kn = PointStore.knn(pts, 25000, 75, 10)
          .agg(coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("dist2")), lit(0L))).head()
        // every consumer of pts is a collected Row by here — release the
        // phase's blocks NOW instead of letting phases accumulate until
        // the run-boundary releaseAll (r19 ADVICE; r20)
        graft.operators.CheckpointScope.release(pts)
        org.apache.spark.sql.Row(phase, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), tot.getLong(0), tot.getLong(1),
          kn.getLong(0), kn.getLong(1))
      }
      val streamed = snapshot("streamed")
      // at-least-once redelivery of the whole seq-1 marker batch
      store.delete(s.read.parquet(s"$tmp/in").filter(col("put_seq") === 1L))
      val replayed = snapshot("replayed")
      val outSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("phase",
          org.apache.spark.sql.types.StringType, nullable = false) +:
        Seq("range_cnt", "range_id_sum", "range_x_sum", "range_y_sum",
          "total_cnt", "total_id_sum", "knn_id_sum", "knn_d2_sum").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
      fs.delete(new Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            Seq(streamed, replayed)).asJava), outSchema)
    },
      // the live multiset after the streamed marker history: base rows
      // survive %5 (seq 1) and %3 (seq 3); the %10 re-puts (seq 2)
      // resurrect through seq 1 but die under seq 3 where id % 3 = 0 —
      // one row per phase, and redelivered markers must not move it
      s"""WITH pts AS MATERIALIZED (
  SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events
  WHERE (event_id % 5 <> 0 AND event_id % 3 <> 0)
     OR (event_id % 10 = 0 AND event_id % 3 <> 0)),
r AS (SELECT CAST(count(*) AS BIGINT) AS range_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS range_id_sum,
    CAST(coalesce(sum(x), 0) AS BIGINT) AS range_x_sum,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS range_y_sum
  FROM pts WHERE x BETWEEN ${RX.min} AND ${RX.max}
    AND y BETWEEN ${RY.min} AND ${RY.max}),
t AS (SELECT CAST(count(*) AS BIGINT) AS total_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS total_id_sum FROM pts),
k AS (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) AS knn_id_sum,
    CAST(coalesce(sum(d2), 0) AS BIGINT) AS knn_d2_sum
  FROM (SELECT id, (x-25000)*(x-25000) + (y-75)*(y-75) AS d2
        FROM pts ORDER BY d2, id LIMIT 10)),
phases(phase) AS (VALUES ('streamed'), ('replayed'))
SELECT phase, range_cnt, range_id_sum, range_x_sum, range_y_sum,
  total_cnt, total_id_sum, knn_id_sum, knn_d2_sum
FROM phases, r, t, k"""),

    // region takedown ONLINE: the file stream delivers two rectangle
    // markers (rect A at seq 1, rect B at seq 3) that foreachBatch
    // appends as range tombstones — O(markers) per batch, never an id
    // enumeration. The %10 re-puts (seq 2) resurrect through rect A
    // but die where rect B covers them; redelivering rect A after the
    // stream must not move the live view (markers commute and
    // duplicates are invisible — at-least-once in, exactly-once out)
    Gate("stream_takedown_range", (s, dir) => {
      import org.apache.hadoop.fs.Path
      val tmp = Files.createTempDirectory("graft-stream-rtakedown").toString
      val base = PointStore.points(
          s.read.parquet(s"$dir/events.parquet"),
          col("event_id"), expr("cast(floor(value*100) as int)"),
          col("user_id"))
        .withColumn("put_seq", lit(0L))
      PointStore.write(base, s"$tmp/store")
      PointStore.append(base.filter(col("id") % 10 === 0)
        .withColumn("put_seq", lit(2L)), s"$tmp/store")
      locally {
        import s.implicits._
        Seq((0, 15000, 0, 70, 1L))
          .toDF("xmin", "xmax", "ymin", "ymax", "put_seq")
          .coalesce(1).write.mode("append").parquet(s"$tmp/in")
        Seq((12000, 40000, 50, 130, 3L))
          .toDF("xmin", "xmax", "ymin", "ymax", "put_seq")
          .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      }
      val fs = new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
      val mSchema = s.read.parquet(s"$tmp/in").schema
      val store = PointStore.open(s, s"$tmp/store")
      val stream = s.readStream.schema(mSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) => store.deleteRange(batch) }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      def snapshot(phase: String): org.apache.spark.sql.Row = {
        // markers first, THEN the upsert collapse: a re-put whose base
        // version ALSO survives the rectangles (unlike stream_takedown's
        // %5 ⊇ %10 markers, rect A doesn't cover every re-put) must
        // count once, as its latest version. One materialization feeds
        // the phase's 4-5 jobs (r19 — the delete_equiv gate shape)
        val pts = graft.operators.CheckpointScope.checkpoint(
          PointStore.latest(store.live(Seq("put_seq")), Seq(col("put_seq"))))
        val r = PointStore.rangeQuery(pts, RX, RY)
          .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("x").cast("long")), lit(0L)),
            coalesce(sum(col("y").cast("long")), lit(0L))).head()
        val tot = pts.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val kn = PointStore.knn(pts, 25000, 75, 10)
          .agg(coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("dist2")), lit(0L))).head()
        // every consumer of pts is a collected Row by here — release the
        // phase's blocks NOW instead of letting phases accumulate until
        // the run-boundary releaseAll (r19 ADVICE; r20)
        graft.operators.CheckpointScope.release(pts)
        org.apache.spark.sql.Row(phase, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), tot.getLong(0), tot.getLong(1),
          kn.getLong(0), kn.getLong(1))
      }
      val streamed = snapshot("streamed")
      // at-least-once redelivery of the rect-A marker batch
      store.deleteRange(s.read.parquet(s"$tmp/in").filter(col("put_seq") === 1L))
      val replayed = snapshot("replayed")
      val outSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("phase",
          org.apache.spark.sql.types.StringType, nullable = false) +:
        Seq("range_cnt", "range_id_sum", "range_x_sum", "range_y_sum",
          "total_cnt", "total_id_sum", "knn_id_sum", "knn_d2_sum").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
      fs.delete(new Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            Seq(streamed, replayed)).asJava), outSchema)
    },
      // the live multiset after the streamed RECTANGLE-marker history:
      // base rows (seq 0) survive outside rects A(seq 1) and B(seq 3);
      // the %10 re-puts (seq 2) resurrect through A but die inside B —
      // and the redelivered rect-A batch must not move any number
      s"""WITH pts AS MATERIALIZED (
  SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events),
live AS MATERIALIZED (
  SELECT * FROM pts WHERE CASE WHEN id % 10 = 0
    THEN NOT (x BETWEEN 12000 AND 40000 AND y BETWEEN 50 AND 130)
    ELSE NOT (x BETWEEN 0 AND 15000 AND y BETWEEN 0 AND 70)
     AND NOT (x BETWEEN 12000 AND 40000 AND y BETWEEN 50 AND 130) END),
r AS (SELECT CAST(count(*) AS BIGINT) AS range_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS range_id_sum,
    CAST(coalesce(sum(x), 0) AS BIGINT) AS range_x_sum,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS range_y_sum
  FROM live WHERE x BETWEEN ${RX.min} AND ${RX.max}
    AND y BETWEEN ${RY.min} AND ${RY.max}),
t AS (SELECT CAST(count(*) AS BIGINT) AS total_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS total_id_sum FROM live),
k AS (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) AS knn_id_sum,
    CAST(coalesce(sum(d2), 0) AS BIGINT) AS knn_d2_sum
  FROM (SELECT id, (x-25000)*(x-25000) + (y-75)*(y-75) AS d2
        FROM live ORDER BY d2, id LIMIT 10)),
phases(phase) AS (VALUES ('streamed'), ('replayed'))
SELECT phase, range_cnt, range_id_sum, range_x_sum, range_y_sum,
  total_cnt, total_id_sum, knn_id_sum, knn_d2_sum
FROM phases, r, t, k"""),

    Gate("stream_dq", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-dq").toString
      s.read.parquet(s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
        .repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val rules = Seq(
        "events.value_nonpos" -> (col("value") <= 0.0),
        "events.value_cents_gt_9000" ->
          (expr("cast(round(value*100) as bigint)") > 9000L),
        "events.error_events" -> (col("event_type") === "error"))
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // idempotent under at-least-once replay: each batch OVERWRITES
          // its own batch-id-keyed directory, so a re-delivered batch
          // rewrites identical counts instead of double-counting
          DataQuality.ruleViolations(batch, rules)
            .write.mode("overwrite").parquet(s"$tmp/log/b$batchId")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val merged = s.read.parquet(s"$tmp/log/b*")
        .groupBy("check_name").agg(sum(col("n_bad")).as("n_bad"))
      val rows = merged.collect().toSeq
      val outSchema = merged.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // additive merge law: per-batch rule counts summed over the log
      // must equal the one-pass batch audit over the union
      """SELECT 'events.value_nonpos' AS check_name,
  CAST(coalesce(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bad FROM events
UNION ALL SELECT 'events.value_cents_gt_9000',
  CAST(coalesce(sum(CASE WHEN CAST(round(value*100) AS BIGINT) > 9000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events
UNION ALL SELECT 'events.error_events',
  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END), 0) AS BIGINT) FROM events"""),

    // Streaming heavy hitters: each microbatch writes its PARTIAL
    // Count-Min counter table to a batch-id-keyed log directory
    // (overwrite = replay-idempotent, like stream_dq); the read side
    // SUMS the log element-wise — counters are additive, so
    // merge-then-probe must equal the one-pass batch sketch. The
    // trending-terms loop: O(d·w) state per batch, exact top-k probed
    // through the merged sketch.
    Gate("stream_topk", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-topk").toString
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text", expr(SketchQueries.AugSql))
        .select("doc_id", "text")
        // two microbatches: the merge law needs >= 2 partials; the
        // vocabulary-widened fixture makes every extra batch a full
        // ~200k-term hashing pass, so no more than the law requires
        .repartition(2).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.operators.Sketches.cmCounters(batch)
            .write.mode("overwrite").parquet(s"$tmp/sketch/b$batchId")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val merged = s.read.parquet(s"$tmp/sketch/b*")
        .groupBy("depth", "bucket").agg(sum(col("cnt")).as("cnt"))
      val probed = graft.operators.Sketches.cmProbe(
        s.read.parquet(s"$tmp/in"), merged, 20)
      val rows = probed.collect().toSeq
      val outSchema = probed.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the one-pass batch sketch probe — equality IS the CM merge law
      Gate.sql(SketchQueries.gates, "cms_heavy_hitters")),

    // Streaming distinct-count sketch: the documents corpus arrives as
    // four microbatches; each batch appends its PARTIAL HyperLogLog
    // register table to a sketch log, and the read side max-merges the
    // log into one register set before applying the estimator
    // ([[graft.operators.Sketches]]). This is the production shape for
    // "distinct users/tokens so far" over an unbounded stream: state is
    // O(m) per batch, the log is append-only, and because max is
    // idempotent and commutative an at-least-once REPLAYED batch
    // re-appends the same partials without changing the merge — no
    // two-phase publish needed. The oracle computes the same estimate
    // over the whole corpus in one pass: merge-then-estimate must equal
    // estimate-over-union (the HLL merge law, also pinned in
    // SketchesSpec).
    // Custom streaming STATE MACHINE (flatMapGroupsWithState): gap-
    // based sessionization with one OpenSession per user as explicit
    // state, arriving as four time-ordered microbatch slices. A
    // sentinel batch (one far-future event per user, 2 gaps past the
    // corpus max) closes every real session so append mode emits them
    // all; the sentinels' own sessions stay open in state and never
    // reach the sink. Emitted sessions must therefore equal the batch
    // gap-and-islands oracle exactly — lost state splits sessions,
    // leaked state merges them, and either fails the hash.
    Gate("stream_sessionize", (s, dir) => {
      val gap = 86400L * 1000000000L
      val tmp = Files.createTempDirectory("graft-stream-sess").toString
      val ev = graft.sources.EventTime.events(s, dir)
        .select(col("user_id"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"))
      val sliced = ev.withColumn("slice", ntile(4).over(w)).cache()
      val maxTs = sliced.agg(max(col("ts"))).collect()(0).getLong(0)
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      (1 to 5).foreach { k =>
        val part =
          if (k <= 4) sliced.filter(col("slice") === k).drop("slice")
          else ev.select(col("user_id")).distinct()
            .withColumn("ts", lit(maxTs + 2 * gap + 1))
        part.coalesce(1).write.parquet(s"$tmp/stage$k")
        val f = new java.io.File(s"$tmp/stage$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath,
          java.nio.file.Paths.get(f"$tmp/in/slice$k%04d.parquet"))
      }
      sliced.unpersist()
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      import s.implicits._
      val sessions = graft.streaming.Sessionize.streaming(
        stream.as[graft.streaming.Sessionize.Event], gap)
      val q = sessions.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val res = s.read.parquet(s"$tmp/out")
        .select("user_id", "session_start", "n_events", "duration_s")
      val rows = res.collect().toSeq
      val outSchema = res.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the batch gap-and-islands twin: the state machine must emit
      // every real session exactly once (sentinels close the open tails)
      Gate.sql(RelationalQueries.gates, "sessionize")),

    // Streaming quantile-sketch maintenance: the events corpus arrives
    // as four microbatches; each batch writes its PARTIAL leaf
    // histogram (the q-digest's additive pre-compression state) under
    // its batch id — overwrite per batch id, so a replayed batch
    // lands idempotently — and the read side SUMS the log and
    // compresses once. Leaf counts are additive, so the merged-then-
    // compressed digest is BIT-IDENTICAL to the one-pass batch build:
    // the oracle is exactly the batch quantile_sketch replay, and
    // equality IS the merge law.
    Gate("stream_quantiles", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-quant").toString
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), expr("cast(round(value*100) as bigint)").as("cents"))
        .repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.operators.QuantileSketch.leafCounts(batch, "cents")
            .write.mode("overwrite").parquet(s"$tmp/sketch/b$batchId")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val merged = s.read.parquet(s"$tmp/sketch/b*")
        .groupBy("leaf").agg(sum(col("cnt")).as("cnt"))
      val probed = graft.operators.QuantileSketch.probeLeafCounts(merged)
      val rows = probed.collect().toSeq
      val outSchema = probed.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the one-pass batch digest probe — summed leaf partials compress
      // to the identical digest, so equality IS the quantile merge law
      Gate.sql(SketchQueries.gates, "quantile_sketch")),

    // Streaming KMV maintenance: per-batch bottom-k partials appended
    // to a sketch log; the read side dedups hash values and re-takes
    // the bottom-k. Exact merge law: every one of the global k
    // smallest hashes is among its own batch's k smallest, so the
    // merged sketch EQUALS the one-pass batch sketch — and appending
    // is replay-safe because the union dedups by value (the KMV
    // analog of HLL's max-idempotence). Oracle = the batch kmv_sketch
    // replay itself.
    Gate("stream_kmv", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-kmv").toString
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text", expr(SketchQueries.AugSql))
        .select("doc_id", "text")
        .repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Sketches.kmvSketch(batch)
            .write.mode("append").parquet(s"$tmp/sketch")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val merged = graft.operators.Sketches.kmvMerge(
        s.read.parquet(s"$tmp/sketch"))
      val rows = merged.collect().toSeq
      val outSchema = merged.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the batch bottom-k itself — merged per-batch partials equal it
      Gate.sql(SketchQueries.gates, "kmv_sketch")),

    // ONLINE graph maintenance: connected-component labels kept
    // current as edge batches stream in. State is a PARQUET label
    // table versioned per batch (batch k reads labels b<k>, folds the
    // batch's edges via the supernode contraction of
    // LinkGraph.incrementalComponents — never re-flooding prior
    // edges — and writes labels b<k+1>; a foreachBatch replay
    // re-derives b<k+1> from the untouched b<k>, so at-least-once
    // delivery nets exactly-once state). The final label table must
    // equal the one-shot full-union flood: a dropped batch, doubled
    // fold, or contraction error each breaks the hash.
    Gate("stream_cc", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-cc").toString
      // prior graph = the block cycles; its labels seed state b0
      graft.operators.LinkGraph.components(HtmlQueries.ccPriorEdges(s, dir))
        .write.parquet(s"$tmp/labels/b0")
      graft.operators.CheckpointScope.releaseAll()
      // the chain batch arrives as three time-ordered slices
      val chain = HtmlQueries.ccChainEdges(s, dir)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("src"))
      val sliced = chain.withColumn("slice", ntile(3).over(w))
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      (1 to 3).foreach { k =>
        sliced.filter(col("slice") === k).select("src", "dst")
          .coalesce(1).write.parquet(s"$tmp/stage$k")
        val part = new java.io.File(s"$tmp/stage$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath,
          java.nio.file.Paths.get(f"$tmp/in/slice$k%04d.parquet"))
      }
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val ss = b.sparkSession
          val priorLabels = ss.read.parquet(s"$tmp/labels/b$id")
          graft.operators.LinkGraph.incrementalComponents(b.toDF(), priorLabels)
            .write.mode("overwrite").parquet(s"$tmp/labels/b${id + 1}")
          graft.operators.CheckpointScope.releaseAll()
        }
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // the current label version is the HIGHEST b* subtree — derived,
      // not hard-coded, so a file-source coalescing batches differently
      // (option change, checkpoint replay variation) still reads the
      // true final state instead of a stale literal version
      val labelsRoot = new org.apache.hadoop.fs.Path(s"$tmp/labels")
      val lfs = labelsRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
      val vTop = lfs.listStatus(labelsRoot).toSeq.map(_.getPath.getName)
        .collect { case n if n.matches("b\\d+") => n.drop(1).toLong }.max
      // fold the label table to its component ROSTER before anything
      // reaches the driver — the labelPropagation output shape: driver
      // state is O(components), never O(vertices), the collect shape
      // that survives a 100-TB graph
      def roster(phase: String) =
        s.read.parquet(s"$tmp/labels/b$vTop")
          .groupBy("component").agg(count(lit(1)).as("n_members"),
            min(col("v")).as("min_v"), sum(col("v")).as("v_sum"))
          .select(lit(phase).as("phase"), col("component"), col("n_members"),
            col("min_v"), col("v_sum"))
      val pre = roster("pre")
      val rowsPre = pre.collect().toSeq
      // label-state compaction: superseded b<k> versions are dead once
      // b<vTop> is committed (each batch reads only its predecessor) —
      // dropping them must be result-invisible, which the 'post' phase
      // proves against the same oracle replay
      (0L until vTop).foreach { k =>
        lfs.delete(new org.apache.hadoop.fs.Path(s"$tmp/labels/b$k"), true)
      }
      val rows = rowsPre ++ roster("post").collect().toSeq
      val outSchema = pre.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the one-shot full-union flood folded to its component roster —
      // the streamed label state's final version must equal it exactly,
      // both before and after superseded-version compaction
      s"""WITH base AS MATERIALIZED (${Gate.sql(HtmlQueries.gates, "cc_incremental")}),
agg AS (SELECT component, count(*) AS n_members,
    CAST(min(v) AS BIGINT) AS min_v, CAST(sum(v) AS BIGINT) AS v_sum
  FROM base GROUP BY 1),
phases(phase) AS (VALUES ('pre'), ('post'))
SELECT phase, component, n_members, min_v, v_sum FROM phases, agg"""),

    // ONLINE inverted-index maintenance — the reference's raison
    // d'être (continuous index updates) on the text surface: the
    // retrieval corpus arrives as four micro-batches, each appended to
    // the postings store under a BATCH-ID-keyed subtree (replay
    // overwrites the same subtree — idempotent, the StreamingIngest
    // two-phase discipline's cheap sibling) with a MERGEABLE corpus-
    // stats partial per batch. Serving the full BM25 retrieval from
    // the streamed store must equal the one-shot batch oracle exactly:
    // a lost batch, doubled replay, or stats drift (avgdl is derived
    // by ONE truncating division over the summed partials — per-batch
    // truncation would diverge) each breaks the hash.
    Gate("stream_postings", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-postings").toString
      val d = TextQueries.retDocs(s, dir).select("doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      val sliced = d.withColumn("slice", ntile(4).over(w))
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      (1 to 4).foreach { k =>
        sliced.filter(col("slice") === k).select("doc_id", "text")
          .coalesce(1).write.parquet(s"$tmp/stage$k")
        val part = new java.io.File(s"$tmp/stage$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath,
          java.nio.file.Paths.get(f"$tmp/in/slice$k%04d.parquet"))
      }
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.operators.PostingsStore.appendBatch(b.toDF(), s"$tmp/store", id)
        }
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // phase 1: serve straight off the batch-subtree layout; phase 2:
      // compact (crash-atomic _READY swap back to the globally term-
      // clustered layout) and serve again — BOTH phases must collapse
      // to the same one-shot oracle row, so a compaction that loses or
      // doubles a posting, or re-truncates avgdl, breaks only the
      // 'compacted' row while 'streamed' still matches
      def phaseAgg(phase: String) =
        graft.operators.PostingsStore.bm25DocTopK(
            s, s"$tmp/store", TextQueries.retQueries(s, dir), 10)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum("score_e6"), lit(0L)).as("score_sum"),
            coalesce(sum(col("doc_id") * col("rank")), lit(0L)).as("dr_sum"),
            coalesce(sum("n_terms"), lit(0L)).as("terms_sum"))
          .select(lit(phase).as("phase"), col("n_rows"), col("score_sum"),
            col("dr_sum"), col("terms_sum"))
      val streamed = phaseAgg("streamed")
      val rowsPre = streamed.collect().toSeq
      graft.operators.PostingsStore.compact(s, s"$tmp/store")
      val rows = rowsPre ++ phaseAgg("compacted").collect().toSeq
      val outSchema = streamed.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the one-shot retrieval replay, aggregated and emitted once per
      // serving phase: the streamed store's answer must collapse to the
      // same row BOTH before and after compaction (the compact_equiv
      // discipline on the text index)
      s"""WITH base AS MATERIALIZED (${TextQueries.bm25DocOracleSql}),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(coalesce(sum(score_e6), 0) AS BIGINT) AS score_sum,
    CAST(coalesce(sum(doc_id * rank), 0) AS BIGINT) AS dr_sum,
    CAST(coalesce(sum(n_terms), 0) AS BIGINT) AS terms_sum
  FROM base),
phases(phase) AS (VALUES ('streamed'), ('compacted'))
SELECT phase, n_rows, score_sum, dr_sum, terms_sum FROM phases, agg"""),

    // TIME TRAVEL over the ONLINE-built text index: the corpus arrives
    // as three doc_id-ordered thirds (foreachBatch ids 0..2, delivery
    // order pinned by explicit file mtimes), then a takedown lands as
    // operation 3 — serving AS OF bounds 0 / 2 / 3 and live must each
    // replay exactly the corpus that operation horizon selects. The
    // history the bounds slice IS the batch subtree layout the stream
    // already wrote: nothing is rewritten or versioned to serve it
    Gate("stream_postings_asof", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-pasof").toString
      val d = TextQueries.retDocs(s, dir).select("doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      val sliced = d.withColumn("slice", ntile(3).over(w))
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      (1 to 3).foreach { k =>
        sliced.filter(col("slice") === k).select("doc_id", "text")
          .coalesce(1).write.parquet(s"$tmp/stage$k")
        val part = new java.io.File(s"$tmp/stage$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = java.nio.file.Paths.get(f"$tmp/in/slice$k%04d.parquet")
        Files.copy(part.toPath, dest)
        // pin delivery order: batch id k-1 must carry slice k (the
        // file source orders by mtime; same-millisecond copies would
        // leave the as-of bounds racing the tie-break)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 60000L))
      }
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.operators.PostingsStore.appendBatch(b.toDF(), s"$tmp/store", id)
        }
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      graft.operators.PostingsStore.deleteDocs(s, s"$tmp/store",
        TextQueries.retDocs(s, dir).filter(col("doc_id") % 5 === 0).select("doc_id"), 3L)
      def phaseAgg(r: org.apache.spark.sql.DataFrame, phase: String) =
        r.agg(count(lit(1)).as("n_rows"),
            coalesce(sum("score_e6"), lit(0L)).as("score_sum"),
            coalesce(sum(col("doc_id") * col("rank")), lit(0L)).as("dr_sum"),
            coalesce(sum("n_terms"), lit(0L)).as("terms_sum"))
          .select(lit(phase).as("phase"), col("n_rows"), col("score_sum"),
            col("dr_sum"), col("terms_sum"))
      val qs = TextQueries.retQueries(s, dir)
      def asOf(bound: Long, phase: String) = phaseAgg(
        graft.operators.PostingsStore.bm25DocTopKAsOf(s, s"$tmp/store", qs, 10, bound),
        phase)
      // all four phases read the same final store state (the stream and
      // the takedown both precede them) — fold into ONE collect so the
      // per-phase broadcast chains build concurrently instead of
      // serializing 4 × 3 job rounds (guide §2.6; r20 — the
      // postings_asof spelling)
      val out = asOf(0L, "asof0")
        .unionByName(asOf(2L, "asof2"))
        .unionByName(asOf(3L, "asof3"))
        .unionByName(phaseAgg(graft.operators.PostingsStore.bm25DocTopK(
          s, s"$tmp/store", qs, 10), "live"))
      val rows = out.collect().toSeq
      val outSchema = out.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // four as-of phases over the streamed index, each the one-shot
      // aggregate over exactly the corpus its operation bound selects:
      // the first streamed third / all three / all minus the op-3
      // takedown / the live view (== the last bound)
      s"""WITH b0 AS MATERIALIZED (${TextQueries.bm25DocOracleSqlOver(
        "doc_id IN (SELECT doc_id FROM (SELECT doc_id, ntile(3) OVER (ORDER BY doc_id) AS nt FROM rdocs) WHERE nt = 1)")}),
b2 AS MATERIALIZED (${TextQueries.bm25DocOracleSqlOver("TRUE")}),
b3 AS MATERIALIZED (${TextQueries.bm25DocOracleSqlOver("doc_id % 5 <> 0")}),
a0 AS (${TextQueries.retrievalAggSql("b0")}),
a2 AS (${TextQueries.retrievalAggSql("b2")}),
a3 AS (${TextQueries.retrievalAggSql("b3")})
SELECT 'asof0' AS phase, * FROM a0
UNION ALL SELECT 'asof2' AS phase, * FROM a2
UNION ALL SELECT 'asof3' AS phase, * FROM a3
UNION ALL SELECT 'live' AS phase, * FROM a3"""),

    // ONLINE DOCUMENT UPSERT — the re-crawl lifecycle driven through
    // foreachBatch: each micro-batch of updated documents becomes a
    // takedown of the ids at op 2k+1 then a re-add of the new text at
    // op 2k+2 (both ids derived from the batch id, so the operation
    // axis stays monotone and an at-least-once REDELIVERY is
    // exactly-once net: the delete skips its READY batch, the append
    // overwrites its own subtree). Serving after the stream must equal
    // the one-shot replay over the LAST-WRITER corpus; the redelivered
    // batch must not move it; the fold must be result-invisible
    Gate("stream_postings_reindex", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-reidx").toString
      val d = TextQueries.retDocs(s, dir).select("doc_id", "text")
      graft.operators.PostingsStore.build(d, s"$tmp/store")
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      // two update waves over disjoint doc subsets, delivered in order
      Seq(10 -> "updza updzb", 15 -> "updzc").zipWithIndex.foreach {
        case ((m, extra), i) =>
          d.filter(col("doc_id") % m === 0)
            .select(col("doc_id"), concat(col("text"), lit(" " + extra)).as("text"))
            .coalesce(1).write.parquet(s"$tmp/stage$m")
          val part = new java.io.File(s"$tmp/stage$m").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dest = java.nio.file.Paths.get(f"$tmp/in/upd$i%04d.parquet")
          Files.copy(part.toPath, dest)
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          // two store ops, one read; scoped release — both consumers
          // finish inside the batch
          val batch = graft.operators.CheckpointScope.checkpoint(b.toDF())
          try {
            graft.operators.PostingsStore.deleteDocs(s, s"$tmp/store",
              batch.select("doc_id"), 2 * id + 1)
            graft.operators.PostingsStore.appendBatch(batch, s"$tmp/store", 2 * id + 2)
          } finally graft.operators.CheckpointScope.release(batch)
        }
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      def phaseAgg(phase: String) =
        graft.operators.PostingsStore.bm25DocTopK(
            s, s"$tmp/store", TextQueries.retQueries(s, dir), 10)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum("score_e6"), lit(0L)).as("score_sum"),
            coalesce(sum(col("doc_id") * col("rank")), lit(0L)).as("dr_sum"),
            coalesce(sum("n_terms"), lit(0L)).as("terms_sum"))
          .select(lit(phase).as("phase"), col("n_rows"), col("score_sum"),
            col("dr_sum"), col("terms_sum"))
      val streamed = phaseAgg("streamed")
      val rowsPre = streamed.collect().toSeq
      // at-least-once redelivery of the ENTIRE first update wave
      locally {
        val wave = graft.operators.CheckpointScope.checkpoint(
          s.read.parquet(s"$tmp/in").filter(col("text").endsWith("updzb")))
        try {
          graft.operators.PostingsStore.deleteDocs(s, s"$tmp/store",
            wave.select("doc_id"), 1L)
          graft.operators.PostingsStore.appendBatch(wave, s"$tmp/store", 2L)
        } finally graft.operators.CheckpointScope.release(wave)
      }
      val rowsMid = rowsPre ++ phaseAgg("replayed").collect().toSeq
      graft.operators.PostingsStore.compact(s, s"$tmp/store")
      val rows = rowsMid ++ phaseAgg("folded").collect().toSeq
      val outSchema = streamed.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the LAST-WRITER corpus replay: the second update wave (%15) wins
      // over the first (%10) on their %30 overlap — streamed upsert,
      // whole-wave redelivery, and the physical fold all collapse to it
      s"""WITH upd_base AS MATERIALIZED (${TextQueries.bm25DocOracleSqlOver("TRUE", "TRUE",
        "CASE WHEN doc_id % 15 = 0 THEN text || ' updzc' " +
        "WHEN doc_id % 10 = 0 THEN text || ' updza updzb' ELSE text END")}),
ua AS (${TextQueries.retrievalAggSql("upd_base")}),
phases(phase) AS (VALUES ('streamed'), ('replayed'), ('folded'))
SELECT phase, n_rows, score_sum, dr_sum, terms_sum FROM phases, ua"""),

    // ONLINE TAKEDOWN FOR THE TEXT INDEX — deleteDocs driven through
    // foreachBatch with the BATCH ID as the delete id, so an
    // at-least-once replay overwrites its own marker/negative-partial
    // subtrees (replay-idempotent by construction, the appendBatch
    // discipline applied to deletion); the two streamed takedown lists
    // OVERLAP (%5 and %7 share the %35 docs), so the gate also proves
    // the overlap anti-join online: each doc's stats subtract exactly
    // once regardless of batch arrival order. Phase 'streamed' serves
    // through markers + negative partials; 'compacted' after the
    // physical fold — both must equal the filtered-corpus replay.
    Gate("stream_postings_takedown", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-ptd").toString
      val d = TextQueries.retDocs(s, dir).select("doc_id", "text")
      graft.operators.PostingsStore.build(d, s"$tmp/store")
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Seq(5, 7).zipWithIndex.foreach { case (m, i) =>
        d.filter(col("doc_id") % m === 0).select("doc_id")
          .coalesce(1).write.parquet(s"$tmp/stage$m")
        val part = new java.io.File(s"$tmp/stage$m").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath,
          java.nio.file.Paths.get(f"$tmp/in/del$i%04d.parquet"))
      }
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.operators.PostingsStore.deleteDocs(s, s"$tmp/store", b.toDF(), id)
        }
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      def phaseRows(phase: String) = {
        val out = graft.operators.PostingsStore.bm25DocTopK(
            s, s"$tmp/store", TextQueries.retQueries(s, dir), 10)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum("score_e6"), lit(0L)).as("score_sum"),
            coalesce(sum(col("doc_id") * col("rank")), lit(0L)).as("dr_sum"),
            coalesce(sum("n_terms"), lit(0L)).as("terms_sum"))
          .select(lit(phase).as("phase"), col("n_rows"), col("score_sum"),
            col("dr_sum"), col("terms_sum"))
        (out.collect().toSeq, out.schema) // eager: compact mutates trees
      }
      val (streamed, outSchema) = phaseRows("streamed")
      graft.operators.PostingsStore.compact(s, s"$tmp/store")
      val (compacted, _) = phaseRows("compacted")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            streamed ++ compacted).asJava), outSchema)
    },
      // the filtered-corpus replay (both streamed takedown lists applied,
      // overlap counted once), emitted once per serving phase — the
      // marker/negative-partial read AND the physical fold must both
      // collapse to it
      s"""WITH base AS MATERIALIZED (
${TextQueries.bm25DocOracleSqlOver("doc_id % 5 <> 0 AND doc_id % 7 <> 0")}),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(coalesce(sum(score_e6), 0) AS BIGINT) AS score_sum,
    CAST(coalesce(sum(doc_id * rank), 0) AS BIGINT) AS dr_sum,
    CAST(coalesce(sum(n_terms), 0) AS BIGINT) AS terms_sum
  FROM base),
phases(phase) AS (VALUES ('streamed'), ('compacted'))
SELECT phase, n_rows, score_sum, dr_sum, terms_sum FROM phases, agg"""),

    Gate("stream_hll", (s, dir) => {
      val tmp = Files.createTempDirectory("graft-stream-hll").toString
      // same vocabulary-widening fixture as the batch sketch gates
      // (the raw corpus is ~31 distinct terms — small-range regime)
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text", expr(SketchQueries.AugSql))
        .select("doc_id", "text")
        .repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Sketches.hllRegisters(batch)
            .write.mode("append").parquet(s"$tmp/sketch")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val merged = s.read.parquet(s"$tmp/sketch")
        .groupBy("reg").agg(max(col("rho")).as("rho"))
      val est = graft.operators.Sketches.hllEstimate(merged)
      val rows = est.collect().toSeq
      val outSchema = est.schema
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      // the batch spelling of the streamed sketch: registers over the
      // whole corpus, then the estimator — equality IS the merge law
      s"""WITH ${SketchQueries.regCte},
sm AS (SELECT sum(CAST(1 AS BIGINT) << (53 - rho)) AS s FROM regs)
SELECT ${SketchQueries.estExpr} AS n_est FROM sm""")
  ).map(g => g.copy(run = (s, d) => g.run(streamSession(s), d)))

  /** Session clone sized for the STREAMING gates' per-trigger volume.
    *
    * Stateful streaming cost on the micro-batch path is dominated by
    * fixed per-(partition × state store × trigger) overhead: every
    * trigger snapshots/deltas each state-store instance (a stream-stream
    * join keeps FOUR stores per shuffle partition) and commits each sink
    * partition. The batch-mode session carries `shuffle.partitions` =
    * cores — right for the batch gates' scans, ~8× too many state
    * instances for triggers that each carry a few thousand rows. The
    * clone pins `shuffle.partitions` low for everything launched from
    * it, which fixes the STATE-STORE partition count at first query
    * start (a streaming query's state partitioning is immutable per
    * checkpoint, so it must be set before `start()`, not per-batch).
    *
    * 100-TB sizing note: this constant is the LOCAL-GATE setting, not a
    * design limit — on a real cluster the same knob
    * (`spark.sql.shuffle.partitions` on the query's session, or AQE for
    * the stateless stages) is sized to per-trigger volume / target
    * partition size exactly as for batch; state partitioning is a
    * per-checkpoint deployment choice. `minBatchesToRetain` = 2 trims
    * checkpoint retention the short-lived gate queries never replay.
    */
  private def streamSession(s: SparkSession): SparkSession = {
    val c = s.newSession()
    c.conf.set("spark.sql.shuffle.partitions", "4")
    c.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    c
  }
}
