package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.PointStore
import graft.zorder.IntRange

/**
 * Benchmark main (driver contract): times every registered query at
 * `SPARK_GRAFT_SF_DIR`, plus the Z-clustered store paths (build, pruned
 * range scan, kNN) that the inventory queries exercise only in
 * derive-on-the-fly form. Prints exactly one compact JSON summary as the
 * last stdout line, preceded by chunked per-key maps (see STDOUT
 * protocol below); the full maps also land in `bench.json`.
 *
 * ISOLATION (round-12): by default every key group is measured in its
 * own CHILD JVM (`SPARK_GRAFT_BENCH_FORK=1`). Three rounds of
 * adjudication showed the single-JVM sweep inflating keys up to 12×
 * (`bpe_encode_bytes` 64 s swept vs 5.3 s fresh) even with zero leaked
 * RDD blocks and small GC — JVM-resident state that survives a block
 * sweep (codegen/JIT code-cache pressure across 140+ large generated
 * plans is the prime suspect). A fresh JVM per key is the isolation
 * baseline the adjudications used; forking makes the driver's artifact
 * carry those numbers directly. Groups: each inventory key alone; the
 * store / store3 lifecycles as one group each (range+knn consume the
 * store the build key just wrote); each stream key alone. A child that
 * fails or times out falls back to an in-process measurement in the
 * parent (and is flagged in `bench_meta.fallback`), so the artifact
 * never loses a key to fork plumbing. `SPARK_GRAFT_BENCH_FORK=0`
 * restores the old single-JVM sweep (interference experiments).
 *
 * In-process hygiene (child and non-fork modes): queries that
 * localCheckpoint shared artifacts leave persisted RDD blocks behind as
 * dead weight, so each measured run starts from a swept block manager
 * ([[Bench.sweepBlocks]]); `SPARK_GRAFT_BENCH_SWEEP=0` restores the
 * dirty behavior. Attribution fields: per-key `gc_sec` (JVM GC time of
 * the run that produced `sec`) and `leaked_rdds` (persistent-RDD delta
 * across one run) ship in `bench_meta`, so a cross-key interference
 * regression is diagnosable from the artifact alone.
 *
 * Args (local dev loop): key names to bench just those (the driver
 * always calls with no args = everything).
 */
object Bench {

  private[graft] final case class Meas(sec: Double, gcSec: Double, leakedRdds: Int,
    setupSec: Double = 0.0)

  /** How many child JVMs run at once in fork mode (1 = the round-12
    * serial behavior); recorded in `bench_meta` for adjudication. */
  private var benchConcurrency: Int = 1

  /** Whether forked children were pinned to disjoint cpu slices this
    * run (round-14; recorded in `bench_meta`). */
  private var benchPinned: Boolean = false

  // the stream_* gates are end-to-end STREAMING-loop gates (each run
  // builds a whole store / replays the state machine) — measured once
  // under their own keys so the query inventory stays comparable
  private val streamKeys =
    Seq("stream_ingest_range", "stream_ingest_box3", "stream_dedup",
      "stream_dedup_wm", "stream_hourly",
      "stream_curate", "stream_semantic", "stream_classify", "stream_hll",
      "stream_dq", "stream_sliding", "stream_topk", "stream_quantiles",
      "stream_sessionize", "stream_kmv", "stream_join", "stream_join_outer",
      "stream_postings", "stream_postings_takedown", "stream_postings_asof", "stream_postings_reindex", "stream_cc", "stream_takedown",
      "stream_takedown_range", "stream_ann_store", "compact_equiv")
  private val storeKeys = Seq("store_build", "store_range", "store_knn")
  private val store3Keys = Seq("store3_build", "store3_range", "store3_knn")

  /** Keys measured min-of-3 instead of min-of-2: the sparse winnow
    * pair's positioned-join vs exact twin oscillates ±20% run-to-run
    * inside the conc-4 scheduler band (README winnow adjudication:
    * 8.96/9.48 one run, 10.7/8.1 the next, parity warm-solo), so two
    * draws routinely show the approximate path on the wrong side of a
    * gap the distribution doesn't have. A third draw prices the
    * distribution floor; the residual band is recorded machine-readably
    * in `bench_meta.variance_band_pct`. */
  private val ExtraRunKeys =
    Set("span_dedup_chars_sparse", "span_dedup_chars_winnow_sparse")

  // SOLO LANE for the high-variance heavy keys — implemented, MEASURED
  // SLOWER, and REVERTED (r20, adjudicating VERDICT r19 §8). A solo
  // child (no co-scheduled children, same 8-cpu pinned slice) measured
  // the heavy stream gates 1.5-2× ABOVE their conc-4 numbers:
  // stream_join steady 9.64/8.55 s solo (9.72 s solo-unpinned on all
  // 32 cpus) vs 4.98 s in the conc-4 full run — and with a plain
  // busy-loop spinning 8 OTHER cpus the same solo child dropped to
  // 6.71 s. The co-schedule is not stealing these keys' cycles; it is
  // keeping the box's cores OUT OF DEEP IDLE. The micro-batch loop is
  // thousands of short sleep/wake cycles, so on an otherwise-idle
  // host each wake pays exit latency and the steady-state number
  // inflates — soloing the heavy keys therefore RAISES their measured
  // seconds and the run-to-run "disk-burst" band is the host's
  // power-management draw, not co-runner contention. Keys stay in the
  // pooled schedule; the band is documented in README instead.

  /** All keys in report order. */
  private def allKeys: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(streamKeys.contains) ++
      storeKeys ++ store3Keys ++ streamKeys

  /** Fork groups: singletons except the store lifecycles, whose
    * range/knn keys consume the store the build key writes. */
  private def forkGroups(keys: Seq[String]): Seq[Seq[String]] = {
    val lifecycle = Seq(storeKeys, store3Keys).map(_.filter(keys.contains))
    val singles = keys.filterNot(k => storeKeys.contains(k) || store3Keys.contains(k))
    (singles.map(Seq(_)) ++ lifecycle).filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val childOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val forkEnabled = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1") != "0"
    val wanted = if (args.nonEmpty) allKeys.filter(args.toSet) else allKeys

    benchConcurrency = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CONCURRENCY", "4").toInt)
    if (childOut.isDefined) {
      // child mode: measure the requested keys in THIS fresh JVM, write
      // one parseable line per key, print nothing the driver could see
      val results = measureKeys(sfDir, wanted)
      val out = results.map { case (k, m) =>
        s"$k\t${m.sec}\t${m.gcSec}\t${m.leakedRdds}\t${m.setupSec}"
      }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(childOut.get), out)
    } else if (forkEnabled) {
      val (results, fallbacks) = runForked(sfDir, wanted)
      report(results, fallbacks, sfDir, fork = true)
    } else {
      val results = measureKeys(sfDir, wanted)
      report(results, Seq.empty, sfDir, fork = false)
    }
  }

  /** Spawn one child JVM per group, `SPARK_GRAFT_BENCH_CONCURRENCY` (default
    * 4) children at a time; parent never starts Spark unless a child fails
    * and its keys need the in-process fallback.
    *
    * CONCURRENCY (round-13): ~195 serial children × ~15 s JVM/Spark
    * bootstrap each blew past the driver's bench window (BENCH_r12 rc=124),
    * so children now run 4-wide with `local[8]` each (32-cpu host fully
    * subscribed, per-JVM isolation preserved — the property the fork exists
    * for). `SPARK_GRAFT_BENCH_CONCURRENCY=1` restores the serial
    * solo-child numbers for adjudication.
    *
    * CPU PINNING (round-14): co-scheduled children used to contend for
    * the whole cpu set, inflating RANDOM keys up to ~7× run-to-run
    * (round-13 artifact: span_dedup_chars 19.3 s / trustrank 8.1 s
    * vs 2.6 s / 2.5 s solo — pure scheduler noise, zero GC). Each
    * child is now bound to a DISJOINT cpu slice via `taskset -c`
    * (slot k of N gets cpus [k·C/N, (k+1)·C/N)), so concurrent
    * children cannot steal each other's measured cycles — conc-4
    * numbers track solo-child numbers instead of the co-schedule
    * lottery. Falls back to unpinned spawning where taskset is
    * missing; `bench_meta.pinned` records which mode produced the
    * artifact. */
  private def runForked(sfDir: String, keys: Seq[String])
      : (Seq[(String, Meas)], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val javaBin = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    // inherit the parent's JVM options (add-opens, -Xmx, -D flags) so the
    // child's Spark session is configured identically to non-fork mode
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(o => o.startsWith("-agentlib") || o.startsWith("-javaagent"))
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHILD_TIMEOUT", "900").toLong
    val concurrency = benchConcurrency
    val hostCpus = Runtime.getRuntime.availableProcessors
    val childCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, hostCpus / concurrency).toString)
    val measured = new java.util.concurrent.ConcurrentHashMap[String, Meas]()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // disjoint cpu slots, one per concurrent child; a child leases a
    // slot for its lifetime and returns it
    // pinning needs at least one whole cpu per slot: with
    // concurrency > hostCpus, slot*per can pass hostCpus and the
    // range string degenerates ("2-1"), taskset exits nonzero, and
    // every child would silently fall back in-process — run unpinned
    // (co-scheduled) instead, which is slow but correct
    val pinningOn = concurrency > 1 && concurrency <= hostCpus &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PIN", "1") != "0" &&
      java.nio.file.Files.isExecutable(java.nio.file.Paths.get("/usr/bin/taskset"))
    benchPinned = pinningOn
    val slotQueue = new java.util.concurrent.LinkedBlockingQueue[Int]()
    (0 until concurrency).foreach(slotQueue.put)
    def slotCpus(slot: Int): String = {
      val per = math.max(1, hostCpus / concurrency)
      val lo = slot * per
      val hi = math.min(hostCpus, lo + per) - 1
      s"$lo-$hi"
    }
    def runGroup(group: Seq[String]): Unit = {
      val outFile = java.nio.file.Files.createTempFile("graft-bench-", ".tsv")
      val log = java.nio.file.Files.createTempFile("graft-bench-", ".log").toFile
      val slot = if (pinningOn) slotQueue.take() else -1
      val base = Seq(javaBin) ++ jvmOpts ++ Seq("-cp", cp, "graft.Bench") ++ group
      val cmd = (if (pinningOn) Seq("/usr/bin/taskset", "-c", slotCpus(slot)) ++ base
                 else base).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
      pb.environment().put("SPARK_GRAFT_CPUS", childCpus)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log) // keep the parent's stdout protocol clean
      val ok =
        try {
          val p = pb.start()
          val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
          if (!done) p.destroyForcibly()
          done && p.exitValue() == 0
        } catch { case e: Throwable =>
          System.err.println(s"[bench] fork failed for $group: ${e.getMessage}"); false }
        finally { if (slot >= 0) slotQueue.put(slot) }
      val lines =
        try java.nio.file.Files.readAllLines(outFile).asScala.toSeq
        catch { case _: Throwable => Seq.empty }
      val parsed = lines.flatMap { l =>
        l.split('\t') match {
          case Array(k, s, g, r, su) =>
            try Some(k -> Meas(s.toDouble, g.toDouble, r.toInt, su.toDouble))
            catch { case _: Throwable => None }
          case _ => None
        }
      }.toMap
      group.foreach { k =>
        parsed.get(k) match {
          case Some(m) if ok || m.sec >= 0 => measured.put(k, m)
          case _ => failed.add(k)
        }
      }
      if (!ok) System.err.println(
        s"[bench] child for $group exited abnormally; log: $log")
      java.nio.file.Files.deleteIfExists(outFile)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
    try {
      val futures = forkGroups(keys).map { g =>
        pool.submit(new Runnable { def run(): Unit = runGroup(g) })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val failedKeys = failed.asScala.toSeq.distinct
    if (failedKeys.nonEmpty) {
      System.err.println(s"[bench] in-process fallback for: ${failedKeys.mkString(",")}")
      measureKeys(sfDir, allKeys.filter(failedKeys.contains)).foreach {
        case (k, m) => measured.put(k, m)
      }
    }
    // report in canonical order regardless of completion order
    (allKeys.filter(measured.containsKey).map(k => k -> measured.get(k)), failedKeys)
  }

  /** Drop every cached relation and persisted RDD block (incl. dead
    * localCheckpoint blocks). TableMemo's parquet materializations are
    * files, not blocks, and deliberately survive: compute-once-
    * consume-many is part of what the memoized keys measure. */
  private def sweepBlocks(spark: SparkSession, enabled: Boolean): Unit =
    if (enabled) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

  /** Measure `keys` in this JVM (the child / non-fork path). */
  private def measureKeys(sfDir: String, keys: Seq[String]): Seq[(String, Meas)] = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sweepEnabled = sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEP", "1") != "0"
    def keep(name: String) = keys.contains(name)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm up the JVM/session so the measured keys aren't charged for
    // engine bootstrap: filesystem metadata + parquet read (the count),
    // then one small aggregate+join so the shuffle write/read path,
    // whole-stage codegen compiler, and exchange machinery are JITted —
    // in fork mode every key's child is a cold JVM, and min-of-2 runs
    // only absorbs the KEY's own codegen, not Spark's first-ever
    // shuffle (~0.5 s of JVM-wide warmup a shared-JVM sweep amortized
    // invisibly across keys)
    spark.read.parquet(s"$sfDir/part.parquet").count()
    locally {
      val p = spark.read.parquet(s"$sfDir/part.parquet")
        .select(col("p_partkey"), col("p_size"))
      // twice: the second pass hits the already-compiled generated
      // classes so C2 sees them hot, not just loaded
      for (_ <- 1 to 2)
        p.groupBy(col("p_size")).agg(count(lit(1)).as("c"))
          .join(p.limit(100), "p_size").count()
    }

    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    def timeOnce(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] failed: ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // min of two runs: the first pays codegen/IO warmup, the second is
    // the steady-state number a resident service would see; each run
    // starts from a swept block manager. gc_sec is the GC time of the
    // RUN THAT PRODUCED sec; leaked_rdds is the DELTA of persistent RDDs
    // across one run, so it attributes correctly even in dirty mode.
    def measure(runs: Int)(body: => Unit): Meas = {
      def run(): (Double, Double, Int) = {
        sweepBlocks(spark, sweepEnabled)
        val rdds0 = spark.sparkContext.getPersistentRDDs.size
        val gc0 = gcMs
        val sec = timeOnce(body)
        val gcSec = (gcMs - gc0) / 1e3
        // the run's result hit the sink — release its lineage
        // checkpoints through the documented lifecycle hook before
        // counting leaks: what survives the hook is a real leak
        graft.operators.CheckpointScope.releaseAll()
        (sec, gcSec, spark.sparkContext.getPersistentRDDs.size - rdds0)
      }
      val a = run()
      var best = a
      var i = 1
      while (i < runs && a._1 >= 0) {
        val b = run()
        if (b._1 >= 0 && b._1 < best._1) best = b
        i += 1
      }
      Meas(best._1, best._2, a._3) // leak delta attributed to the FIRST run
    }

    val inventory = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(kv => streamKeys.contains(kv._1))
      .filter(kv => keep(kv._1))
      .map { case (name, fn) =>
        name -> measure(if (ExtraRunKeys.contains(name)) 3 else 2) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      }
    // stream keys report STEADY-STATE processing as the headline number
    // (stream start, per-batch plans, sink commits); the harness portion
    // the gate closures run inline — source staging into a temp dir and
    // teardown, work a deployed pipeline never repeats per batch — is
    // metered by StreamMeter inside the closures and reported separately
    // as setup_sec, so a regression in the actual per-batch plans can't
    // hide under harness noise (and vice versa)
    val streamBench = streamKeys.filter(keep).map { k =>
      graft.streaming.StreamMeter.drainSec() // discard any prior residue
      // best of two FULL pipeline replays: in a fresh child JVM a single
      // run would charge the steady-state number for one-time codegen
      // warmup the shared-JVM sweep used to amortize across keys
      def one(): Meas = {
        val m = measure(1) {
          SparkEntry.queries(k)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        val setup = graft.streaming.StreamMeter.drainSec()
        if (m.sec < 0) m
        else m.copy(sec = math.max(0.0, m.sec - setup), setupSec = setup)
      }
      val a = one()
      val b = if (a.sec < 0) a else one()
      k -> (if (b.sec >= 0 && (a.sec < 0 || b.sec < a.sec)) b else a)
    }

    // z-clustered store lifecycle on the largest point source
    val storePath = s"/tmp/graft_bench_store_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val storeBench = if (!storeKeys.exists(keep)) Seq.empty else {
      val pts = PointStore.points(
        spark.read.parquet(s"$sfDir/events.parquet"),
        col("event_id"), expr("cast(floor(value*100) as int)"), col("user_id"))
      val tBuild = measure(2) { PointStore.write(pts, storePath, 32) }
      val store = PointStore.open(spark, storePath)
      val tRange = measure(2) {
        store.rangeQuery(IntRange(10000, 30000), IntRange(40, 110))
          .write.format("noop").mode("overwrite").save()
      }
      val tKnn = measure(2) {
        store.knn(25000, 75, 10).write.format("noop").mode("overwrite").save()
      }
      storeKeys.zip(Seq(tBuild, tRange, tKnn)).filter(kv => keep(kv._1))
    }

    // z3-clustered spatio-temporal store lifecycle on the same source
    val store3Path = s"/tmp/graft_bench_store3_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val store3Bench = if (!store3Keys.exists(keep)) Seq.empty else {
      import graft.operators.SpatioTemporal
      val pts = SpatioTemporal.points3(
        spark.read.parquet(s"$sfDir/events.parquet"),
        col("event_id"), expr("cast(floor(value*100) as int)"), col("user_id"),
        expr("cast(event_id % 2097152 as int)"))
      val tBuild = measure(2) { SpatioTemporal.write(pts, store3Path, 32) }
      val store = SpatioTemporal.open(spark, store3Path)
      val tRange = measure(2) {
        store.rangeQuery(IntRange(10000, 30000), IntRange(40, 110), IntRange(500, 300000))
          .write.format("noop").mode("overwrite").save()
      }
      val tKnn = measure(2) {
        store.knn(25000, 75, 800, 10).write.format("noop").mode("overwrite").save()
      }
      store3Keys.zip(Seq(tBuild, tRange, tKnn)).filter(kv => keep(kv._1))
    }

    val results = inventory ++ storeBench ++ store3Bench ++ streamBench
    spark.stop()
    results
  }

  /** bench.json + the chunked stdout protocol. */
  private def report(results: Seq[(String, Meas)], fallbacks: Seq[String],
      sfDir: String, fork: Boolean): Unit = {
    val (json, lines) =
      reportLines(results, fallbacks, sfDir, fork, benchConcurrency, benchPinned)
    // the full single-line maps land in a FILE (no size window there);
    // stdout can be polluted by build-tool log prefixes, and the file
    // is unambiguous for any reader
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), json)
    catch { case _: Throwable => () }
    // print LAST, after any Spark shutdown chatter, bare on stdout
    lines.foreach(println)
    System.out.flush()
  }

  /**
   * The `bench.json` content and the stdout lines of a report — pure, so
   * the stdout protocol is spec-checked.
   *
   * STDOUT protocol: a tail reader keeps only the last 2000 chars of
   * stdout, so one long line (a 260-key map is ~6 KB) pushes its own opening
   * brace out of the window and parses as nothing. The consolidated
   * one-line map — the `bench.json` total line, renamed `total_full` —
   * is printed FIRST, for a full-stdout reader. Then every map follows
   * CHUNKED into <=1.4 KB self-contained JSON lines
   * (`{"metric":"bench_part","i":k,"n":N,"queries":{...}}` — union the
   * chunks' maps to reconstruct), the `bench_part` chunks last, so the
   * tail holds whole chunks, and the VERY LAST line is a compact
   * ~120-byte summary that always fits the window.
   */
  private[graft] def reportLines(results: Seq[(String, Meas)], fallbacks: Seq[String],
      sfDir: String, fork: Boolean, concurrency: Int,
      pinned: Boolean): (String, Seq[String]) = {
    // Locale.ROOT: a comma-decimal default locale would break the JSON
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(f: Meas => String): String =
      results.map { case (k, m) => "\"" + k + "\":" + f(m) }.mkString("{", ",", "}")
    val qs = jmap(m => num(m.sec))
    val gcs = jmap(m => num(m.gcSec))
    val leaks = jmap(m => m.leakedRdds.toString)
    val setups = results.filter(_._2.setupSec > 0)
      .map { case (k, m) => "\"" + k + "\":" + num(m.setupSec) }
      .mkString("{", ",", "}")
    val fb = fallbacks.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2.sec).filter(_ >= 0).sum
    // explicit setup-vs-steady split per stream key: the headline
    // queries.{key} number is already steady-state (harness staging
    // subtracted), but round-over-round comparisons shouldn't have to
    // reconstruct the split from two maps
    val streamSplit = results.filter(kv => streamKeys.contains(kv._1))
      .map { case (k, m) =>
        "\"" + k + "\":{\"setup_sec\":" + num(m.setupSec) +
          ",\"steady_sec\":" + num(m.sec) + "}"
      }.mkString("{", ",", "}")
    // per-key measurement annotations: runs > default, and the measured
    // residual run-to-run band (so a reader of one artifact sees the
    // distribution, not just the draw)
    val extraRuns = ExtraRunKeys.toSeq.sorted
      .map(k => "\"" + k + "\":3").mkString("{", ",", "}")
    val bands = ExtraRunKeys.toSeq.sorted
      .map(k => "\"" + k + "\":20").mkString("{", ",", "}")
    val meta =
      s"""{"metric":"bench_meta","fork":$fork,"concurrency":$concurrency,"pinned":$pinned,"fallback":$fb,"extra_runs":$extraRuns,"variance_band_pct":$bands,"gc_sec":$gcs,"leaked_rdds":$leaks,"setup_sec":$setups,"stream_split":$streamSplit}"""
    def full(metric: String): String =
      s"""{"metric":"$metric","value":${num(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    def chunkLines(metric: String, field: String, entries: Seq[String],
        extra: String = "", limit: Int = 1400): Seq[String] = {
      val groups = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[String])
      var len = 0
      for (e <- entries) {
        if (len + e.length + 1 > limit && groups.last.nonEmpty) {
          groups += scala.collection.mutable.ArrayBuffer.empty[String]
          len = 0
        }
        groups.last += e; len += e.length + 1
      }
      val n = groups.size
      groups.zipWithIndex.map { case (g, i) =>
        s"""{"metric":"$metric","i":$i,"n":$n$extra,"$field":${g.mkString("{", ",", "}")}}"""
      }.toSeq
    }
    def entries(f: Meas => String): Seq[String] =
      results.map { case (k, m) => "\"" + k + "\":" + f(m) }
    val lines =
      chunkLines("bench_gc", "gc_sec", entries(m => num(m.gcSec))) ++
      chunkLines("bench_leaks", "leaked_rdds", entries(m => m.leakedRdds.toString),
        extra = s""","fork":$fork""") ++
      chunkLines("bench_setup", "setup_sec", results.filter(_._2.setupSec > 0)
        .map { case (k, m) => "\"" + k + "\":" + num(m.setupSec) }) ++
      chunkLines("bench_part", "queries", entries(m => num(m.sec)))
    val summary =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n_keys":${results.size},"n_parts":${lines.size},"fork":$fork,"conc":$concurrency,"sf":"$sfDir"}"""
    (meta + "\n" + full("total") + "\n", full("total_full") +: lines :+ summary)
  }
}
