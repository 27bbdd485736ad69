package graft.perfbench

import org.apache.spark.sql.perfbench.Counters

/**
 * The traced run's per-layer metrics, derived from the recorded spans,
 * the listener counters attributed to them and the benchmark-side
 * values. Every workload reports every metric; a layer the workload
 * does not touch reads 0.
 */
object Layers {

  /** Layer calls timed by a span of the same name: p50 ms per call. */
  val SpanMetrics: Seq[String] = Seq(
    "PointStore.open", "PointStore.knn_probe", "SpatioTemporal.knn_probe",
    "PointStore.append", "PointStore.delete", "PointStore.deleteRange",
    "PointStore.live", "PointStore.compactDeletes",
    "StreamingIngest.start", "StreamingIngest.compactOversizedFiles", "StreamingIngest.recluster",
    "StreamingIngest.adaptiveStatsView",
    "PostingsStore.bm25DocTopK", "VectorStore.topK",
    "PostingsStore.appendBatch", "VectorStore.appendBatch",
    "PostingsStore.deleteDocs", "VectorStore.deleteVecs",
    "PostingsStore.compact", "VectorStore.compact",
    "Dedup.incrementalKeepers")

  /** (name, unit, better) of every per-layer metric, in output order. */
  val Metrics: Seq[(String, String, String)] =
    Seq(("plans.plan_ms", "ms", "lower"), ("plans.zkey_intervals", "count", "lower")) ++
    SpanMetrics.map(n => (s"${n}_ms", "ms", "lower")) ++
    Seq(
      ("PointStore.knn_probe_jobs", "count", "lower"),
      ("SpatioTemporal.knn_probe_jobs", "count", "lower"),
      ("scan.files_read", "count", "lower"),
      ("scan.bytes_read", "bytes", "lower"),
      ("scan.rows_read", "count", "lower"),
      ("scan.rows_read_per_row_returned", "ratio", "lower"),
      ("streaming.triggers", "count", "higher"),
      ("streaming.trigger_ms", "ms", "lower"),
      ("streaming.add_batch_ms", "ms", "lower"),
      ("streaming.rows_per_trigger", "count", "higher"),
      ("streaming.loop_overhead_ms", "ms", "lower"),
      ("StoreSwap.subtrees", "count", "lower"),
      ("Dedup.keep_ratio", "ratio", "lower"),
      ("spark.jobs", "count", "lower"),
      ("spark.stages", "count", "lower"),
      ("spark.tasks", "count", "lower"),
      ("spark.task_run_ms", "ms", "lower"),
      ("spark.task_cpu_ms", "ms", "lower"),
      ("spark.scheduler_delay_ms", "ms", "lower"),
      ("spark.shuffle_write_bytes", "bytes", "lower"),
      ("spark.shuffle_read_bytes", "bytes", "lower"),
      ("spark.spill_bytes", "bytes", "lower"),
      ("spark.output_bytes", "bytes", "lower"),
      ("spark.failed_tasks", "count", "lower"),
      ("jvm.gc_ms", "ms", "lower"),
      ("store.files", "count", "lower"),
      ("store.bytes", "bytes", "lower"),
      ("trace.overhead_ms_per_op", "ms", "lower"),
      ("trace.read_geomean_ms", "ms", "lower"))

  /** The 2-D range operations, whose scans `plans.zkey_intervals` counts. */
  private val RangeOps = Set("range", "fresh_range")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Counters of every span of each operation, folded per operation. */
  def perOp(tr: Tracer): Seq[(Span, Counters)] = {
    val spans = tr.spans
    val byOp = spans.groupBy(_.op)
    spans.filter(s => s.op == s.id).map { root =>
      val c = new Counters
      byOp.getOrElse(root.id, Nil).foreach(s => c.add(tr.counters(s.id)))
      (root, c)
    }
  }

  def compute(tr: Tracer, out: Outcome, readOps: Set[String]): Seq[(String, Double)] = {
    val spans = tr.spans
    val ops = perOp(tr)
    val reads = ops.filter { case (s, _) => readOps(s.opType) }.map(_._2)
    // Spark work outside the timed operations (set-up, oracles) is not counted
    val all = new Counters
    ops.foreach { case (_, c) => all.add(c) }
    def perRead(f: Counters => Long): Double =
      if (reads.isEmpty) 0.0 else reads.map(f).sum.toDouble / reads.size
    def perOpAll(f: Counters => Long): Double =
      if (ops.isEmpty) 0.0 else f(all).toDouble / ops.size
    def spanMs(name: String): Double = med(spans.filter(_.name == name).map(_.ms))
    def jobsPerCall(name: String): Double =
      med(spans.filter(_.name == name).map(s => tr.counters(s.id).jobs.toDouble))
    val trig = tr.triggers
    val nTrig = trig.map(_.triggers).getOrElse(0L)
    def perTrigger(f: org.apache.spark.sql.perfbench.TriggerListener => Long): Double =
      if (nTrig == 0) 0.0 else trig.map(f).getOrElse(0L).toDouble / nTrig
    val returned = tr.valuesOf("rows_returned").sum
    val (storeBytes, storeFiles) = out.storeDirs.map(Run.dirUsage)
      .foldLeft((0L, 0L)) { case ((b, f), (b1, f1)) => (b + b1, f + f1) }
    val values: Map[String, Double] = Map(
      "plans.plan_ms" -> perRead(_.planMs),
      "plans.zkey_intervals" -> med(ops.collect {
        case (s, c) if RangeOps(s.opType) => c.zkeyIntervals.toDouble }),
      "PointStore.knn_probe_jobs" -> jobsPerCall("PointStore.knn_probe"),
      "SpatioTemporal.knn_probe_jobs" -> jobsPerCall("SpatioTemporal.knn_probe"),
      "scan.files_read" -> perRead(_.scanFiles),
      "scan.bytes_read" -> perRead(_.scanBytes),
      "scan.rows_read" -> perRead(_.scanRows),
      "scan.rows_read_per_row_returned" ->
        (if (returned > 0) reads.map(_.scanRows).sum / returned else 0.0),
      "streaming.triggers" -> nTrig.toDouble,
      "streaming.trigger_ms" -> perTrigger(_.triggerMs),
      "streaming.add_batch_ms" -> perTrigger(_.addBatchMs),
      "streaming.rows_per_trigger" -> perTrigger(_.rows),
      "streaming.loop_overhead_ms" -> perTrigger(t => t.triggerMs - t.addBatchMs),
      "StoreSwap.subtrees" -> med(tr.valuesOf("StoreSwap.subtrees")),
      "Dedup.keep_ratio" -> med(tr.valuesOf("Dedup.keep_ratio")),
      "spark.jobs" -> perOpAll(_.jobs),
      "spark.stages" -> perOpAll(_.stages),
      "spark.tasks" -> perOpAll(_.tasks),
      "spark.task_run_ms" -> perOpAll(_.taskRunMs),
      "spark.task_cpu_ms" -> perOpAll(_.taskCpuMs),
      "spark.scheduler_delay_ms" -> perOpAll(_.schedulerDelayMs),
      "spark.shuffle_write_bytes" -> perOpAll(_.shuffleWriteBytes),
      "spark.shuffle_read_bytes" -> perOpAll(_.shuffleReadBytes),
      "spark.spill_bytes" -> perOpAll(_.spillBytes),
      "spark.output_bytes" -> perOpAll(_.outputBytes),
      "spark.failed_tasks" -> all.failedTasks.toDouble,
      "jvm.gc_ms" -> out.figures.getOrElse("jvm.gc_ms", 0.0),
      "store.files" -> storeFiles.toDouble,
      "store.bytes" -> storeBytes.toDouble,
      "trace.overhead_ms_per_op" -> (if (ops.isEmpty) 0.0 else tr.overheadMs / ops.size),
      "trace.read_geomean_ms" -> (if (out.reads.isEmpty) 0.0 else Stats.geomean(out.reads.toSeq))
    ) ++ SpanMetrics.map(n => s"${n}_ms" -> spanMs(n))
    Metrics.map { case (n, _, _) => n -> values(n) }
  }

  /** Count, total and p50 per operation type of every counter — the
    * breakdown the trace file carries beside the flat metrics. */
  def byOpType(tr: Tracer): Seq[(String, Seq[(String, (Int, Double, Double))])] = {
    val fields: Seq[(String, Counters => Double)] = Seq(
      "jobs" -> (_.jobs.toDouble), "stages" -> (_.stages.toDouble),
      "tasks" -> (_.tasks.toDouble), "task_run_ms" -> (_.taskRunMs.toDouble),
      "task_cpu_ms" -> (_.taskCpuMs.toDouble),
      "scheduler_delay_ms" -> (_.schedulerDelayMs.toDouble),
      "shuffle_write_bytes" -> (_.shuffleWriteBytes.toDouble),
      "shuffle_read_bytes" -> (_.shuffleReadBytes.toDouble),
      "spill_bytes" -> (_.spillBytes.toDouble), "output_bytes" -> (_.outputBytes.toDouble),
      "failed_tasks" -> (_.failedTasks.toDouble), "plan_ms" -> (_.planMs.toDouble),
      "scan_files" -> (_.scanFiles.toDouble), "scan_bytes" -> (_.scanBytes.toDouble),
      "scan_rows" -> (_.scanRows.toDouble), "zkey_intervals" -> (_.zkeyIntervals.toDouble))
    perOp(tr).groupBy(_._1.opType).toSeq.sortBy(_._1).map { case (t, xs) =>
      val lat = xs.map(_._1.ms)
      t -> ((("latency_ms", (xs.size, lat.sum, med(lat)))) +: fields.map { case (n, f) =>
        val v = xs.map(x => f(x._2))
        n -> ((xs.size, v.sum, med(v)))
      })
    }
  }
}
