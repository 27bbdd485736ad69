package graft.perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's entry point:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--out <dir>]
 *
 * Runs one workload in this JVM on `local[n]` (n = min(4, cores)),
 * checks every answer against its oracle, and prints as the last stdout
 * line one JSON object: `correct`, `attempted`, `failed` and `metrics`
 * (the end-to-end metrics untraced, the per-layer metrics traced).
 * The line before it carries the per-workload detail: sample count and
 * total time per operation type, the workload's figures and the first
 * errors. A traced run also writes its spans and per-operation-type
 * counters to `<out>/trace-<workload>-<seed>.json`. Exit code 0 only
 * when every operation succeeded and every answer was right.
 */
object Main {

  /** A workload: its runner, which of its operation types are reads,
    * which of those are k-nearest-neighbour reads, and which are writes
    * (mutations and maintenance). */
  final case class Workload(run: (Ctx, Outcome) => Unit, reads: Set[String],
                            knnReads: Set[String], writes: Set[String])

  val Workloads: Map[String, Workload] = Map(
    "point_store" -> Workload(PointWorkload.run,
      Set("get", "range", "knn", "st_range", "st_knn",
        "fresh_range", "fresh_knn", "live_read", "snapshot"),
      Set("knn", "st_knn", "fresh_knn"),
      Set("ingest", "split", "stats_view", "recluster", "takedown_eq", "takedown_range", "compact")),
    "corpus_serve" -> Workload(CorpusServe.run,
      Set("search", "search_asof", "ann"),
      Set("ann"),
      Set("dedup", "append", "takedown", "compact")))

  /** (name, unit) of the end-to-end metrics, reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_geomean_ms" -> "ms", "knn_mean_ms" -> "ms", "write_s" -> "s",
    "peak_rss_mb" -> "MB", "store_bytes_per_user_byte" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: String)

  def parse(args: Array[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.length % 2 != 0) Left("arguments come in --key value pairs")
    else for {
      w <- kv.get("workload").filter(Workloads.contains)
        .toRight(s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      seed <- kv.get("seed").flatMap(_.toLongOption).toRight("--seed must be an integer")
      secs <- kv.get("seconds").flatMap(_.toIntOption).filter(s => s >= 1 && s <= 600)
        .toRight("--seconds must be an integer in 1..600")
      trace <- kv.getOrElse("trace", "0") match {
        case "0" => Right(false); case "1" => Right(true)
        case t => Left(s"--trace must be 0 or 1, not $t")
      }
    } yield Args(w, seed, secs, trace, kv.getOrElse("out", ".bench_out"))
  }

  def session(dir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"perfbench: $msg"); sys.exit(2)
    }
    val w = Workloads(a.workload)
    val outDir = new java.io.File(a.out).getAbsoluteFile
    val runDir = new java.io.File(outDir,
      s"run-${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    runDir.mkdirs()
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = session(runDir.getPath, cores)
    val tracer = new Tracer(a.trace, spark)
    val out = new Outcome
    val ctx = Ctx(spark, a.seed, a.seconds, tracer, runDir.getPath + "/data")
    try w.run(ctx, out)
    catch {
      case NonFatal(e) =>
        out.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
    }
    tracer.drain()

    // the read p50 is a detail-line figure: when a shared host runs slow
    // for part of a run, a median over a fixed mix of read types jumps to
    // the next type's latencies, while the geometric mean (the gated read
    // figure) moves with the share of reads the slow spell touched
    Stats.percentile(out.reads.toSeq, 0.5).foreach(out.figures("read_p50_ms") = _)
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) {
        val units = Layers.Metrics.map(m => m._1 -> m._2).toMap
        Layers.compute(tracer, out, w.reads).map { case (n, v) => (n, v, units(n)) }
      } else {
        val knn = w.knnReads.toSeq.flatMap(out.latencyMs)
        val v = Map(
          "setup_s" -> (if (out.setups.isEmpty) Double.NaN else Stats.median(out.setups.toSeq)),
          "read_geomean_ms" -> (if (out.reads.isEmpty) Double.NaN else Stats.geomean(out.reads.toSeq)),
          "knn_mean_ms" -> (if (knn.isEmpty) Double.NaN else knn.sum / knn.size),
          "write_s" -> w.writes.toSeq.flatMap(out.latencyMs).sum / 1000.0,
          "peak_rss_mb" -> Run.peakRssMb,
          "store_bytes_per_user_byte" -> out.figures.getOrElse("store_bytes_per_user_byte", Double.NaN))
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      }
    metrics.foreach { case (n, v, _) =>
      if (!Stats.validName(n)) out.fail(s"metric name $n is not valid")
      if (v.isNaN) out.fail(s"metric $n was not measured")
    }

    val detail = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "samples" -> Json.obj(out.latencies.toSeq.map { case (t, xs) => t -> xs.size.toString }),
      "total_ms" -> Json.obj(out.latencies.toSeq.map { case (t, xs) => t -> Json.num(xs.sum) }),
      "reads_ms" -> Json.arr(out.reads.toSeq.sorted.map(v => Json.num(math.rint(v)))),
      "figures" -> Json.obj(out.figures.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "setup_runs_s" -> Json.arr(out.setups.toSeq.map(Json.num)),
      "errors" -> Json.arr(out.errors.toSeq.map(Json.str))))
    if (a.trace) writeTrace(new java.io.File(outDir, s"trace-${a.workload}-${a.seed}.json"),
      tracer, detail, metrics)
    tracer.close()
    spark.stop()
    Run.deleteRecursively(runDir)

    val correct = out.failed == 0
    println(detail)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, out.attempted).toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def writeTrace(f: java.io.File, tr: Tracer, detail: String,
                         metrics: Seq[(String, Double, String)]): Unit = {
    val spans = tr.spans
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val byType = Layers.byOpType(tr).map { case (t, fields) =>
      t -> Json.obj(fields.map { case (n, (c, total, p50)) =>
        n -> Json.obj(Seq("count" -> c.toString, "total" -> Json.num(total), "p50" -> Json.num(p50)))
      })
    }
    val body = Json.obj(Seq(
      "detail" -> detail,
      "overhead_ms" -> Json.num(tr.overheadMs),
      "per_layer" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "by_op_type" -> Json.obj(byType),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "op" -> s.op.toString,
        "op_type" -> Json.str(s.opType), "parent" -> s.parent.toString,
        "start_ms" -> Json.num((s.startNs - t0) / 1e6), "end_ms" -> Json.num((s.endNs - t0) / 1e6)))))))
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(body) finally w.close()
  }
}
