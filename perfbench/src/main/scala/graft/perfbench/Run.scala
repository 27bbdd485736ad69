package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its seed and run length, the
  * tracer and a private scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     tracer: Tracer, dir: String) {
  def path(name: String): String = s"$dir/$name"
}

/**
 * One run's bookkeeping: latencies by operation type, read latencies,
 * attempted and failed operations (a wrong answer is a failure just like
 * an exception), set-up times and the workload's own figures.
 */
final class Outcome {
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val reads = mutable.ArrayBuffer.empty[Double]
  val setups = mutable.ArrayBuffer.empty[Double]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Workload figures: rates, the store size ratio and the other
    * per-workload numbers printed on the detail line. */
  val figures = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  /** Store directories whose files and bytes the run reports. */
  val storeDirs = mutable.ArrayBuffer.empty[String]

  def record(opType: String, ms: Double, read: Boolean): Unit = synchronized {
    latencies.getOrElseUpdate(opType, mutable.ArrayBuffer.empty) += ms
    if (read) reads += ms
  }

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** Count a check outside any timed operation (an oracle comparison). */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) fail(what)
  }

  def latencyMs(opType: String): Seq[Double] =
    latencies.get(opType).map(_.toSeq).getOrElse(Nil)
}

object Run {
  def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run one timed operation of the mix. A thrown exception counts as a
    * failed operation; the caller checks the returned answer. */
  def timed[T](ctx: Ctx, out: Outcome, opType: String, read: Boolean)
              (body: => T): Option[T] = {
    out.synchronized { out.attempted += 1 }
    val t0 = System.nanoTime()
    try {
      val r = ctx.tracer.op(opType)(body)
      out.record(opType, nowMs(t0), read)
      Some(r)
    } catch {
      case NonFatal(e) =>
        out.fail(s"$opType: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Time a whole set-up and record it. */
  def setup[T](out: Outcome)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    out.setups += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Total bytes and file count under `path` (data files only: Spark's
    * `.crc` side files and `_SUCCESS` markers are skipped). */
  def dirUsage(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator(f)
    if (!root.exists()) (0L, 0L)
    else {
      val files = walk(root).filter { f =>
        val n = f.getName
        !n.endsWith(".crc") && !n.startsWith("_")
      }.toSeq
      (files.map(_.length()).sum, files.size.toLong)
    }
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val status = new java.io.File("/proc/self/status")
    val hwm =
      if (!status.exists()) None
      else {
        val src = scala.io.Source.fromFile(status)
        try src.getLines().find(_.startsWith("VmHWM:"))
          .map(_.split("\\s+")(1).toDouble / 1024.0)
        finally src.close()
      }
    hwm.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}

/** Minimal JSON writer: the output is a handful of flat maps. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
