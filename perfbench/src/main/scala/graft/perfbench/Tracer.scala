package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.{Counters, LayerListener, TriggerListener}

/** One recorded span: a call from the benchmark into a layer. `op` is
  * the id of the root span (the timed operation) it belongs to. */
final case class Span(id: Long, name: String, op: Long, opType: String,
                      parent: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * Span recorder for the traced run. Disabled, every method only runs
 * its body: the untraced run installs no listener and records nothing.
 * Enabled, each span sets the `perfbench.span` local property so Spark
 * jobs submitted inside it are attributed to it, and spans stay in
 * memory until the run writes them out.
 */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val SpanProperty = "perfbench.span"
  private val nextId = new AtomicLong()
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  private val opened = new ConcurrentHashMap[Long, Span]()
  private val values = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val bookkeepingNanos = new AtomicLong()

  val layers: Option[LayerListener] =
    if (enabled) Some(new LayerListener(SpanProperty)) else None
  val triggers: Option[TriggerListener] =
    if (enabled) Some(new TriggerListener) else None
  layers.foreach(spark.sparkContext.addSparkListener)
  triggers.foreach(spark.streams.addListener)

  /** A timed operation of the workload's mix: a root span. */
  def op[T](opType: String)(body: => T): T = enter(opType, root = true)(body)

  /** A call into one layer, nested in the current operation. */
  def span[T](name: String)(body: => T): T = enter(name, root = false)(body)

  /** Record a benchmark-side count (interval counts, rows returned, ...). */
  def value(name: String, v: => Double): Unit =
    if (enabled) values.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  private def enter[T](name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProperty)
      val prevSpan = current.get()
      // a thread Spark started inside a span (the streaming loop) carries
      // that span in its inherited local property: its layer calls belong
      // to the same operation
      val parent = Option(prevSpan)
        .orElse(Option(prevProp).flatMap(p => Option(opened.get(p.toLong))))
      val id = nextId.incrementAndGet()
      val (op, opType) = parent match {
        case Some(p) if !root => (p.op, p.opType)
        case _ => (id, name)
      }
      val open = Span(id, name, op, opType, parent.map(_.id).getOrElse(0L), 0L, 0L)
      opened.put(id, open)
      current.set(open)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      bookkeepingNanos.addAndGet(t0 - b0)
      try body
      finally {
        val t1 = System.nanoTime()
        recorded.add(open.copy(startNs = t0, endNs = t1))
        current.set(prevSpan)
        sc.setLocalProperty(SpanProperty, prevProp)
        bookkeepingNanos.addAndGet(System.nanoTime() - t1)
        ()
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.startNs)
  def valuesOf(name: String): Seq[Double] =
    Option(values.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Wait for every listener event, then the counters are final. */
  def drain(): Unit = if (enabled) LayerListener.drain(spark)

  def counters(spanId: Long): Counters =
    layers.flatMap(l => Option(l.bySpan.get(spanId))).getOrElse(new Counters)

  /** Instrumentation cost: listener callbacks plus span bookkeeping. */
  def overheadMs: Double =
    (layers.map(_.callbackNanos.get).getOrElse(0L) +
      triggers.map(_.callbackNanos.get).getOrElse(0L) + bookkeepingNanos.get) / 1e6

  def close(): Unit = {
    layers.foreach(spark.sparkContext.removeSparkListener)
    triggers.foreach(spark.streams.removeListener)
  }
}
