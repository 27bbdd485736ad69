package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, IsNotNull, Or}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side counters attributed to one benchmark span. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuMs, schedulerDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, outputBytes = 0L
  var planMs = 0L
  var scanFiles, scanBytes, scanRows = 0L
  /** zkey intervals in the pushed filters of the parquet scans. */
  var zkeyIntervals = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskRunMs += o.taskRunMs; taskCpuMs += o.taskCpuMs; schedulerDelayMs += o.schedulerDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    planMs += o.planMs
    scanFiles += o.scanFiles; scanBytes += o.scanBytes; scanRows += o.scanRows
    zkeyIntervals += o.zkeyIntervals
  }
}

/**
 * The traced run's listener. Jobs carry the submitting thread's
 * `perfbench.span` local property; stages, tasks and SQL executions are
 * attributed to the span of the job that started them. Planning time
 * and parquet scan counts come from the `QueryExecution` that Spark
 * attaches to each execution-end event (visible only inside the `sql`
 * package, hence this file's package).
 */
final class LayerListener(spanProperty: String) extends SparkListener
    with AdaptiveSparkPlanHelper {

  val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  /** Nanoseconds spent inside this listener's callbacks. */
  val callbackNanos = new AtomicLong()

  private def of(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally { callbackNanos.addAndGet(System.nanoTime() - t0); () }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(spanProperty)))
      .map(_.toLong).getOrElse(0L)
    of(span).jobs += 1
    e.stageIds.foreach(s => stageSpan.put(s, span))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan.putIfAbsent(id.toLong, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    of(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val c = of(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuMs += m.executorCpuTime / 1000000L
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      c.schedulerDelayMs += math.max(0L, e.taskInfo.duration - busy)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case end: SparkListenerSQLExecutionEnd =>
        val c = of(execSpan.getOrDefault(end.executionId, 0L))
        Option(end.qe).foreach { qe =>
          c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
          collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
            .foreach { s =>
              def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
              c.scanFiles += m("numFiles"); c.scanBytes += m("filesSize")
              c.scanRows += m("numOutputRows")
              c.zkeyIntervals += LayerListener.zkeyIntervals(s.dataFilters)
            }
        }
      case _ =>
    }
  }
}

/** Streaming trigger counters from `StreamingQueryProgress.durationMs`. */
final class TriggerListener extends StreamingQueryListener {
  @volatile var triggers = 0L
  @volatile var triggerMs = 0L
  @volatile var addBatchMs = 0L
  @volatile var rows = 0L
  val callbackNanos = new AtomicLong()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      triggers += 1
      triggerMs += ms("triggerExecution")
      addBatchMs += ms("addBatch")
      rows += p.numInputRows
    }
    callbackNanos.addAndGet(System.nanoTime() - t0)
    ()
  }
}

object LayerListener {
  /** The zkey intervals a scan's data filters prune with: the leaves of
    * each disjunction over `zkey`, or one when the filters bound `zkey`
    * without a disjunction (a single interval or an equality). */
  def zkeyIntervals(filters: Seq[Expression]): Long = {
    def leaves(e: Expression): Long = e match {
      case Or(l, r) => leaves(l) + leaves(r)
      case _ => 1L
    }
    val onKey = filters.filter(f => !f.isInstanceOf[IsNotNull] &&
      f.references.exists(_.name == "zkey"))
    val ors = onKey.collect { case o: Or => leaves(o) }
    if (ors.nonEmpty) ors.sum else if (onKey.nonEmpty) 1L else 0L
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
