package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one session per JVM (suites run
  * in the same forked JVM, so getOrCreate dedups). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `body`'s result and the Spark jobs submitted while it ran. A marker
    * job run after `body` flushes the listener bus, so every earlier job
    * start has been seen when the count is taken. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val marker = "graft-jobs-marker"
    val starts = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.add(String.valueOf(js.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!starts.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(starts.contains(marker), "listener never saw the marker job")
      (out, starts.asScala.count(_ != marker))
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the executed plans, as text, of the Spark SQL
    * actions it ran. A marker action run after `body` flushes the
    * listener bus, as in [[jobsDuring]]. */
  def plansDuring[T](body: => T): (T, Seq[String]) = {
    val marker = "graft-plans-marker"
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!plans.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(plans.asScala.exists(_.contains(marker)), "listener never saw the marker action")
      (out, plans.asScala.filterNot(_.contains(marker)).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  /** Fixed at 4 cores and without [[graft.plans.GraftExtensions]]: the
    * rule-off arms of the pruning specs need a session without the rule. */
  lazy val session: SparkSession = LocalSession(4, extensions = false)
}
