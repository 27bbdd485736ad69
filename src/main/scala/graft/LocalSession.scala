package graft

import org.apache.spark.sql.SparkSession

/** The local session graft's oracle gate ([[Verify]]) and its specs run
  * on: `cpus` cores and as many shuffle partitions, UTC session time, no
  * UI, and parquet TIMESTAMP(NANOS) read as BIGINT (the driver tables
  * carry nano timestamps, which Spark 4 otherwise rejects; BIGINT nanos
  * order the same). With `extensions`, [[graft.plans.GraftExtensions]]
  * is loaded, so every query also runs through the Z-order pruning rule. */
object LocalSession {
  def apply(cpus: Int, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (extensions) b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
