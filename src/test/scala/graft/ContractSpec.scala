package graft

import graft.operators.CheckpointScope

/**
 * Guards the driver contract: gate keys are unique across the domain
 * registries, and every registered query must at least execute and
 * produce its schema on the smallest scale factor (catching per-query
 * runtime breakage before the oracle gate does) and leave no persisted
 * RDD behind once [[CheckpointScope.releaseAll]] has run.
 */
class ContractSpec extends SparkSpec {

  test("gate keys are unique across domains") {
    val keys = SparkEntry.domains.flatMap(_.map(_.key))
    val repeated = keys.diff(keys.distinct).distinct
    assert(repeated.isEmpty, s"gate keys declared more than once: $repeated")
  }

  test("every registered query executes at sf0.001 (schema + evaluation)") {
    val sc = spark.sparkContext
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      try {
        val df = fn(spark, sf())
        assert(df.schema.nonEmpty)
        df.count() // force evaluation
        // the result is consumed: after the lifecycle hook the query
        // must leave no persisted RDD behind
        CheckpointScope.releaseAll()
        val leaked = sc.getPersistentRDDs.keySet.toSet -- before
        if (leaked.isEmpty) None
        else Some(s"$name: ${leaked.size} persisted RDD(s) left after CheckpointScope.releaseAll()")
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("entry() smoke returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
