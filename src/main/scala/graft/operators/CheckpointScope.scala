package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/**
 * Session-scoped registry of `localCheckpoint` storage, closing the
 * lifecycle gap the eager-checkpoint pattern leaves open: operators
 * checkpoint intermediates to truncate lineage (CC rounds, span-dedup
 * signal tables, nightly signature tables), release the ones a LATER
 * stage supersedes ([[release]]) — but the blocks the RETURNED plan
 * still reads (the final CC label table, a survivors id-list) can only
 * be freed once the caller has materialized the result. Without a hook
 * for that moment, every such query run in a long-lived session leaves
 * its result-lineage blocks resident forever.
 *
 * The hook is [[releaseAll]]: call it when the results consumed so far
 * are materialized (written to a sink, collected) and no DataFrame
 * returned earlier will be re-executed. Verify calls it after writing
 * each query's parquet; a resident service calls it at its own request
 * boundaries. After the call, no gate leaves a persisted RDD behind
 * (`ContractSpec` checks this for every registered query).
 * Checkpointed frames CANNOT be re-executed after release — a local
 * checkpoint has no lineage to recompute from — which is exactly why
 * the release point is the caller's to choose, not the operator's.
 *
 * Registration is a concurrent identity set of the checkpoint RDDs
 * (metadata handles, not data); `releaseAll` also drops entries whose
 * blocks something else already evicted, so the set cannot grow beyond
 * one generation of live queries.
 */
object CheckpointScope {
  private val live = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[RDD[_], java.lang.Boolean]())

  private def ckRdd(ck: DataFrame): Option[RDD[_]] =
    ck.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Eagerly `localCheckpoint` `df` and register the resulting blocks
    * for the next [[releaseAll]]. The inherited stats are clamped
    * ([[org.apache.spark.sql.graftbridge.Bridge.clampCheckpointStats]])
    * so iterative self-join loops can't compound the size estimate
    * into a driver-melting BigInt — without the clamp, round ~17 of a
    * deep component flood spends minutes in BigInteger multiplication
    * computing stats for a megabyte-sized table. */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = org.apache.spark.sql.graftbridge.Bridge
      .clampCheckpointStats(df.localCheckpoint())
    ckRdd(ck).foreach(live.add)
    ck
  }

  /** Drop one checkpointed frame's storage NOW (a later stage has
    * superseded it; blocking=false — nothing races the eviction) and
    * deregister it. */
  def release(df: DataFrame): Unit = ckRdd(df).foreach { r =>
    live.remove(r)
    r.unpersist(blocking = false)
  }

  /** Release every checkpoint registered since the last call. Call only
    * when prior results are materialized and won't be re-executed. */
  def releaseAll(): Unit = {
    val it = live.iterator()
    while (it.hasNext) {
      it.next().unpersist(blocking = false)
      it.remove()
    }
  }

  /** Registered-but-unreleased checkpoint count (spec hook). */
  private[graft] def liveCount: Int = live.size()

  /** `df.scopedCheckpoint()` — drop-in for `df.localCheckpoint()` with
    * scope registration. */
  implicit final class Scoped(private val df: DataFrame) extends AnyVal {
    def scopedCheckpoint(): DataFrame = CheckpointScope.checkpoint(df)
  }
}
