package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import graft.operators.ParquetFooters

/**
 * Optimizer rule running a small store read as one task, so the
 * aggregates, windows and joins above it plan no shuffle — the
 * re-expression of MD-HBase's client answering a query from the few
 * buckets its index probe keeps in one pass, with no stage boundary
 * between the probe and the answer (`Client.java:76-83`, `92-152`).
 *
 * It puts `Repartition(1, shuffle = false)` (a coalesce) directly above
 * a store scan's Project/Filter chain when the row groups the scan's
 * pushed filters keep fit [[LocalPointReads]]' budget, checked by the
 * same function ([[LocalPointReads.keptWithinBudget]]), whose
 * over-budget verdict both rules share. A single-partition child
 * satisfies every clustered and all-tuples distribution, so the
 * aggregates, windows and sort-merge or hash joins above it plan no
 * Exchange and, without a broadcast, adaptive execution is never
 * entered: a BM25 serve runs its df broadcast and its result, an IVF
 * serve its result, one job each.
 *
 *  - The scan: a non-streaming parquet relation over the footer index
 *    of an engine store read ([[ParquetFooters.footerIndexed]]; a
 *    user's `spark.read.parquet` is never touched) with at least one
 *    pushed data filter. Filtered scans are the probes, and their
 *    listing already reads the footers the budget is counted from, so
 *    the check adds no footer I/O.
 *  - The plan: deterministic as a whole. A partition-dependent value
 *    (`monotonically_increasing_id`, `spark_partition_id`, `rand`)
 *    would change under one partition, so such a plan is left alone.
 *  - Answers: coalescing is a narrow dependency. No row moves or
 *    changes, partitions are concatenated in order, so answers cannot
 *    change.
 *  - The trade-off: the budget bounds rows, not CPU per row, so at most
 *    65,536 kept rows (and 8 MB) run in one task where they would have
 *    run in several.
 *
 * Injected as a pre-CBO rule, so it runs once, after filter pushdown.
 * Broadcast hints and the shuffles a plan asks for stay. Over the
 * budget, on any non-fatal error, and with the rule listed in
 * `spark.sql.optimizer.excludedRules`, the plan comes back as given
 * (`eq`).
 */
object SingleTaskStoreReads extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.deterministic) plan
    else try coalesced(plan) catch { case NonFatal(_) => plan }

  private def coalesced(p: LogicalPlan): LogicalPlan = p match {
    case r @ Repartition(1, false, child) if scanOf(child).isDefined => r
    case _ => scanOf(p) match {
      // a shorter chain keeps no fewer row groups: nothing below can fit
      case Some(scan) => if (fits(p, scan)) Repartition(1, shuffle = false, p) else p
      case None => p.mapChildren(coalesced)
    }
  }

  /** The eligible store scan under a Project/Filter chain. */
  private def scanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          ParquetFooters.footerIndexed(fs) => Some(lr)
      case _ => None
    }
    case Project(_, child) => scanOf(child)
    case Filter(_, child) => scanOf(child)
    case _ => None
  }

  private def fits(chain: LogicalPlan, scan: LogicalRelation): Boolean = {
    val pushed = LocalPointReads.pushedOn(chain, scan)
    pushed.nonEmpty && LocalPointReads.keptWithinBudget(scan, pushed).isDefined
  }
}
