package graft.plans

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources

import graft.operators.ParquetFooters

/**
 * Optimizer rule answering a small store read on the driver or in one
 * task — the re-expression of MD-HBase's client reading the buckets its
 * index probe keeps straight from their regions (`Client.java:61-83`,
 * `Bucket.java:90-98`), with no batch scheduler and no stage boundary
 * between the probe and the rows.
 *
 *  - The scan: a store read the driver may answer
 *    ([[ParquetFooters.storeRead]]: non-streaming, over the footer index
 *    of an engine store read, no `_metadata` column, neither
 *    `ignoreMissingFiles` nor `ignoreCorruptFiles`).
 *  - The budget: the row groups [[ParquetFooters.keptRowGroups]] keeps
 *    for the filters the executor's scan would get (the conjuncts of the
 *    filters directly over the scan, translated as `FileSourceScanExec`
 *    translates them) hold at most [[BudgetRows]] rows and
 *    [[BudgetBytes]] uncompressed bytes, counted from the footers before
 *    any data is read.
 *
 * Three outcomes, in order:
 *
 *  1. Fold: when the whole plan is a chain of foldable operators over a
 *     scan whose output carries a Z-order marker (`graft.zorder` or
 *     `graft.zorder3`, the markers [[ZOrderPruningRule]] trusts) and its
 *     kept row groups fit the budget, they are decoded on the driver and
 *     the plan becomes one `LocalRelation` ([[ParquetFooters.fold]]), so
 *     collecting it submits no job. Other store relations are left to
 *     [[ParquetFooters.collectSmall]]'s row cache.
 *  2. Coalesce: else, above each store scan's Project/Filter chain with
 *     at least one pushed filter whose kept row groups fit the budget,
 *     `Repartition(1, shuffle = false)`. A single-partition child
 *     satisfies every clustered and all-tuples distribution, so the
 *     aggregates, windows and joins above plan no Exchange: a BM25 serve
 *     runs its df broadcast and its result, an IVF serve its result, one
 *     job each. No row moves or changes, so answers cannot change. The
 *     trade-off: at most 65,536 kept rows (and 8 MB) run in one task
 *     where they would have run in several.
 *  3. Else the plan as given (`eq`): over the budget, over a listing
 *     larger than the footer cache, for a plan that is not deterministic
 *     as a whole (a partition-dependent value would change under one
 *     partition), and on any non-fatal error while checking the budget
 *     or reading, in which case the distributed scan raises its own
 *     error as before.
 *
 * Injected as a pre-CBO rule, so it runs once per query, after
 * [[ZOrderPruningRule]] and filter pushdown and inference. Answers never
 * change. Spark's `spark.sql.optimizer.excludedRules` switches it off.
 */
object SmallStoreReads extends Rule[LogicalPlan] with PredicateHelper {

  /** The most rows the kept row groups of a small read may hold. */
  val BudgetRows = 65536L

  /** The most uncompressed bytes the kept row groups of a small read may hold. */
  val BudgetBytes = 8L << 20

  /** Budget checks run, over-budget or not. */
  private[graft] val budgetChecks = new AtomicLong

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.deterministic) plan
    else try rewrite(plan) catch { case NonFatal(_) => plan }

  private def rewrite(plan: LogicalPlan): LogicalPlan = ParquetFooters.foldableScan(plan) match {
    case Some(scan) if scan.output.exists(a => ZOrderPruningRule.Markers.exists(a.metadata.contains)) =>
      val pushed = pushedOn(plan, scan)
      // a Project/Filter chain over the scan keeps the same row groups:
      // one verdict serves both outcomes
      keptWithinBudget(scan, pushed).fold(plan)(kept =>
        ParquetFooters.fold(plan, scan, kept).getOrElse(coalesced(plan)((_, _) => pushed.nonEmpty)))
    case _ => coalesced(plan)(fits)
  }

  /** `p` with a coalesce above each store scan's Project/Filter chain
    * that `fits`. */
  private def coalesced(p: LogicalPlan)(fits: (LogicalPlan, LogicalRelation) => Boolean): LogicalPlan = p match {
    case r @ Repartition(1, false, child) if chainScan(child).isDefined => r
    case _ => chainScan(p) match {
      // a shorter chain keeps no fewer row groups: nothing below can fit
      case Some(scan) => if (fits(p, scan)) Repartition(1, shuffle = false, p) else p
      case None => p.mapChildren(coalesced(_)(fits))
    }
  }

  /** The store scan under a Project/Filter chain. */
  private def chainScan(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Option.when(ParquetFooters.storeRead(lr))(lr)
    case Project(_, child) => chainScan(child)
    case Filter(_, child) => chainScan(child)
    case _ => None
  }

  private def fits(chain: LogicalPlan, scan: LogicalRelation): Boolean = {
    val pushed = pushedOn(chain, scan)
    pushed.nonEmpty && keptWithinBudget(scan, pushed).isDefined
  }

  /** The filters a scan of `scan` under the chain `plan` hands its
    * reader: the conjuncts of the filters directly over the scan,
    * normalized and translated as `FileSourceStrategy` does. */
  private def pushedOn(plan: LogicalPlan, scan: LogicalRelation): Seq[sources.Filter] =
    Bridge.pushedFilters(scan.relation, Bridge.normalize(filtersOn(plan), scan.output))

  /** Per file of `scan`'s listing, the row groups
    * [[ParquetFooters.keptRowGroups]] keeps for `pushed`, when together
    * they hold at most [[BudgetRows]] rows and [[BudgetBytes]]
    * uncompressed bytes; None over the budget or over a listing larger
    * than the footer cache. Throws where a footer cannot be read. */
  private def keptWithinBudget(scan: LogicalRelation, pushed: Seq[sources.Filter])
      : Option[Seq[(FileStatus, Seq[BlockMetaData])]] = {
    val fs = scan.relation.asInstanceOf[HadoopFsRelation]
    val session = fs.sparkSession
    val files = fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    if (files.size > ParquetFooters.CacheFiles) return None
    budgetChecks.incrementAndGet()
    val footers = ParquetFooters.of(files, session.sessionState.newHadoopConfWithOptions(fs.options))
    // the files' kept row groups, summed until they pass the budget
    var (rows, bytes) = (0L, 0L)
    val kept = files.iterator.zip(footers.iterator)
      .map { case (st, footer) => st -> ParquetFooters.keptRowGroups(footer, pushed, session.sessionState.conf) }
      .filter(_._2.nonEmpty)
      .takeWhile { case (_, groups) =>
        rows += groups.map(_.getRowCount).sum
        bytes += groups.map(_.getTotalByteSize).sum
        rows <= BudgetRows && bytes <= BudgetBytes
      }.toVector
    Option.when(rows <= BudgetRows && bytes <= BudgetBytes)(kept)
  }

  /** The conjuncts of the filters directly over the chain's scan. */
  private def filtersOn(p: LogicalPlan): Seq[Expression] = p match {
    case Filter(cond, child) if overScan(child) => splitConjunctivePredicates(cond) ++ filtersOn(child)
    case _: LogicalRelation => Nil
    case _ => filtersOn(p.children.head)
  }

  private def overScan(p: LogicalPlan): Boolean = p match {
    case _: LogicalRelation => true
    case Filter(_, child) => overScan(child)
    case _ => false
  }
}
