package graft.plans

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.ParquetFooters

/**
 * Optimizer rule answering a small point-store read on the driver, with
 * no Spark job — the re-expression of MD-HBase's client reading a
 * bucket's rows straight from its region (`Client.java:61-83`,
 * `Bucket.java:90-98`), with no batch scheduler between the index probe
 * and the rows.
 *
 * It fires when the whole plan is a chain of foldable operators over one
 * Z-order store scan, and the row groups that scan's pushed filters keep
 * fit the budget ([[BudgetRows]] rows and [[BudgetBytes]] uncompressed
 * bytes, counted from the footers before any data is read). It then
 * decodes those row groups on the driver
 * ([[graft.operators.ParquetFooters.readRowGroups]]: Spark's own parquet
 * reader, built once per column set and conf, not once per read) and
 * folds the whole plan into one `LocalRelation`, so collecting it
 * submits no job.
 *
 *  - The scan: a non-streaming, unpartitioned, unbucketed parquet
 *    `HadoopFsRelation` without a `_metadata` column, whose output
 *    carries a Z-order marker (`graft.zorder` or `graft.zorder3`, the
 *    markers [[ZOrderPruningRule]] trusts), read with neither
 *    `ignoreMissingFiles` nor `ignoreCorruptFiles` (the driver read does
 *    not honour them).
 *  - The chain, checked before anything is read: `Project`, `Filter`,
 *    global `Sort`, `GlobalLimit`/`LocalLimit` and a grouping-free
 *    `Aggregate` of plain `count(...)`s, every expression deterministic
 *    and free of subqueries.
 *  - The rows: the row groups [[ParquetFooters.keptRowGroups]] keeps
 *    for the pushed filters the executor's scan would get (the
 *    conjuncts of the filters directly over the scan, translated as
 *    `FileSourceScanExec` translates them), decoded whole: every row of
 *    the columns the plan uses. The budget sums the same kept row
 *    groups, so it bounds what is decoded. The last over-budget
 *    verdict is kept on the scan for its pushed filters (less the
 *    `IsNotNull` filters Spark infers in a later batch) and the session
 *    conf, so a query checks it once, not once per optimizer
 *    iteration; an inferred null check that would have skipped an
 *    all-null row group is missed, which costs a job, not an answer.
 *  - The fold, bottom-up, interpreted throughout, so it compiles no
 *    class: a Filter bound once and evaluated with an interpreted
 *    predicate (Catalyst's `ConvertToLocalRelation` would compile one
 *    per query, as every window brings new literals; like it, never
 *    over an `Unevaluable` expression), Catalyst's
 *    `ConvertToLocalRelation` for Project and the limits, and what
 *    Spark does not fold: a global Sort (an `InterpretedOrdering`), the
 *    counts, and the lone `GlobalLimit` left once its `LocalLimit` is
 *    folded.
 *  - Files: a read decodes the files its listing returned. A listed
 *    file deleted before its row groups are decoded fails the read,
 *    and the plan falls back to the scan, which raises Spark's own
 *    error. Isolating every reader from a concurrent rewrite is the
 *    store file manifest's aim (ROADMAP item 4).
 *
 * All or nothing: the result is one `LocalRelation` with the plan's
 * output, or the plan it was given (`eq`) — above the budget, over a
 * listing larger than the footer cache, and on any non-fatal error
 * while checking the budget or reading, in which case the distributed
 * scan raises its own error as before. Answers never change. Spark's
 * `spark.sql.optimizer.excludedRules` switches it off.
 */
object LocalPointReads extends Rule[LogicalPlan] with PredicateHelper {

  /** The most rows the kept row groups of a folded read may hold. */
  val BudgetRows = 65536L

  /** The most uncompressed bytes the kept row groups of a folded read may hold. */
  val BudgetBytes = 8L << 20

  /** Budget checks run, over-budget or not. */
  private[graft] val budgetChecks = new AtomicLong

  /** The last (pushed filters but `IsNotNull`, session conf) a scan was
    * found over the budget for: one verdict per scan, which is all one
    * query's optimizer iterations need. */
  private val OverBudget = TreeNodeTag[(Seq[sources.Filter], Map[String, String])]("graft.overBudget")

  override def apply(plan: LogicalPlan): LogicalPlan = scanOf(plan) match {
    case Some(scan) => try local(plan, scan).getOrElse(plan) catch { case NonFatal(_) => plan }
    case None => plan
  }

  /** The eligible scan under a chain of foldable operators. */
  private def scanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Option.when(eligible(lr))(lr)
    case _ if !p.expressions.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) => None
    case Project(_, child) => scanOf(child)
    case Filter(_, child) => scanOf(child)
    case s: Sort if s.global => scanOf(s.child)
    case GlobalLimit(IntegerLiteral(_), child) => scanOf(child)
    case LocalLimit(IntegerLiteral(_), child) => scanOf(child)
    case a: Aggregate if a.groupingExpressions.isEmpty && a.aggregateExpressions.forall {
        case Alias(AggregateExpression(_: Count, Complete, false, None, _), _) => true
        case _ => false
      } => scanOf(a.child)
    case _ => None
  }

  private def eligible(lr: LogicalRelation): Boolean = lr.relation match {
    case fs: HadoopFsRelation =>
      val opts = new FileSourceOptions(CaseInsensitiveMap(fs.options))
      !lr.isStreaming && fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
        fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty &&
        !lr.output.exists { case FileSourceMetadataAttribute(_) => true; case _ => false } &&
        lr.output.exists(a => ZOrderPruningRule.Markers.exists(a.metadata.contains)) &&
        !opts.ignoreMissingFiles && !opts.ignoreCorruptFiles
    case _ => false
  }

  /** `plan` over `scan` as one local relation, when the rows its pushed
    * filters keep fit the budget. */
  private def local(plan: LogicalPlan, scan: LogicalRelation): Option[LocalRelation] =
    keptWithinBudget(scan, pushedOn(plan, scan)).flatMap { kept =>
      val fs = scan.relation.asInstanceOf[HadoopFsRelation]
      val used = plan.collect { case n => n.references }.foldLeft(plan.outputSet)(_ ++ _)
      val needed = scan.output.filter(used.contains)
      val data = ParquetFooters.readRowGroups(fs,
        StructType(needed.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata))), kept)
      fold(plan, scan, LocalRelation(needed, data))
    }

  /** The filters a scan of `scan` under the Project/Filter/... chain
    * `plan` hands its reader: the conjuncts of the filters directly over
    * the scan, normalized and translated as `FileSourceStrategy` does. */
  private[plans] def pushedOn(plan: LogicalPlan, scan: LogicalRelation): Seq[sources.Filter] =
    Bridge.pushedFilters(scan.relation, Bridge.normalize(filtersOn(plan), scan.output))

  /**
   * The one budget check of this rule and [[SingleTaskStoreReads]]: per
   * file of `scan`'s listing, the row groups [[ParquetFooters.keptRowGroups]]
   * keeps for `pushed`, when together they hold at most [[BudgetRows]]
   * rows and [[BudgetBytes]] uncompressed bytes; None over the budget
   * or over a listing larger than the footer cache. An over-budget
   * verdict is kept on the scan for its pushed filters (less `IsNotNull`)
   * and the session conf, so a query is checked once across both rules
   * and every optimizer iteration. Throws where a footer cannot be read.
   */
  private[plans] def keptWithinBudget(scan: LogicalRelation, pushed: Seq[sources.Filter])
      : Option[Seq[(FileStatus, Seq[BlockMetaData])]] = {
    val fs = scan.relation.asInstanceOf[HadoopFsRelation]
    val session = fs.sparkSession
    // the null checks Spark infers after the first check skip only
    // all-null row groups: they stay out of the key, so they do not check again
    val verdict = pushed.filterNot(_.isInstanceOf[sources.IsNotNull])
    def conf = session.sessionState.conf.getAllConfs
    if (scan.getTagValue(OverBudget).exists { case (f, c) => f == verdict && c == conf }) return None
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
    if (rows > BudgetRows || bytes > BudgetBytes) {
      scan.setTagValue(OverBudget, (verdict, conf))
      None
    } else Some(kept)
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

  private def fold(p: LogicalPlan, scan: LogicalRelation, rows: LocalRelation): Option[LocalRelation] =
    if (p eq scan) Some(rows)
    else fold(p.children.head, scan, rows).flatMap(child => step(p.withNewChildren(Seq(child))))

  /** One operator over local rows, folded. */
  private def step(p: LogicalPlan): Option[LocalRelation] = p match {
    case Filter(cond, in: LocalRelation) =>
      val bound = bind(cond, in.output)
      if (bound.exists(_.isInstanceOf[Unevaluable])) None
      else {
        val predicate = Predicate.createInterpreted(bound)
        predicate.initialize(0)
        Some(in.copy(data = in.data.filter(predicate.eval)))
      }
    case _ => converted(p)
  }

  private def converted(p: LogicalPlan): Option[LocalRelation] = ConvertToLocalRelation(p) match {
    case done: LocalRelation => Some(done)
    case s: Sort => s.child match {
      case in: LocalRelation =>
        Some(in.copy(data = in.data.sorted(new InterpretedOrdering(s.order.map(bind(_, in.output))))))
      case _ => None
    }
    case GlobalLimit(IntegerLiteral(n), in: LocalRelation) => Some(in.copy(data = in.data.take(n)))
    case a: Aggregate => a.child match {
      case in: LocalRelation =>
        val counts = a.aggregateExpressions.map {
          case Alias(AggregateExpression(Count(args), _, _, _, _), _) =>
            val bound = args.map(bind(_, in.output))
            in.data.count(row => bound.forall(_.eval(row) != null)).toLong
        }
        Some(LocalRelation(a.output, Seq(InternalRow.fromSeq(counts))))
      case _ => None
    }
    case _ => None
  }

  private def bind[E <: Expression](e: E, output: Seq[Attribute]): E =
    BindReferences.bindReference(e, output)
}
