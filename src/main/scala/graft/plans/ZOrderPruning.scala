package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.GraftFunctions
import graft.zorder.{IntRange, ZOrder, ZOrder3, ZRanges}

/**
 * Optimizer rule injecting z-key interval predicates into box filters
 * over point-store relations — the Catalyst re-expression of the
 * reference's index-probe pruning (`Index.java:144-164`; SURVEY §4 P2).
 *
 * A `Filter` over a marked layout — `zkey` over int `x`, `y`
 * ([[graft.operators.PointStore.points]]) or `z3` over int `x`, `y`,
 * `t` ([[graft.operators.SpatioTemporal.points3]]) — whose top-level
 * conjuncts bound every coordinate gains an OR of tight key intervals,
 * the box's cover from [[graft.zorder.ZRanges.cover]]. The raw
 * predicates are kept verbatim, so the rewrite is pure pruning —
 * correctness NEVER depends on it (SURVEY §7.3); its effect is that a
 * store read skips the files (on the driver, through
 * [[graft.operators.ParquetFooters.readParquet]]'s file index) and the
 * row groups (in the executors' Parquet reader) whose key min/max
 * stats miss every interval, exactly like the reference skipping
 * non-intersecting buckets.
 *
 * Soundness of the injected conjunct: the rule only fires when the key
 * attribute carries its layout's metadata marker (`graft.zorder` or
 * `graft.zorder3`, persisted through parquet), i.e. when the key is
 * genuinely the codec's key of the coordinates — a user relation that
 * merely happens to have x/y/zkey columns is never rewritten — and when
 * the box lies in the codec's domain (else [[graft.zorder.ZRanges.cover]]
 * gives none). Given that, the conjunct only drops a row whose key is
 * NULL or outside the intervals: the key is NULL only when a coordinate
 * is (null-intolerant derivation) — and the coordinate bounds (present
 * by construction of the match) already drop those rows; non-null keys
 * of in-box points are covered by the decomposition's soundness
 * guarantee.
 *
 * Idempotent: skips filters already referencing the key.
 */
object ZOrderPruningRule extends Rule[LogicalPlan] with PredicateHelper {

  /** The marked layouts: (key column, its metadata marker, the int
    * coordinates it interleaves, codec). */
  private val Layouts = Seq(
    ("zkey", "graft.zorder", Seq("x", "y"), ZOrder),
    ("z3", "graft.zorder3", Seq("x", "y", "t"), ZOrder3))

  /** The metadata markers of the layouts' keys. */
  private[graft] val Markers: Seq[String] = Layouts.map(_._2)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val pruning = for {
        (key, marker, coords, codec) <- Layouts
        z <- child.output.find(a => a.name == key && a.dataType == LongType &&
          a.metadata.contains(marker))
        if !cond.references.contains(z)
        box = coords.flatMap(c => child.output
          .find(a => a.name == c && a.dataType == IntegerType)
          .flatMap(boundsOf(conjuncts, _)))
        if box.size == coords.size
        ranges <- ZRanges.cover(box, codec)
      } yield intervalPred(z, ranges)
      pruning.foldLeft(cond)(And) match {
        case same if same eq cond => f
        case augmented => Filter(augmented, child)
      }
  }

  private def intervalPred(z: Attribute, ranges: Seq[(Long, Long)]): Expression =
    ranges
      .map { case (lo, hi) =>
        And(GreaterThanOrEqual(z, Literal(lo)), LessThanOrEqual(z, Literal(hi)))
      }
      .reduceOption[Expression](Or)
      .getOrElse(Literal.FalseLiteral) // empty decomposition: empty box

  /** Closed int bounds for `attr` implied by top-level conjuncts, if both
    * sides are bounded. Only literal comparisons count. */
  private def boundsOf(conjuncts: Seq[Expression], attr: Attribute): Option[IntRange] = {
    var lo = Int.MinValue
    var hi = Int.MaxValue
    var sawLo = false
    var sawHi = false
    def asInt(l: Literal): Option[Int] = l.value match {
      case i: java.lang.Integer => Some(i.intValue)
      case _ => None
    }
    conjuncts.foreach {
      case GreaterThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => lo = math.max(lo, v); sawLo = true }
      case LessThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => hi = math.min(hi, v); sawHi = true }
      case GreaterThan(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => if (v < Int.MaxValue) { lo = math.max(lo, v + 1); sawLo = true } }
      case LessThan(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => if (v > Int.MinValue) { hi = math.min(hi, v - 1); sawHi = true } }
      case EqualTo(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v); sawLo = true; sawHi = true }
      case GreaterThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => hi = math.min(hi, v); sawHi = true }
      case LessThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => lo = math.max(lo, v); sawLo = true }
      case EqualTo(l: Literal, a: Attribute) if a.semanticEquals(attr) =>
        asInt(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v); sawLo = true; sawHi = true }
      case _ =>
    }
    if (sawLo && sawHi && lo <= hi) Some(IntRange(lo, hi)) else None
  }
}

/**
 * Session extensions registering the engine's Catalyst surface: the
 * [[ZOrderPruningRule]] optimizer rule, the [[SmallStoreReads]] pre-CBO
 * rule (once per query, after z-key pruning and filter pushdown and
 * inference), and the SQL functions of
 * [[graft.functions.GraftFunctions.sqlFunctions]].
 *
 * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)…`
 * or `spark.sql.extensions=graft.plans.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => ZOrderPruningRule)
    e.injectPreCBORule(_ => SmallStoreReads)
    GraftFunctions.sqlFunctions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
