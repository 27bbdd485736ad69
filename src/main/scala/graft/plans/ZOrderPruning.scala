package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{DotLong, ZOrder3Dim, ZOrder3Key, ZOrderKey, ZOrderX, ZOrderY}
import graft.zorder.{IntRange, ZOrder3, ZRanges, ZRanges3}

/**
 * Optimizer rule injecting z-key interval predicates into 2-D range
 * filters over point-store relations — the Catalyst re-expression of the
 * reference's index-probe pruning (`Index.java:144-164`; SURVEY §4 P2).
 *
 * A `Filter` whose top-level conjuncts bound both `x` and `y` (the
 * store's point schema: int columns `x`, `y` beside a long `zkey`) gains
 * an OR of tight z-key intervals from [[graft.zorder.ZRanges]]. The raw
 * predicates are kept verbatim, so the rewrite is pure pruning —
 * correctness NEVER depends on it (SURVEY §7.3); its effect is that a
 * store read skips the files (on the driver, through
 * [[graft.operators.ParquetFooters.readParquet]]'s file index) and the
 * row groups (in the executors' Parquet reader) whose zkey min/max
 * stats miss every interval, exactly like the reference skipping
 * non-intersecting buckets.
 *
 * Soundness of the injected conjunct: the rule only fires when the
 * `zkey` attribute carries the `graft.zorder` metadata marker that
 * [[graft.operators.PointStore.points]] attaches (persisted through
 * parquet), i.e. when zkey is genuinely `zorder(x, y)` — a user
 * relation that merely happens to have x/y/zkey columns is never
 * rewritten. Given that, the conjunct only drops a row where `zkey` is
 * NULL or outside the intervals: zkey is NULL only when x or y is
 * (null-intolerant derivation) — and the existing x/y bounds (present
 * by construction of the match) already drop those rows; non-null
 * zkeys of in-rectangle points are covered by the decomposition's
 * soundness guarantee.
 *
 * Idempotent: skips filters already referencing `zkey`.
 */
object ZOrderPruningRule extends Rule[LogicalPlan] {

  private val MaxRanges = 16

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      def intAttr(name: String) =
        child.output.find(a => a.name == name && a.dataType == IntegerType)
      def keyAttr(name: String, marker: String) =
        child.output.find(a => a.name == name && a.dataType == LongType &&
          a.metadata.contains(marker))

      // 2-D quad arm: (x, y) bounded, marked zkey present
      val quad = (intAttr("x"), intAttr("y"), keyAttr("zkey", "graft.zorder")) match {
        case (Some(x), Some(y), Some(z)) if !cond.references.contains(z) =>
          (boundsOf(conjuncts, x), boundsOf(conjuncts, y)) match {
            case (Some(rx), Some(ry)) =>
              Some(intervalPred(z, ZRanges.decompose(rx, ry, MaxRanges)))
            case _ => None
          }
        case _ => None
      }
      // 3-D octree arm: (x, y, t) bounded within the 21-bit codec
      // domain (out-of-domain coordinates wrap in the codec; rows the
      // raw predicates keep are in-domain only when the BOX is, so the
      // conjunct is sound exactly then — the 3-D analog of the
      // negative-domain bail below), marked z3 present
      val octree = (intAttr("x"), intAttr("y"), intAttr("t"),
          keyAttr("z3", "graft.zorder3")) match {
        case (Some(x), Some(y), Some(t), Some(z)) if !cond.references.contains(z) =>
          (boundsOf(conjuncts, x), boundsOf(conjuncts, y), boundsOf(conjuncts, t)) match {
            case (Some(rx), Some(ry), Some(rt))
                if Seq(rx, ry, rt).forall(_.max <= ZOrder3.MaxCoord) =>
              Some(intervalPred(z, ZRanges3.decompose(rx, ry, rt, MaxRanges)))
            case _ => None
          }
        case _ => None
      }
      (quad.toSeq ++ octree.toSeq).foldLeft(cond)(And) match {
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

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }

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
    // A negative lower bound means the query rectangle leaves the
    // non-negative domain the z-order codec is defined on. Nothing stops
    // a marked relation from holding negative coordinates (their zkeys
    // interleave sign bits and fall outside any decomposition), so a
    // clamped conjunct would silently drop rows the raw predicates keep.
    // Pruning is optional — bail instead of clamping (SURVEY §7.3:
    // correctness must never depend on this rule).
    if (sawLo && sawHi && lo >= 0 && lo <= hi) Some(IntRange(lo, hi)) else None
  }
}

/**
 * Session extensions registering the engine's Catalyst surface:
 * the [[ZOrderPruningRule]] optimizer rule and the `zorder` /
 * `zorder_x` / `zorder_y` SQL functions.
 *
 * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)…`
 * or `spark.sql.extensions=graft.plans.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => ZOrderPruningRule)
    e.injectFunction((FunctionIdentifier("zorder"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "zorder"),
      (es: Seq[Expression]) => ZOrderKey(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("zorder_x"),
      new ExpressionInfo(classOf[ZOrderX].getName, "zorder_x"),
      (es: Seq[Expression]) => ZOrderX(es.head)))
    e.injectFunction((FunctionIdentifier("zorder_y"),
      new ExpressionInfo(classOf[ZOrderY].getName, "zorder_y"),
      (es: Seq[Expression]) => ZOrderY(es.head)))
    e.injectFunction((FunctionIdentifier("zorder3"),
      new ExpressionInfo(classOf[ZOrder3Key].getName, "zorder3"),
      (es: Seq[Expression]) => ZOrder3Key(es.head, es(1), es(2))))
    e.injectFunction((FunctionIdentifier("zorder3_x"),
      new ExpressionInfo(classOf[ZOrder3Dim].getName, "zorder3_x"),
      (es: Seq[Expression]) => ZOrder3Dim(es.head, 2)))
    e.injectFunction((FunctionIdentifier("zorder3_y"),
      new ExpressionInfo(classOf[ZOrder3Dim].getName, "zorder3_y"),
      (es: Seq[Expression]) => ZOrder3Dim(es.head, 1)))
    e.injectFunction((FunctionIdentifier("zorder3_t"),
      new ExpressionInfo(classOf[ZOrder3Dim].getName, "zorder3_t"),
      (es: Seq[Expression]) => ZOrder3Dim(es.head, 0)))
    e.injectFunction((FunctionIdentifier("dot_long"),
      new ExpressionInfo(classOf[DotLong].getName, "dot_long"),
      (es: Seq[Expression]) => DotLong(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("sorted_floor"),
      new ExpressionInfo(classOf[graft.functions.SortedFloor].getName, "sorted_floor"),
      (es: Seq[Expression]) => graft.functions.SortedFloor(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[graft.functions.SimHashAgg].getName, "simhash_agg"),
      (es: Seq[Expression]) =>
        graft.functions.SimHashAgg(es.head).toAggregateExpression()))
    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName, "nfc_normalize"),
      (es: Seq[Expression]) => graft.functions.NfcNormalize(es.head)))
  }
}
