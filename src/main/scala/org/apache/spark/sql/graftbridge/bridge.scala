package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, FileSourceConstantMetadataAttribute}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
import org.apache.spark.sql.sources.{BaseRelation, Filter}

/**
 * Minimal bridge into Spark's `private[sql]` Column/Expression conversion
 * (`org.apache.spark.sql.classic.ExpressionUtils`). Lives under the
 * `org.apache.spark.sql` package so the graft library can expose custom
 * Catalyst expressions as ordinary `Column`s — the same technique Spark
 * extension libraries use.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The DataFrame of an already resolved logical plan. */
  def ofRows(s: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `t` with every field, element and value nullable, at any depth: the
    * data schema Spark gives a file relation read with a given schema. */
  def asNullable(t: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    t.asNullable

  /** `exprs` with each attribute named as in `output`, as
    * `FileSourceStrategy` names a scan's filters before translating
    * them (`DataSourceStrategy.normalizeExprs`). */
  def normalize(exprs: Seq[Expression], output: Seq[Attribute]): Seq[Expression] =
    DataSourceStrategy.normalizeExprs(exprs, output)

  /** The data source filters a file scan of `relation` hands its reader
    * for the scan's `dataFilters`, translated as `FileSourceScanExec`
    * translates them (`DataSourceStrategy.translateFilter`, constant
    * metadata-column filters left out). */
  def pushedFilters(relation: BaseRelation, dataFilters: Seq[Expression]): Seq[Filter] = {
    val nested = DataSourceUtils.supportNestedPredicatePushdown(relation)
    dataFilters.filterNot(_.references.exists {
      case FileSourceConstantMetadataAttribute(_) => true
      case _ => false
    }).flatMap(DataSourceStrategy.translateFilter(_, nested))
  }

  /** Catalyst's `private[sql]` bounded top-k aggregate (a size-`num`
    * priority queue per group, map-side combinable — the TakeOrdered
    * shape as an aggregate function). `reverse = true` keeps the
    * SMALLEST `num` values. Returned array is unsorted. */
  def collectTopK(e: Expression, num: Int, reverse: Boolean): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate
        .GraftCollect.topK(e, num, reverse))

  /** Catalyst's bloom-filter-build aggregate (the machinery behind
    * Spark's own runtime row-group filtering): one pass over `e` (must
    * be a LongType hash, e.g. `xxhash64`) producing a serialized
    * `BloomFilter` as binary. Map-side combinable (buffers merge by
    * bit-or). */
  def bloomAgg(e: Expression, estimatedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        e,
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /**
   * Clamp the inherited stats of a just-`localCheckpoint`ed DataFrame.
   *
   * Spark 4's `Dataset.checkpoint` propagates the CHILD PLAN's
   * estimated `Statistics` into the new `LogicalRDD`
   * (`LogicalRDD.rewriteStatsAndConstraints`). In an iterative
   * self-join loop (connected-components rounds, bounded relaxations)
   * each round's plan references the previous checkpoint twice, and
   * `SizeInBytesOnlyStatsPlanVisitor.visitJoin` MULTIPLIES children
   * sizes — so the estimated `sizeInBytes` roughly SQUARES every
   * round. The BigInt's digit count then doubles per round: by round
   * ~17 (an 80k-vertex supernode chain, measured) the driver spends
   * minutes inside `BigInteger.multiplyToomCook3` computing stats for
   * a plan whose true size is megabytes, and deeper graphs never
   * finish. Clamping at `Long.MaxValue` after every checkpoint keeps
   * the estimate's magnitude bounded — one round's plan then multiplies
   * a handful of ≤2^63 numbers (hundreds of digits, microseconds) and
   * the next clamp resets — while leaving small-table estimates (and so
   * broadcast-join decisions) untouched.
   */
  def clampCheckpointStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val cap = BigInt(Long.MaxValue)
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val st = lr.computeStats()
        if (st.sizeInBytes <= cap && st.rowCount.forall(_ <= cap)) df
        else {
          val clamped = st.copy(sizeInBytes = st.sizeInBytes.min(cap),
            rowCount = st.rowCount.map(_.min(cap)))
          val session = df.sparkSession
            .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          val plan = new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            session, Some(clamped), Some(lr.constraints))
          org.apache.spark.sql.classic.Dataset.ofRows(session, plan)
        }
      case _ => df
    }
  }

  /** Membership probe against a serialized bloom filter (codegen'd; the
    * probe side of Spark's runtime filters). `value` must be the SAME
    * hash expression family used to build (`xxhash64`). NO false
    * negatives — a `false` is definitive absence; a `true` must be
    * re-verified exactly if exactness is required. */
  def bloomMightContain(bloom: Column, value: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ExpressionUtils.expression(bloom), ExpressionUtils.expression(value)))
}
