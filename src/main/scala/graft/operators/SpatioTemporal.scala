package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.zorder.{IntRange, ZOrder3}

/**
 * Spatio-temporal point store: the 2-D point-store layout lifted to
 * (x, y, t) with the 3-D Morton codec — time is a clustered, prunable
 * dimension instead of a post-filter. A store z3-clustered with
 * [[write]]'s layout answers "this region, this time window" by
 * skipping row groups in all three dimensions at once; with the 2-D
 * layout the same query scans every epoch of the matching region.
 *
 * Same architecture as [[PointStore]]: raw per-dimension predicates
 * carry correctness; the budgeted z3 interval union
 * ([[graft.zorder.ZRanges]]) is pruning-only and conservative.
 */
object SpatioTemporal {

  /** Marks a column as a genuine `zorder3(x, y, t)` key — the soundness
    * gate for [[graft.plans.ZOrderPruningRule]] on z3 (persisted
    * through parquet in the footer schema). */
  val Z3Metadata: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.zorder3", true).build()

  /** Derive `(id, x, y, t, z3)` from arbitrary columns; coordinates
    * must fit the codec's 21-bit domain. */
  def points3(df: DataFrame, id: Column, x: Column, y: Column, t: Column): DataFrame =
    df.select(id.cast("long").as("id"), x.cast("int").as("x"),
      y.cast("int").as("y"), t.cast("int").as("t"))
      .withColumn("z3", zorder3(col("x"), col("y"), col("t")).as("z3", Z3Metadata))

  /** z3-clustered parquet layout (range-partitioned + sorted within
    * partitions), the octree analog of [[PointStore.write]].
    * `numPartitions = 0` keeps the incoming partitioning and only sorts
    * within partitions (the small-append shape used by streaming
    * ingest); unlike [[PointStore.write]], which range-partitions by
    * zkey at 0 too. */
  def write(pts: DataFrame, path: String, numPartitions: Int): Unit = {
    val p = if (numPartitions > 0) pts.repartitionByRange(numPartitions, col("z3")) else pts
    p.sortWithinPartitions("z3").write.mode("overwrite").parquet(path)
  }

  /** Inclusive 3-D box predicate ([[PointStore.boxFilter]] over `z3`). */
  def rangeFilter3(rx: IntRange, ry: IntRange, rt: IntRange): Column =
    PointStore.boxFilter(ZOrder3, "z3", Seq("x", "y", "t"), Seq(rx, ry, rt))

  /** 3-D box query, inclusive bounds on every dimension. */
  def rangeQuery3(pts: DataFrame, rx: IntRange, ry: IntRange, rt: IntRange): DataFrame =
    pts.filter(rangeFilter3(rx, ry, rt))

  /** Exact 3-D point lookup — all ids at (x, y, t). The z3 equality
    * prunes to the file/row-group whose stats cover the key; raw
    * predicates carry correctness. */
  def get3(pts: DataFrame, x: Int, y: Int, t: Int): DataFrame =
    pts.filter(col("z3") === lit(ZOrder3.zorder3(x, y, t)) &&
      col("x") === x && col("y") === y && col("t") === t)

  /** Uniform-depth octree bucket statistics — [[PointStore.indexStats]]
    * on the 3-D key (prefix length 3k+1 = k refinement levels per
    * dimension under the constant leading 0 bit). One shuffle with
    * map-side partial counts. */
  def indexStats3(pts: DataFrame, prefixLen: Int): DataFrame =
    PointStore.bucketStats(pts, "z3", prefixLen)

  /** Variable-depth (maySplit-analog) octree bucket stats — the 3-D
    * twin of [[PointStore.adaptiveStats]]: recursively split any bucket
    * over `threshold` one z3 prefix bit at a time (three bits = one
    * full octree refinement level). Same shape: ONE data-scale
    * aggregation at a probed depth + a metadata-scale driver roll-up. */
  def adaptiveStats3(pts: DataFrame, threshold: Long, statsDepth: Int = 48,
                     baseDepth: Int = 2, driverRowCap: Long = 2000000L): DataFrame =
    PointStore.adaptiveStats(pts, threshold, statsDepth, baseDepth,
      driverRowCap, keyCol = "z3")

  /** Squared Euclidean distance to a fixed 3-D query point in Long
    * arithmetic. Cubes clamp only to the Int range, so it is exact while
    * dx² + dy² + dt² fits a Long (every offset below 1.75·10⁹). */
  def dist3(qx: Int, qy: Int, qt: Int): Column = {
    val dx = col("x").cast("long") - qx.toLong
    val dy = col("y").cast("long") - qy.toLong
    val dt = col("t").cast("long") - qt.toLong
    dx * dx + dy * dy + dt * dt
  }

  /**
   * Exact 3-D kNN with deterministic (dist², id) tie order — the 2-D
   * search ([[PointStore.knn]]) lifted to the octree store: rounds of a
   * distributed top-k (`TakeOrderedAndProject` — no global sort, no
   * driver candidate set; the driver receives at most k rows per round)
   * over a cube around the query point. A round whose cube holds ≥ k
   * rows with the k-th inside the cube's inscribed ball is the answer;
   * otherwise the k-th in-cube distance bounds the true k-th, so the
   * cube `[q ± ceil(sqrt(kth))]` is a guaranteed superset of the answer.
   * Rows with a null x, y or t are never returned; cubes clamp to the
   * Int range only, so queries and rows outside the codec's domain are
   * answered by the raw predicates.
   *
   * TERMINATION, as in [[PointStore.nearest]]: a bare store scan
   * (`SpatioTemporal.open(..).df`) is seeded from its footer zone map
   * and costs one round when its probe answers (the returned frame is
   * then local), else the probe plus the final scan — each round one
   * Spark job, or no job within [[graft.plans.SmallStoreReads]]'
   * budget; any other frame
   * walks the ×8 ladder from `initialRadius` to the cube covering every
   * Int coordinate, AT MOST 12 rounds, each of which may answer.
   */
  def knn3(pts: DataFrame, qx: Int, qy: Int, qt: Int, k: Int,
           initialRadius: Int = 64): DataFrame =
    PointStore.nearest(pts, Seq("x", "y", "t"), Seq(qx, qy, qt), k, initialRadius,
      r => rangeQuery3(pts, PointStore.around(qx, r), PointStore.around(qy, r), PointStore.around(qt, r)),
      "dist3", dist3(qx, qy, qt))

  def open(spark: org.apache.spark.sql.SparkSession, path: String): SpatioTemporalStore =
    new SpatioTemporalStore(spark, path)
}

/** A z3-clustered Parquet spatio-temporal store at a fixed path — the
  * 3-D twin of [[PointStore]]'s store wrapper. */
class SpatioTemporalStore(spark: org.apache.spark.sql.SparkSession, path: String) {

  /** The full store as a DataFrame `(id, x, y, t, z3)`. */
  def df: DataFrame = ParquetFooters.readParquet(spark, path)

  def get(x: Int, y: Int, t: Int): DataFrame = SpatioTemporal.get3(df, x, y, t)
  def rangeQuery(rx: IntRange, ry: IntRange, rt: IntRange): DataFrame =
    SpatioTemporal.rangeQuery3(df, rx, ry, rt)
  def rangeCount(rx: IntRange, ry: IntRange, rt: IntRange): DataFrame =
    rangeQuery(rx, ry, rt).agg(count(lit(1)).as("cnt"))
  def knn(qx: Int, qy: Int, qt: Int, k: Int, initialRadius: Int = 64): DataFrame =
    SpatioTemporal.knn3(df, qx, qy, qt, k, initialRadius)
  def indexStats(prefixLen: Int): DataFrame = SpatioTemporal.indexStats3(df, prefixLen)
  def adaptiveStats(threshold: Long): DataFrame = SpatioTemporal.adaptiveStats3(df, threshold)

  /** Drop the store. */
  def drop(): Unit = StoreSwap.drop(spark, new org.apache.hadoop.fs.Path(path))
}
