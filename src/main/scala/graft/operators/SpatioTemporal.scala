package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.zorder.{IntRange, ZRanges3}

/**
 * Spatio-temporal point store: the 2-D point-store layout lifted to
 * (x, y, t) with the 3-D Morton codec — time is a clustered, prunable
 * dimension instead of a post-filter. A store z3-clustered with
 * [[write]]'s layout answers "this region, this time window" by
 * skipping row groups in all three dimensions at once; with the 2-D
 * layout the same query scans every epoch of the matching region.
 *
 * Same architecture as [[PointStore]]: raw per-dimension predicates
 * carry correctness; the budgeted octree interval union
 * ([[graft.zorder.ZRanges3]]) is pruning-only and conservative.
 */
object SpatioTemporal {

  /** Marks a column as a genuine `zorder3(x, y, t)` key — the soundness
    * gate for [[graft.plans.ZOrderPruningRule]]'s octree arm (persisted
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
    * ingest, mirroring [[PointStore.write]]'s default). */
  def write(pts: DataFrame, path: String, numPartitions: Int): Unit = {
    val p = if (numPartitions > 0) pts.repartitionByRange(numPartitions, col("z3")) else pts
    p.sortWithinPartitions("z3").write.mode("overwrite").parquet(path)
  }

  /** Inclusive 3-D box predicate: raw x/y/t bounds (correctness) AND
    * the budgeted octree z3-interval union (pruning-only superset of
    * the box's z3-image, pushed to Parquet for row-group skipping).
    * A box leaving the codec's 21-bit domain skips the interval
    * conjunct: out-of-domain coordinates wrap in the codec, so only
    * the raw predicates can be trusted there (same bail rule as the
    * 2-D pruning rule's negative-domain case). */
  def rangeFilter3(rx: IntRange, ry: IntRange, rt: IntRange): Column = {
    val raw = col("x").between(rx.min, rx.max) && col("y").between(ry.min, ry.max) &&
      col("t").between(rt.min, rt.max)
    val inDomain = Seq(rx, ry, rt).forall(r => r.min >= 0 && r.max <= graft.zorder.ZOrder3.MaxCoord)
    if (!inDomain) raw
    else raw && ZRanges3.decompose(rx, ry, rt, 16)
      .map { case (lo, hi) => col("z3").between(lo, hi) }
      .reduce(_ || _)
  }

  /** 3-D box query, inclusive bounds on every dimension. */
  def rangeQuery3(pts: DataFrame, rx: IntRange, ry: IntRange, rt: IntRange): DataFrame =
    pts.filter(rangeFilter3(rx, ry, rt))

  /** Exact 3-D point lookup — all ids at (x, y, t). The z3 equality
    * prunes to the file/row-group whose stats cover the key; raw
    * predicates carry correctness. */
  def get3(pts: DataFrame, x: Int, y: Int, t: Int): DataFrame =
    pts.filter(col("z3") === lit(graft.zorder.ZOrder3.zorder3(x, y, t)) &&
      col("x") === x && col("y") === y && col("t") === t)

  /** Uniform-depth octree bucket statistics — [[PointStore.indexStats]]
    * on the 3-D key (prefix length 3k+1 = k refinement levels per
    * dimension under the constant leading 0 bit). One shuffle with
    * map-side partial counts. */
  def indexStats3(pts: DataFrame, prefixLen: Int): DataFrame =
    pts.groupBy(bucket_key(col("z3"), prefixLen).as("bucket_key"))
      .agg(count(lit(1)).as("bucket_size"))
      .select(col("bucket_key"),
        bucket_name(col("bucket_key"), prefixLen).as("bucket_name"),
        col("bucket_size"))

  /** Variable-depth (maySplit-analog) octree bucket stats — the 3-D
    * twin of [[PointStore.adaptiveStats]]: recursively split any bucket
    * over `threshold` one z3 prefix bit at a time (three bits = one
    * full octree refinement level). Same shape: ONE data-scale
    * aggregation at a probed depth + a metadata-scale driver roll-up. */
  def adaptiveStats3(pts: DataFrame, threshold: Long, statsDepth: Int = 48,
                     baseDepth: Int = 2, driverRowCap: Long = 2000000L): DataFrame =
    PointStore.adaptiveStats(pts, threshold, statsDepth, baseDepth,
      driverRowCap, keyCol = "z3")

  /** Squared Euclidean distance to a fixed 3-D query point, exact in
    * Long arithmetic while it fits (21-bit coordinates: d² ≤ 3·2⁴² ≪ 2⁶³). */
  def dist3(qx: Int, qy: Int, qt: Int): Column = {
    val dx = col("x").cast("long") - qx.toLong
    val dy = col("y").cast("long") - qy.toLong
    val dt = col("t").cast("long") - qt.toLong
    dx * dx + dy * dy + dt * dt
  }

  /**
   * Exact 3-D kNN with deterministic (dist², id) tie order — the 2-D
   * search ([[PointStore.knn]]) lifted to the octree store: probe a cube
   * around the query until it holds ≥ k points, then the k-th in-cube
   * distance bounds the true k-th, so the final cube
   * `[q ± ceil(sqrt(kth))]` is a guaranteed superset of the answer;
   * finish with a distributed top-k (TakeOrderedAndProject — no global
   * sort, no driver candidate set; the driver sees only k scalars per
   * probe). Rows with a null x, y or t are never returned; cubes clamp
   * to the Int range only, so queries and rows outside the codec's
   * domain are answered by the raw predicates.
   *
   * TERMINATION, as in [[PointStore.knnRadius]]: a bare store scan
   * (`SpatioTemporal.open(..).df`) is seeded from its footer zone map
   * and submits AT MOST ONE probe job before the final scan; any other
   * frame walks the ×8 ladder from `initialRadius` to the cube covering
   * every Int coordinate, AT MOST 12 probes.
   */
  def knn3(pts: DataFrame, qx: Int, qy: Int, qt: Int, k: Int,
           initialRadius: Int = 64): DataFrame = {
    def cube(r: Long): DataFrame = rangeQuery3(pts,
      PointStore.around(qx, r), PointStore.around(qy, r), PointStore.around(qt, r))
    cube(PointStore.knnRadius(pts, Seq("x", "y", "t"), Seq(qx, qy, qt), k,
        initialRadius, cube, dist3(qx, qy, qt)))
      .withColumn("dist3", dist3(qx, qy, qt))
      .orderBy(col("dist3"), col("id"))
      .limit(k)
      .select("id", "x", "y", "t", "dist3")
  }

  def open(spark: org.apache.spark.sql.SparkSession, path: String): SpatioTemporalStore =
    new SpatioTemporalStore(spark, path)
}

/** A z3-clustered Parquet spatio-temporal store at a fixed path — the
  * 3-D twin of [[PointStore]]'s store wrapper. */
class SpatioTemporalStore(spark: org.apache.spark.sql.SparkSession, path: String) {

  /** The full store as a DataFrame `(id, x, y, t, z3)`. */
  def df: DataFrame = spark.read.parquet(path)

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
  def drop(): Unit = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hadoopPath, true)
    ()
  }
}
