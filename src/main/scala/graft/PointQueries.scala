package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.PointStore
import graft.sources.StatsTable
import graft.zorder.{IntRange, ZOrder}

/**
 * The point-store query inventory (SURVEY §2.1/§2.2/§2.8) registered for
 * the driver's DuckDB-oracle correctness gate. Each query derives 2-D
 * integer points from the driver tables (FIXTURES.md §B) and exercises
 * one reference operator; each gate's oracle is the equivalent ANSI SQL —
 * including an independent pure-SQL re-implementation of the Morton
 * interleave (the same public mask-ladder, so the bit codec itself is
 * cross-checked end-to-end).
 */
object PointQueries {

  // events points: x = floor(value*100) in [1, 49002], y = user_id in [0, 149]
  private def eventsPoints(s: SparkSession, dir: String, extra: Seq[String] = Nil): DataFrame =
    PointStore.points(
      s.read.parquet(s"$dir/events.parquet"),
      col("event_id"), expr("cast(floor(value*100) as int)"), col("user_id"),
      extra.map(col))

  // spatio-temporal points: (x, y) as eventsPoints plus t = the low 21
  // bits of event_id — all three coordinates fit the 3-D codec's 21-bit
  // domain
  private def events3(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet").select(
      col("event_id").as("id"),
      expr("cast(floor(value*100) as int)").as("x"),
      col("user_id").cast("int").as("y"),
      expr("cast(event_id % 2097152 as int)").as("t"))
      .withColumn("z3", zorder3(col("x"), col("y"), col("t")))

  // part points: x = p_size in [1, 50], y = floor(p_retailprice) in [900, 999]
  private def partPoints(s: SparkSession, dir: String): DataFrame =
    PointStore.points(
      s.read.parquet(s"$dir/part.parquet"),
      col("p_partkey"), col("p_size"), expr("cast(floor(p_retailprice) as int)"))

  /** DuckDB SQL computing `(… , x, y, zkey)` for a source table with the
    * public Morton mask-ladder — the oracle twin of [[graft.zorder.ZOrder]]. */
  private def zladder(table: String, xExpr: String, yExpr: String,
                      idExpr: String = "NULL", extraCols: String = ""): String = {
    val ex = if (extraCols.isEmpty) "" else extraCols + ", "
    s"""WITH zsrc AS (SELECT $ex$idExpr AS id, CAST($xExpr AS BIGINT) AS x, CAST($yExpr AS BIGINT) AS y FROM $table),
zg1 AS (SELECT *, ((x | (x<<16)) & 281470681808895) AS gx1, ((y | (y<<16)) & 281470681808895) AS gy1 FROM zsrc),
zg2 AS (SELECT *, ((gx1 | (gx1<<8)) & 71777214294589695) AS gx2, ((gy1 | (gy1<<8)) & 71777214294589695) AS gy2 FROM zg1),
zg3 AS (SELECT *, ((gx2 | (gx2<<4)) & 1085102592571150095) AS gx3, ((gy2 | (gy2<<4)) & 1085102592571150095) AS gy3 FROM zg2),
zg4 AS (SELECT *, ((gx3 | (gx3<<2)) & 3689348814741910323) AS gx4, ((gy3 | (gy3<<2)) & 3689348814741910323) AS gy4 FROM zg3),
zg5 AS (SELECT *, ((gx4 | (gx4<<1)) & 6148914691236517205) AS gx5, ((gy4 | (gy4<<1)) & 6148914691236517205) AS gy5 FROM zg4),
zpts AS (SELECT $ex id, CAST(x AS INT) AS x, CAST(y AS INT) AS y, (gx5<<1) | gy5 AS zkey FROM zg5)"""
  }

  private val eventsLadder = zladder(
    "events", "floor(value*100)", "user_id", "event_id", "event_type")
  private val partLadder = zladder(
    "part", "p_size", "floor(p_retailprice)", "p_partkey")

  // query rectangle used by range_query / range_count
  private val RX = IntRange(10000, 30000)
  private val RY = IntRange(40, 110)
  // time window for range_query_3d (non-empty at every SF)
  private val RT3 = IntRange(500, 300000)
  // knn_3d anchor (inside the events coordinate cloud at every SF)
  private val QX3 = 25000; private val QY3 = 75; private val QT3 = 800
  // get_point_3d anchor — the (x, y, t) of event_id 800 at sf0.01
  private val GX3 = 3783; private val GY3 = 104; private val GT3 = 800
  // octree stats depth: 29 coordinate bits under the constant top bit
  // (~10 refinement levels per dimension — resolves the events cloud)
  private val STATS3_PL = 30
  // get / knn anchors (chosen so get returns multiple ids at sf0.01)
  private val GX = 48; private val GY = 945
  private val QX = 25; private val QY = 950; private val K = 10
  private val STATS_PL = 46

  lazy val gates: Seq[Gate] = Seq(
    // E1/X1 — the codec itself, cross-checked against the SQL ladder
    Gate("zorder_key", (s, dir) =>
      partPoints(s, dir).select(col("id"), col("zkey")),
      s"""$partLadder SELECT id, zkey FROM zpts"""),

    // E1 inverse — zorder_x/zorder_y decode gated against an
    // independent SQL bit-compress ladder
    Gate("zorder_roundtrip", (s, dir) => {
      val p = partPoints(s, dir)
      p.select(col("id"), col("x"), col("y"),
        graft.functions.GraftFunctions.zorder_x(col("zkey")).as("rx"),
        graft.functions.GraftFunctions.zorder_y(col("zkey")).as("ry"))
    },
      s"""$partLadder,
unz AS (SELECT id, x, y,
  (zkey >> 1) & 6148914691236517205 AS gx, zkey & 6148914691236517205 AS gy FROM zpts),
c1 AS (SELECT id, x, y, ((gx | (gx>>1)) & 3689348814741910323) AS gx1, ((gy | (gy>>1)) & 3689348814741910323) AS gy1 FROM unz),
c2 AS (SELECT id, x, y, ((gx1 | (gx1>>2)) & 1085102592571150095) AS gx2, ((gy1 | (gy1>>2)) & 1085102592571150095) AS gy2 FROM c1),
c3 AS (SELECT id, x, y, ((gx2 | (gx2>>4)) & 71777214294589695) AS gx3, ((gy2 | (gy2>>4)) & 71777214294589695) AS gy3 FROM c2),
c4 AS (SELECT id, x, y, ((gx3 | (gx3>>8)) & 281470681808895) AS gx4, ((gy3 | (gy3>>8)) & 281470681808895) AS gy4 FROM c3),
c5 AS (SELECT id, x, y, ((gx4 | (gx4>>16)) & 4294967295) AS gx5, ((gy4 | (gy4>>16)) & 4294967295) AS gy5 FROM c4)
SELECT id, x, y, CAST(gx5 AS INT) AS rx, CAST(gy5 AS INT) AS ry FROM c5"""),

    // E1 3-D extension — spatio-temporal Morton key over events
    // (x = value-derived, y = user, t = 21-bit event id), gated against
    // a per-bit summation oracle that shares NO constants with the
    // Scala mask ladder
    Gate("zorder3_key", (s, dir) =>
      events3(s, dir).select(col("id"), col("z3")),
      // 3-D codec oracle: per-bit summation (x bit → position 3i+2, y →
      // 3i+1, t → 3i) — derives the key with no shared mask constants
      s"""$z3Src,
z3bits AS (SELECT id, (((x >> b.range) & 1) << (3*b.range + 2))
    + (((y >> b.range) & 1) << (3*b.range + 1))
    + (((t >> b.range) & 1) << (3*b.range)) AS part
  FROM z3src, range(0, 21) b)
SELECT id, CAST(sum(part) AS BIGINT) AS z3 FROM z3bits GROUP BY id"""),

    Gate("zorder3_roundtrip", (s, dir) =>
      events3(s, dir).select(col("id"), col("x"), col("y"), col("t"),
        zorder3_x(col("z3")).as("rx"),
        zorder3_y(col("z3")).as("ry"),
        zorder3_t(col("z3")).as("rt")),
      s"""$z3Src,
z3bits AS (SELECT id, (((x >> b.range) & 1) << (3*b.range + 2))
    + (((y >> b.range) & 1) << (3*b.range + 1))
    + (((t >> b.range) & 1) << (3*b.range)) AS part
  FROM z3src, range(0, 21) b),
z3k AS (SELECT id, CAST(sum(part) AS BIGINT) AS z3 FROM z3bits GROUP BY id),
z3r AS (SELECT z3k.id,
    CAST(sum(((z3 >> (3*b.range + 2)) & 1) << b.range) AS INT) AS rx,
    CAST(sum(((z3 >> (3*b.range + 1)) & 1) << b.range) AS INT) AS ry,
    CAST(sum(((z3 >> (3*b.range)) & 1) << b.range) AS INT) AS rt
  FROM z3k, range(0, 21) b GROUP BY z3k.id)
SELECT s.id, CAST(s.x AS INT) AS x, CAST(s.y AS INT) AS y, CAST(s.t AS INT) AS t,
  r.rx, r.ry, r.rt
FROM z3src s JOIN z3r r ON s.id = r.id"""),

    // O3 3-D extension — spatio-temporal box query (raw predicates +
    // budgeted octree z3-interval pruning)
    Gate("range_query_3d", (s, dir) =>
      graft.operators.SpatioTemporal.rangeQuery3(
          events3(s, dir), RX, RY, RT3)
        .select(col("id"), col("x"), col("y"), col("t")),
      s"""SELECT event_id AS id, CAST(floor(value*100) AS INT) AS x, CAST(user_id AS INT) AS y,
  CAST(event_id % 2097152 AS INT) AS t
FROM events
WHERE CAST(floor(value*100) AS INT) BETWEEN ${RX.min} AND ${RX.max}
  AND user_id BETWEEN ${RY.min} AND ${RY.max}
  AND (event_id % 2097152) BETWEEN ${RT3.min} AND ${RT3.max}"""),

    // O5 3-D extension — exact spatio-temporal kNN (expanding-cube
    // probe + distributed top-k, deterministic (dist², id) ties)
    Gate("knn_3d", (s, dir) =>
      graft.operators.SpatioTemporal.knn3(events3(s, dir), QX3, QY3, QT3, K),
      s"""WITH p3 AS (SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
  CAST(user_id AS BIGINT) AS y, CAST(event_id % 2097152 AS BIGINT) AS t FROM events)
SELECT id, CAST(x AS INT) AS x, CAST(y AS INT) AS y, CAST(t AS INT) AS t,
  CAST((x - $QX3)*(x - $QX3) + (y - $QY3)*(y - $QY3) + (t - $QT3)*(t - $QT3) AS BIGINT) AS dist3
FROM p3 ORDER BY dist3, id LIMIT $K"""),

    // O2 3-D extension — exact (x, y, t) lookup via z3 equality
    Gate("get_point_3d", (s, dir) =>
      graft.operators.SpatioTemporal.get3(events3(s, dir), GX3, GY3, GT3)
        .select("id", "x", "y", "t"),
      s"""SELECT event_id AS id, CAST(floor(value*100) AS INT) AS x,
  CAST(user_id AS INT) AS y, CAST(event_id % 2097152 AS INT) AS t
FROM events
WHERE CAST(floor(value*100) AS INT) = $GX3 AND user_id = $GY3
  AND (event_id % 2097152) = $GT3"""),

    // O6 3-D extension — uniform-depth octree bucket stats
    Gate("index_stats_3d", (s, dir) =>
      graft.operators.SpatioTemporal.indexStats3(events3(s, dir), STATS3_PL),
      s"""$z3Src,
z3bits AS (SELECT id, (((x >> b.range) & 1) << (3*b.range + 2))
    + (((y >> b.range) & 1) << (3*b.range + 1))
    + (((t >> b.range) & 1) << (3*b.range)) AS part
  FROM z3src, range(0, 21) b),
z3k AS (SELECT id, CAST(sum(part) AS BIGINT) AS z3 FROM z3bits GROUP BY id),
b3 AS (SELECT z3 & CAST(${maskLit(STATS3_PL)} AS BIGINT) AS bucket_key, count(*) AS bucket_size
  FROM z3k GROUP BY 1)
SELECT bucket_key,
  concat(substring(lpad(bin(bucket_key), 64, '0'), 1, $STATS3_PL), repeat('*', ${64 - STATS3_PL})) AS bucket_name,
  bucket_size
FROM b3"""),

    // O3 — rectangle query
    Gate("range_query", (s, dir) =>
      PointStore.rangeQuery(eventsPoints(s, dir), RX, RY)
        .select(col("id"), col("x"), col("y")),
      s"""SELECT event_id AS id, CAST(floor(value*100) AS INT) AS x, CAST(user_id AS INT) AS y
FROM events
WHERE CAST(floor(value*100) AS INT) BETWEEN ${RX.min} AND ${RX.max}
  AND user_id BETWEEN ${RY.min} AND ${RY.max}"""),

    // O4 — range count (grouped, so the result is a real aggregation)
    Gate("range_count", (s, dir) =>
      PointStore.rangeQuery(eventsPoints(s, dir, Seq("event_type")), RX, RY)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt")),
      s"""SELECT event_type, count(*) AS cnt
FROM events
WHERE CAST(floor(value*100) AS INT) BETWEEN ${RX.min} AND ${RX.max}
  AND user_id BETWEEN ${RY.min} AND ${RY.max}
GROUP BY event_type"""),

    // O2 — exact point lookup: all ids at (GX, GY)
    Gate("get_point", (s, dir) =>
      PointStore.get(partPoints(s, dir), GX, GY)
        .select(col("id"), col("x"), col("y")),
      s"""SELECT p_partkey AS id, p_size AS x, CAST(floor(p_retailprice) AS INT) AS y
FROM part
WHERE p_size = $GX AND CAST(floor(p_retailprice) AS INT) = $GY"""),

    // the SET-oriented generalization of O3: 60 query rectangles of
    // widely varying sizes joined against the point set in one pass,
    // as an equi-join on adaptive grid cells (graft.operators
    // .SpatialJoin) — never a nested loop; the id-sum pins the exact
    // matched multiset per rectangle
    Gate("spatial_join_count", (s, dir) => {
      val pts = s.read.parquet(s"$dir/events.parquet").select(
        col("event_id").as("id"),
        expr("cast(floor(value*100) as int)").as("x"),
        col("user_id").cast("int").as("y"))
      val rects = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 60)
        .select(col("doc_id").as("rect_id"),
          ((col("doc_id") * 97) % 45000).as("xmin"),
          ((col("doc_id") * 97) % 45000 + 200 + (col("doc_id") % 17) * 600).as("xmax"),
          ((col("doc_id") * 13) % 120).as("ymin"),
          ((col("doc_id") * 13) % 120 + 3 + (col("doc_id") % 7) * 15).as("ymax"))
      graft.operators.SpatialJoin.joinCount(pts, rects)
    },
      """WITH r AS (SELECT doc_id AS rect_id,
    (doc_id * 97) % 45000 AS xmin,
    (doc_id * 97) % 45000 + 200 + (doc_id % 17) * 600 AS xmax,
    (doc_id * 13) % 120 AS ymin,
    (doc_id * 13) % 120 + 3 + (doc_id % 7) * 15 AS ymax
  FROM documents WHERE doc_id < 60),
p AS (SELECT event_id AS id, CAST(floor(value*100) AS INT) AS x, user_id AS y FROM events)
SELECT r.rect_id, CAST(count(p.id) AS BIGINT) AS n_points,
  CAST(coalesce(sum(p.id), 0) AS BIGINT) AS id_sum
FROM r LEFT JOIN p ON p.x BETWEEN r.xmin AND r.xmax AND p.y BETWEEN r.ymin AND r.ymax
GROUP BY r.rect_id"""),

    // O5 — exact kNN, deterministic (dist2, id) tie order
    Gate("knn", (s, dir) =>
      PointStore.knn(partPoints(s, dir), QX, QY, K),
      s"""SELECT p_partkey AS id, p_size AS x, CAST(floor(p_retailprice) AS INT) AS y,
  (CAST(p_size AS BIGINT) - $QX) * (CAST(p_size AS BIGINT) - $QX)
  + (CAST(floor(p_retailprice) AS BIGINT) - $QY) * (CAST(floor(p_retailprice) AS BIGINT) - $QY) AS dist2
FROM part
ORDER BY dist2, id LIMIT $K"""),

    // O5 tie fixture (SURVEY §2.1): collinear points x = n_nationkey on
    // y = 0, query (12, 0), k = 4 — x=10 and x=14 are equidistant at the
    // k boundary; the deterministic (dist2, id) order keeps the smaller
    // id, pinning the documented divergence from the reference's lossy
    // TreeSet (Client.java:94-101), which silently DROPS an equidistant
    // point instead of ranking it
    Gate("knn_ties", (s, dir) => {
      val pts = PointStore.points(s.read.parquet(s"$dir/nation.parquet"),
        col("n_nationkey"), col("n_nationkey"), lit(0))
      PointStore.knn(pts, 12, 0, 4)
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS id, CAST(n_nationkey AS INT) AS x, CAST(0 AS INT) AS y,
  (CAST(n_nationkey AS BIGINT) - 12) * (CAST(n_nationkey AS BIGINT) - 12) AS dist2
FROM nation
ORDER BY dist2, id LIMIT 4"""),

    // O6/E3 — index inspection: uniform-depth bucket stats + name format
    Gate("index_stats", (s, dir) =>
      PointStore.indexStats(eventsPoints(s, dir), STATS_PL),
      s"""$eventsLadder,
buckets AS (SELECT zkey & CAST(${maskLit(STATS_PL)} AS BIGINT) AS bucket_key, count(*) AS bucket_size FROM zpts GROUP BY 1)
SELECT bucket_key,
  concat(substring(lpad(bin(bucket_key), 64, '0'), 1, $STATS_PL), repeat('*', ${64 - STATS_PL})) AS bucket_name,
  bucket_size
FROM buckets"""),

    // O1 — upsert semantics: keep-last per (x, y, id) over the put log
    Gate("upsert_last", (s, dir) => {
      val putLog = PointStore.points(
        s.read.parquet(s"$dir/events.parquet"),
        col("user_id"), col("user_id") % 25, col("user_id") / 25,
        Seq(col("ts"), col("event_id"), col("value")))
      PointStore.latest(putLog, Seq(col("ts"), col("event_id")))
        .select(col("id"), col("x"), col("y"), col("value").as("last_value"))
    },
      """SELECT user_id AS id, CAST(user_id % 25 AS INT) AS x, CAST(user_id // 25 AS INT) AS y, last_value
FROM (
  SELECT user_id, value AS last_value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1"""),

    // O6/P7 — variable-depth (maySplit-analog) adaptive index stats
    Gate("index_adaptive", (s, dir) =>
      PointStore.adaptiveStats(eventsPoints(s, dir),
        threshold = 500L, statsDepth = 48, baseDepth = 2),
      // the reference's recursive maySplit as a recursive CTE: split any
      // bucket over the threshold until depth 48 (DuckDB disallows
      // left-shifting negatives, hence the -(1 << s) mask spelling)
      {
        val recur = s"""WITH RECURSIVE ${eventsLadder.stripPrefix("WITH ")},
split(bucket_key, prefix_len, bucket_size) AS (
  SELECT zkey & (-(CAST(1 AS BIGINT) << 62)), 2, count(*) FROM zpts GROUP BY 1
  UNION ALL
  SELECT child.k, s.prefix_len + 1, (
      SELECT count(*) FROM zpts
      WHERE (zkey & (-(CAST(1 AS BIGINT) << (64 - (s.prefix_len + 1))))) = child.k)
  FROM split s,
    LATERAL (SELECT s.bucket_key | (CAST(c.c AS BIGINT) << (63 - s.prefix_len)) AS k
             FROM (VALUES (0), (1)) c(c)) child
  WHERE s.bucket_size > 500 AND s.prefix_len < 48
)
SELECT bucket_key, prefix_len,
  concat(substring(lpad(bin(bucket_key), 64, '0'), 1, prefix_len), repeat('*', 64 - prefix_len)) AS bucket_name,
  bucket_size
FROM split
WHERE bucket_size > 0 AND (bucket_size <= 500 OR prefix_len = 48)"""
        recur
      }),

    // O6/P7 3-D extension — the same recursive split over the octree
    // key (one z3 prefix bit at a time; three bits = one refinement
    // level per dimension), vs the same recursive-CTE oracle shape
    Gate("index_adaptive_3d", (s, dir) =>
      graft.operators.SpatioTemporal.adaptiveStats3(events3(s, dir),
        threshold = 500L, statsDepth = 48, baseDepth = 2),
      // the same maySplit recursion over the 3-D octree key: the per-bit
      // summation CTE derives z3, then any bucket over the threshold
      // splits one prefix bit at a time down to depth 48
      s"""WITH RECURSIVE ${z3Src.stripPrefix("WITH ")},
z3bits AS (SELECT id, (((x >> b.range) & 1) << (3*b.range + 2))
    + (((y >> b.range) & 1) << (3*b.range + 1))
    + (((t >> b.range) & 1) << (3*b.range)) AS part
  FROM z3src, range(0, 21) b),
z3k AS (SELECT id, CAST(sum(part) AS BIGINT) AS z3 FROM z3bits GROUP BY id),
split(bucket_key, prefix_len, bucket_size) AS (
  SELECT z3 & (-(CAST(1 AS BIGINT) << 62)), 2, count(*) FROM z3k GROUP BY 1
  UNION ALL
  SELECT child.k, s.prefix_len + 1, (
      SELECT count(*) FROM z3k
      WHERE (z3 & (-(CAST(1 AS BIGINT) << (64 - (s.prefix_len + 1))))) = child.k)
  FROM split s,
    LATERAL (SELECT s.bucket_key | (CAST(c.c AS BIGINT) << (63 - s.prefix_len)) AS k
             FROM (VALUES (0), (1)) c(c)) child
  WHERE s.bucket_size > 500 AND s.prefix_len < 48
)
SELECT bucket_key, prefix_len,
  concat(substring(lpad(bin(bucket_key), 64, '0'), 1, prefix_len), repeat('*', 64 - prefix_len)) AS bucket_name,
  bucket_size
FROM split
WHERE bucket_size > 0 AND (bucket_size <= 500 OR prefix_len = 48)"""),

    // S2 — as-of (getRowOrBefore) routing against a bucket-stats table
    Gate("stats_asof", (s, dir) => {
      val pts = eventsPoints(s, dir)
      val stats = PointStore.indexStats(pts, STATS_PL)
        .filter(col("bucket_size") >= 100)
      val probes = pts.filter(col("id") % 100 === 0).select(col("id"), col("zkey"))
      StatsTable.asofLookup(s, probes, "zkey", stats, "bucket_key")
        .select(col("id"), col("bucket_key"))
    },
      s"""$eventsLadder,
buckets AS (SELECT zkey & CAST(${maskLit(STATS_PL)} AS BIGINT) AS k, count(*) AS n FROM zpts GROUP BY 1),
big AS (SELECT k FROM buckets WHERE n >= 100),
probes AS (SELECT id, zkey FROM zpts WHERE id % 100 = 0)
SELECT p.id, (SELECT max(k) FROM big b WHERE b.k <= p.zkey) AS bucket_key
FROM probes p"""),

    // distance self-join: all event-point pairs within Euclidean r=20
    // — grid cells of side r, 3x3-neighborhood equi-join, exact dist²
    // verify; each unordered pair exactly once by construction. The
    // oracle is the brute-force quadratic join — the gate proves the
    // grid decomposition loses and invents nothing
    Gate("distance_join", (s, dir) => {
      val pts = s.read.parquet(s"$dir/events.parquet").select(
        col("event_id").as("id"),
        expr("cast(floor(value*100) as int)").as("x"),
        col("user_id").cast("int").as("y"))
      graft.operators.SpatialJoin.distanceJoin(pts, 20L)
    },
      """WITH p AS (SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events)
SELECT a.id AS id_a, b.id AS id_b,
  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
FROM p a JOIN p b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 400"""),

    // spatial kNN JOIN: every point's 3 nearest neighbors within r=20
    // — the per-row generalization of the single-query knn verb; grid
    // candidates + map-side-bounded per-key top-k; brute-force window
    // oracle proves both the candidate coverage and the tie order
    Gate("knn_join_spatial", (s, dir) => {
      val pts = s.read.parquet(s"$dir/events.parquet").select(
        col("event_id").as("id"),
        expr("cast(floor(value*100) as int)").as("x"),
        col("user_id").cast("int").as("y"))
      graft.operators.SpatialJoin.knnWithinJoin(pts, 20L, 3)
    },
      """WITH p AS (SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events),
pairs AS (SELECT a.id AS id_a, b.id AS id_b,
    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
  FROM p a JOIN p b ON a.id <> b.id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 400),
r AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY dist2, id_b) AS rn
  FROM pairs)
SELECT id_a, id_b, dist2, CAST(rn AS BIGINT) AS rk FROM r WHERE rn <= 3"""),

    // spatio-temporal distance self-join: event pairs within r=150 in
    // (x, y, t) — the 27-cell-neighborhood generalization; brute-force
    // quadratic oracle again proves the grid loses/invents nothing
    Gate("distance_join_3d", (s, dir) => {
      val pts = s.read.parquet(s"$dir/events.parquet").select(
        col("event_id").as("id"),
        expr("cast(floor(value*100) as int)").as("x"),
        col("user_id").cast("int").as("y"),
        expr("cast(event_id % 2097152 as int)").as("t"))
      graft.operators.SpatialJoin.distanceJoin3(pts, 150L)
    },
      """WITH p AS (SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y, CAST(event_id % 2097152 AS BIGINT) AS t FROM events)
SELECT a.id AS id_a, b.id AS id_b,
  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
    + (a.t - b.t) * (a.t - b.t) AS dist2
FROM p a JOIN p b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
    + (a.t - b.t) * (a.t - b.t) <= 22500"""),

    // 2-D skyline over part points (size, price both minimized — the
    // "smallest and cheapest" Pareto front); bucket-prefilter plan,
    // NOT-EXISTS dominance oracle
    Gate("skyline", (s, dir) =>
      graft.operators.Analytics.skyline(
        partPoints(s, dir).select(col("id"), col("x"), col("y")),
        bucketWidth = 4L),
      """WITH p0 AS (SELECT CAST(p_size AS BIGINT) AS x,
    CAST(floor(p_retailprice) AS BIGINT) AS y, min(p_partkey) AS id
  FROM part GROUP BY 1, 2)
SELECT id, x, y FROM p0 p
WHERE NOT EXISTS (SELECT 1 FROM p0 q
  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y))"""),

    // TOMBSTONE DELETE EQUIVALENCE — the takedown/GDPR verb neither the
    // reference nor a naive 100-TB store has (SURVEY §2.1; Client.java:
    // 217-224 only drops whole stores). The gate builds the z-clustered
    // store, logically deletes every fifth key via equality-delete
    // markers (an O(markers) sidecar append — the store is untouched),
    // re-puts HALF the deleted keys with a later sequence (they must
    // RESURRECT through the marker), then snapshots range/total/kNN
    // aggregates TWICE: phase 'logical' through the broadcast anti-join
    // read path, phase 'folded' after compactDeletes physically rewrote
    // the store (crash-atomic _READY scratch swap) and retired the
    // markers. The oracle emits the aggregates once per phase from the
    // filtered source rows, so a lost/resurrection-failed/duplicated row
    // breaks the phase that introduced it while the other still matches.
    Gate("delete_equiv", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-delete-equiv").toString
      val base = eventsPoints(s, dir).withColumn("put_seq", lit(0L))
      PointStore.write(base, s"$tmp/store")
      val store = PointStore.open(s, s"$tmp/store")
      store.delete(base.filter(col("id") % 5 === 0)
        .select(col("id"), col("x"), col("y"), lit(1L).as("put_seq")))
      PointStore.append(
        base.filter(col("id") % 10 === 0).withColumn("put_seq", lit(2L)),
        s"$tmp/store")
      def snapshot(phase: String): org.apache.spark.sql.Row = {
        // one materialization feeds the phase's 4-5 jobs (range agg,
        // total agg, knn probe loop) — otherwise each job re-reads the
        // store THROUGH the tombstone fold (r19 optimization round)
        val pts = graft.operators.CheckpointScope.checkpoint(
          store.live(Seq("put_seq")))
        val r = PointStore.rangeQuery(pts, RX, RY)
          .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("x").cast("long")), lit(0L)),
            coalesce(sum(col("y").cast("long")), lit(0L))).head()
        val tot = pts.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val kn = PointStore.knn(pts, 25000, 75, 10)
          .agg(coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("dist2")), lit(0L))).head()
        // every consumer of pts is a collected Row by here — release the
        // phase's blocks NOW instead of letting phases accumulate until
        // the run-boundary releaseAll (r19 ADVICE; r20)
        graft.operators.CheckpointScope.release(pts)
        org.apache.spark.sql.Row(phase, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), tot.getLong(0), tot.getLong(1),
          kn.getLong(0), kn.getLong(1))
      }
      val logical = snapshot("logical")
      store.compactDeletes(Seq("put_seq"))
      val folded = snapshot("folded")
      val outSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("phase",
          org.apache.spark.sql.types.StringType, nullable = false) +:
        Seq("range_cnt", "range_id_sum", "range_x_sum", "range_y_sum",
          "total_cnt", "total_id_sum", "knn_id_sum", "knn_d2_sum").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(Seq(logical, folded)).asJava),
        outSchema)
    },
      // the live multiset after delete + resurrect, aggregated once per
      // phase: keys id%5=0 are deleted, the id%10=0 half re-put later
      // (they must survive the marker) — identical rows for both phases
      // pins logical-read exactness AND fold result-invisibility
      s"""WITH pts AS MATERIALIZED (
  SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events
  WHERE event_id % 5 <> 0 OR event_id % 10 = 0),
r AS (SELECT CAST(count(*) AS BIGINT) AS range_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS range_id_sum,
    CAST(coalesce(sum(x), 0) AS BIGINT) AS range_x_sum,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS range_y_sum
  FROM pts WHERE x BETWEEN ${RX.min} AND ${RX.max}
    AND y BETWEEN ${RY.min} AND ${RY.max}),
t AS (SELECT CAST(count(*) AS BIGINT) AS total_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS total_id_sum FROM pts),
k AS (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) AS knn_id_sum,
    CAST(coalesce(sum(d2), 0) AS BIGINT) AS knn_d2_sum
  FROM (SELECT id, (x-25000)*(x-25000) + (y-75)*(y-75) AS d2
        FROM pts ORDER BY d2, id LIMIT 10)),
phases(phase) AS (VALUES ('logical'), ('folded'))
SELECT phase, range_cnt, range_id_sum, range_x_sum, range_y_sum,
  total_cnt, total_id_sum, knn_id_sum, knn_d2_sum
FROM phases, r, t, k"""),

    // RANGE (predicate) DELETE EQUIVALENCE — region takedown without
    // enumerating ids: one rectangle marker kills every inside row
    // with seq <= the marker's; re-puts inside the region (higher seq)
    // resurrect through it; compactDeletes folds the region physically.
    // The read side compiles markers into ONE pushed-down x/y/seq
    // predicate (no join); phases 'logical' and 'folded' must both
    // equal the filtered-source oracle
    Gate("delete_range_equiv", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-delrange").toString
      val base = eventsPoints(s, dir).withColumn("put_seq", lit(0L))
      PointStore.write(base, s"$tmp/store")
      val store = PointStore.open(s, s"$tmp/store")
      val inRect = col("x").between(20000, 26000) && col("y").between(50, 90)
      locally { import s.implicits._
        store.deleteRange(Seq((20000, 26000, 50, 90, 1L))
          .toDF("xmin", "xmax", "ymin", "ymax", "put_seq")) }
      PointStore.append(
        base.filter(inRect && col("id") % 2 === 0).withColumn("put_seq", lit(2L)),
        s"$tmp/store")
      def snapshot(phase: String): org.apache.spark.sql.Row = {
        // one materialization feeds the phase's 4-5 jobs (range agg,
        // total agg, knn probe loop) — otherwise each job re-reads the
        // store THROUGH the tombstone fold (r19 optimization round)
        val pts = graft.operators.CheckpointScope.checkpoint(
          store.live(Seq("put_seq")))
        val r = PointStore.rangeQuery(pts, RX, RY)
          .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("x").cast("long")), lit(0L)),
            coalesce(sum(col("y").cast("long")), lit(0L))).head()
        val tot = pts.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val kn = PointStore.knn(pts, 25000, 75, 10)
          .agg(coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("dist2")), lit(0L))).head()
        // every consumer of pts is a collected Row by here — release the
        // phase's blocks NOW instead of letting phases accumulate until
        // the run-boundary releaseAll (r19 ADVICE; r20)
        graft.operators.CheckpointScope.release(pts)
        org.apache.spark.sql.Row(phase, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), tot.getLong(0), tot.getLong(1),
          kn.getLong(0), kn.getLong(1))
      }
      val logical = snapshot("logical")
      store.compactDeletes(Seq("put_seq"))
      val folded = snapshot("folded")
      val outSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("phase",
          org.apache.spark.sql.types.StringType, nullable = false) +:
        Seq("range_cnt", "range_id_sum", "range_x_sum", "range_y_sum",
          "total_cnt", "total_id_sum", "knn_id_sum", "knn_d2_sum").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(Seq(logical, folded)).asJava),
        outSchema)
    },
      // the live multiset after region delete + inside re-put: outside
      // rows untouched, inside rows survive only via the seq-2 re-put
      // (id % 2 = 0) — identical rows for both phases pins the compiled
      // predicate's exactness AND the fold's result-invisibility
      s"""WITH pts AS MATERIALIZED (
  SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events
  WHERE NOT (CAST(floor(value*100) AS BIGINT) BETWEEN 20000 AND 26000
             AND user_id BETWEEN 50 AND 90)
     OR event_id % 2 = 0),
r AS (SELECT CAST(count(*) AS BIGINT) AS range_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS range_id_sum,
    CAST(coalesce(sum(x), 0) AS BIGINT) AS range_x_sum,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS range_y_sum
  FROM pts WHERE x BETWEEN ${RX.min} AND ${RX.max}
    AND y BETWEEN ${RY.min} AND ${RY.max}),
t AS (SELECT CAST(count(*) AS BIGINT) AS total_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS total_id_sum FROM pts),
k AS (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) AS knn_id_sum,
    CAST(coalesce(sum(d2), 0) AS BIGINT) AS knn_d2_sum
  FROM (SELECT id, (x-25000)*(x-25000) + (y-75)*(y-75) AS d2
        FROM pts ORDER BY d2, id LIMIT 10)),
phases(phase) AS (VALUES ('logical'), ('folded'))
SELECT phase, range_cnt, range_id_sum, range_x_sum, range_y_sum,
  total_cnt, total_id_sum, knn_id_sum, knn_d2_sum
FROM phases, r, t, k"""),

    // SNAPSHOT (time-travel) READS — the same put/delete/re-put history
    // as delete_equiv, read back AS OF each sequence bound: asof0 must
    // see the pre-delete store, asof1 the post-delete store (marker
    // applied, re-put not yet visible), asof2 the final live view.
    // Both side tables are append-only with monotone sequences, so a
    // snapshot is two predicates over data already on disk — history
    // costs zero rewrites (PointStore.snapshotAsOf scaladoc).
    Gate("snapshot_asof", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-snapshot").toString
      val base = eventsPoints(s, dir).withColumn("put_seq", lit(0L))
      PointStore.write(base, s"$tmp/store")
      val store = PointStore.open(s, s"$tmp/store")
      store.delete(base.filter(col("id") % 5 === 0)
        .select(col("id"), col("x"), col("y"), lit(1L).as("put_seq")))
      PointStore.append(
        base.filter(col("id") % 10 === 0).withColumn("put_seq", lit(2L)),
        s"$tmp/store")
      def snapshot(phase: String, bound: Long): org.apache.spark.sql.Row = {
        // same one-materialization-per-phase shape as delete_equiv (r19)
        val pts = graft.operators.CheckpointScope.checkpoint(
          store.snapshotAsOf(Seq("put_seq"), Seq(lit(bound))))
        val r = PointStore.rangeQuery(pts, RX, RY)
          .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("x").cast("long")), lit(0L)),
            coalesce(sum(col("y").cast("long")), lit(0L))).head()
        val tot = pts.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val kn = PointStore.knn(pts, 25000, 75, 10)
          .agg(coalesce(sum(col("id")), lit(0L)),
            coalesce(sum(col("dist2")), lit(0L))).head()
        // every consumer of pts is a collected Row by here — release the
        // phase's blocks NOW instead of letting phases accumulate until
        // the run-boundary releaseAll (r19 ADVICE; r20)
        graft.operators.CheckpointScope.release(pts)
        org.apache.spark.sql.Row(phase, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), tot.getLong(0), tot.getLong(1),
          kn.getLong(0), kn.getLong(1))
      }
      val rows = Seq(snapshot("asof0", 0L), snapshot("asof1", 1L),
        snapshot("asof2", 2L))
      val outSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("phase",
          org.apache.spark.sql.types.StringType, nullable = false) +:
        Seq("range_cnt", "range_id_sum", "range_x_sum", "range_y_sum",
          "total_cnt", "total_id_sum", "knn_id_sum", "knn_d2_sum").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        outSchema)
    },
      // each AS OF bound replays the multiset the history presented at
      // that sequence: all rows (asof0), deleted keys gone (asof1),
      // re-put half resurrected (asof2 == the live view)
      {
        def phaseSql(name: String, pred: String) =
          s"""SELECT '$name' AS phase, r.*, t.*, k.* FROM
(SELECT CAST(count(*) AS BIGINT) AS range_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS range_id_sum,
    CAST(coalesce(sum(x), 0) AS BIGINT) AS range_x_sum,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS range_y_sum
  FROM src WHERE ($pred) AND x BETWEEN ${RX.min} AND ${RX.max}
    AND y BETWEEN ${RY.min} AND ${RY.max}) r,
(SELECT CAST(count(*) AS BIGINT) AS total_cnt,
    CAST(coalesce(sum(id), 0) AS BIGINT) AS total_id_sum
  FROM src WHERE $pred) t,
(SELECT CAST(coalesce(sum(id), 0) AS BIGINT) AS knn_id_sum,
    CAST(coalesce(sum(d2), 0) AS BIGINT) AS knn_d2_sum
  FROM (SELECT id, (x-25000)*(x-25000) + (y-75)*(y-75) AS d2
        FROM src WHERE $pred ORDER BY d2, id LIMIT 10)) k"""
        s"""WITH src AS MATERIALIZED (
  SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
    CAST(user_id AS BIGINT) AS y FROM events)
${phaseSql("asof0", "TRUE")}
UNION ALL ${phaseSql("asof1", "id % 5 <> 0")}
UNION ALL ${phaseSql("asof2", "id % 5 <> 0 OR id % 10 = 0")}"""
      })
  )

  private def maskLit(pl: Int): String = ZOrder.makeMask(pl).toString

  /** Source CTE for the 3-D codec oracle — the SQL twin of [[events3]]. */
  private val z3Src =
    """WITH z3src AS (SELECT event_id AS id, CAST(floor(value*100) AS BIGINT) AS x,
  CAST(user_id AS BIGINT) AS y, CAST(event_id % 2097152 AS BIGINT) AS t FROM events)"""
}
