package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational operator coverage beyond the reference's surface: the
 * aggregations, joins, window functions, sorts and top-k the extension
 * operators lean on (SURVEY §2.4-§2.6 — absent in the reference, free in
 * Catalyst, but still gated here against the DuckDB oracle).
 *
 * Determinism policy for the oracle gate: monetary doubles are exact at
 * two decimals in the driver tables, so aggregates are computed in
 * integer cents (`round(v*100)` → BIGINT) — bit-exact and
 * order-independent in both engines, unlike floating-point sums.
 * Event timestamps are canonical BIGINT epoch nanoseconds via
 * [[graft.sources.EventTime.normalize]], which absorbs both test-data
 * vintages (TIMESTAMP(NANOS)-as-BIGINT and TIMESTAMP(MICROS) NTZ);
 * queries surface them as epoch seconds.
 *
 * Scale notes (100 TB): every query below is shuffle-bounded with
 * map-side partial aggregation; small dimensions (nation, region,
 * filtered customer) are broadcast, so the only wide shuffles are on
 * high-cardinality keys. Top-k uses TakeOrderedAndProject (per-partition
 * k + driver merge of k·partitions rows).
 */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // events carries the engine's canonical BIGINT-nanos event time
    if (name == "events") graft.sources.EventTime.normalize(df, "ts") else df
  }

  /** timestamp → epoch seconds (matches DuckDB `epoch(..)`). */
  private def epochS(c: String) =
    col(c).cast("timestamp").cast("long")

  private val priceCents = "cast(round(l_extendedprice*100) as bigint)"
  private val discPct    = "cast(round(l_discount*100) as bigint)"

  lazy val gates: Seq[Gate] = Seq(

    // grouped aggregation with distinct agg (TPC-H Q1 flavor)
    Gate("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(expr("cast(round(l_quantity) as bigint)")).as("sum_qty"),
          sum(expr(priceCents)).as("sum_price_cents"),
          sum(expr(s"$priceCents * (100 - $discPct)")).as("sum_disc_price_e4"),
          count(lit(1)).as("cnt"),
          countDistinct(col("l_suppkey")).as("n_supp")),
      """SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
  count(*) AS cnt,
  count(DISTINCT l_suppkey) AS n_supp
FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    // 3-way join + agg + top-k (TPC-H Q3 flavor); the filtered customer
    // side is broadcast, lineitem⋈orders shuffles on the join key
    Gate("q3_topk", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = t(s, dir, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), epochS("o_orderdate").as("o_epoch"))
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_epoch"))
        .agg(sum(expr(s"$priceCents * (100 - $discPct)")).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS o_epoch,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_epoch
ORDER BY revenue_e4 DESC, o_orderkey LIMIT 10"""),

    // broadcast-dimension join chain + agg (TPC-H Q5 flavor)
    Gate("revenue_by_nation", (s, dir) => {
      val cn = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      t(s, dir, "orders")
        .join(cn, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("cast(round(o_totalprice*100) as bigint)")).as("rev_cents"))
    },
      """SELECT n_name, count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""),

    // the TPC-H Q5 shape — the deepest classic join chain: ONE fact
    // shuffle (lineitem⋈orders⋈customer on their keys), every
    // dimension side broadcast (region-filtered nation, supplier with
    // the local-supplier n_nationkey condition folded into the
    // broadcast join), revenue in exact 1e-4 fixed point
    // (cents × (100 − discount%)). Vintage-robust dates: o_orderdate
    // normalized to canonical BIGINT nanos on both engines
    Gate("q5_local_revenue", (s, dir) => {
      val nat = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = t(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = graft.sources.EventTime.normalize(
          t(s, dir, "orders"), "o_orderdate")
        .filter(col("o_orderdate") >= 820454400000000000L &&
          col("o_orderdate") < 852076800000000000L)
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("cast(round(l_extendedprice*100) as bigint)").as("price_c"),
          expr("cast(round(l_discount*100) as bigint)").as("disc_p"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(expr("price_c * (100 - disc_p)")).as("rev_e4"),
          count(lit(1)).as("n_items"))
    },
      """SELECT n_name,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS rev_e4,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND epoch_ns(o_orderdate) >= 820454400000000000
  AND epoch_ns(o_orderdate) < 852076800000000000
GROUP BY n_name"""),

    // window functions: rank + running sum per customer
    Gate("window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("run_cents",
          sum(expr("cast(round(o_totalprice*100) as bigint)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("o_orderkey"), col("o_custkey"), col("rn"), col("run_cents"))
    },
      """SELECT o_orderkey, o_custkey,
  row_number() OVER w AS rn,
  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),

    // exact per-group order statistics: p50/p90/p99 of event cents per
    // event_type, spelled as deterministic RANK SELECTION (the element
    // at rank ceil(q·n) of the sorted multiset — no interpolation, no
    // engine-specific quantile builtin, so both engines agree
    // bit-exactly; the value at a rank is tie-order-free even though
    // row_number among equal cents is not). One sort-per-group window —
    // exact quantiles cost a shuffle; the sketch-based alternative for
    // corpus-scale group counts is the token-histogram cutoff
    // (Curation.budgetSelect's shape)
    Gate("value_quantiles", (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          expr("cast(round(value*100) as bigint)").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("div(n + 1, 2)"), col("cents"))).as("p50"),
          max(when(col("rn") === expr("div(9 * n + 9, 10)"), col("cents"))).as("p90"),
          max(when(col("rn") === expr("div(99 * n + 99, 100)"), col("cents"))).as("p99"))
    },
      """WITH c AS (SELECT event_type, event_id, CAST(round(value*100) AS BIGINT) AS cents FROM events),
r AS (SELECT event_type, cents,
    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM c)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
  max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50,
  max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90,
  max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS p99
FROM r GROUP BY event_type"""),

    // sliding event-time window per user (RANGE frame over canonical
    // nanos): for each event, count + cents-sum of the user's events in
    // the trailing hour — the batch twin of a stream's sliding
    // aggregate. One shuffle on user_id; the frame is computed by the
    // window operator's running multiset, never a self-join
    Gate("events_sliding", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-3600000000000L, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          expr("cast(round(value*100) as bigint)").as("cents"))
        .withColumn("w_cnt", count(lit(1)).over(w))
        .withColumn("w_sum_cents", sum(col("cents")).over(w))
        .select("event_id", "user_id", "ts", "w_cnt", "w_sum_cents")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts,
    CAST(round(value*100) AS BIGINT) AS cents FROM events)
SELECT event_id, user_id, ts,
  count(*) OVER w AS w_cnt,
  CAST(sum(cents) OVER w AS BIGINT) AS w_sum_cents
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)"""),

    // per-group outlier detection by Tukey fences on EXACT rank-selected
    // quartiles (q1/q3 = elements at rank ceil(n/4)/ceil(3n/4), the
    // value_quantiles definition): flag events outside
    // [q1 − 1.5·IQR, q3 + 1.5·IQR]. The half-integer fence is compared
    // ×2 so everything stays exact BIGINTs. The per-type fences are a
    // 5-row model broadcast back onto the fact scan — one window-sort
    // shuffle for the quartiles, zero shuffles for the flagging pass
    Gate("outlier_events", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          expr("cast(round(value*100) as bigint)").as("cents"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      val fences = ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(max(when(col("rn") === expr("div(n + 3, 4)"), col("cents"))).as("q1"),
          max(when(col("rn") === expr("div(3 * n + 3, 4)"), col("cents"))).as("q3"))
      ev.join(broadcast(fences), "event_type")
        .filter(lit(2) * col("cents") > lit(2) * col("q3") + lit(3) * (col("q3") - col("q1")) ||
          lit(2) * col("cents") < lit(2) * col("q1") - lit(3) * (col("q3") - col("q1")))
        .select(col("event_id"), col("event_type"), col("cents"),
          col("q1"), col("q3"))
    },
      """WITH c AS (SELECT event_type, event_id, CAST(round(value*100) AS BIGINT) AS cents FROM events),
r AS (SELECT event_type, cents,
    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM c),
f AS (SELECT event_type,
    max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
    max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3
  FROM r GROUP BY event_type)
SELECT event_id, c.event_type, cents, q1, q3
FROM c JOIN f ON c.event_type = f.event_type
WHERE 2*cents > 2*q3 + 3*(q3 - q1) OR 2*cents < 2*q1 - 3*(q3 - q1)"""),

    // hierarchical totals in one pass (ROLLUP — absent in the
    // reference, free in Catalyst: partial-agg per grouping set, one
    // shuffle): per (type, cohort), per type, and grand total; NULL
    // grouping markers rendered as 'ALL' so they are distinguishable
    // from data nulls in both engines
    Gate("events_cube", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 10).as("cohort"),
          expr("cast(round(value*100) as bigint)").as("cents"))
        .rollup(col("event_type"), col("cohort"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("cohort").cast("string"), lit("ALL")).as("cohort"),
          col("cnt"), col("sum_cents")),
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
  COALESCE(CAST(cohort AS VARCHAR), 'ALL') AS cohort,
  count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM (SELECT event_type, user_id % 10 AS cohort,
    CAST(round(value*100) AS BIGINT) AS cents FROM events)
GROUP BY ROLLUP(event_type, cohort)"""),

    // tumbling-window aggregation over the event stream table — the
    // batch twin of the streaming ingest aggregation (SURVEY §2.9)
    Gate("events_hourly", (s, dir) =>
      t(s, dir, "events")
        // integer division: epoch-nanos exceed double precision (2^53)
        .withColumn("hour_epoch", expr("div(ts, 3600000000000) * 3600"))
        .groupBy(col("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(expr("cast(round(value*100) as bigint)")).as("sum_cents")),
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
  count(*) AS cnt,
  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY hour_epoch, event_type"""),

    // explicit skew-salted fact⋈dim join (ScaleLayout.saltedJoin) —
    // the result is salt-independent by construction, so the oracle is
    // the plain join: gates that salting changes the plan, not the answer
    Gate("salted_user_totals", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("cast(round(value*100) as bigint)").as("cents"))
      val dim = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      graft.sources.ScaleLayout.saltedJoin(ev, dim, "user_id", saltFactor = 8)
        .groupBy("user_id", "n_events").agg(sum("cents").as("sum_cents"))
    },
      """SELECT user_id, n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM (SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents FROM events) e
JOIN (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1) d USING (user_id)
GROUP BY user_id, n_events"""),

    // temporal as-of join: for each error event, the latest preceding
    // (or simultaneous) purchase of the same user
    Gate("asof_match", (s, dir) => {
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("e_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
      graft.operators.AsOfJoin.asof(errors, purchases, "user_id", "ts", "p_id")
        .select(col("e_id"), col("p_id"))
    },
      """WITH p AS (SELECT user_id, ts, max(event_id) AS p_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
e AS (SELECT user_id, ts, event_id AS e_id FROM events WHERE event_type = 'error')
SELECT e.e_id, p.p_id
FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts"""),

    // forward as-of: for each error event, the EARLIEST following
    // (or simultaneous) purchase of the same user
    Gate("asof_forward", (s, dir) => {
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("e_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
      graft.operators.AsOfJoin.asofForward(errors, purchases, "user_id", "ts", "p_id")
        .select(col("e_id"), col("p_id"))
    },
      """WITH p AS (SELECT user_id, ts, max(event_id) AS p_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
e AS (SELECT user_id, ts, event_id AS e_id FROM events WHERE event_type = 'error')
SELECT e.e_id, p.p_id
FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts"""),

    // tolerance as-of: latest preceding purchase, but only within 1h
    // of the error (the pandas merge_asof(tolerance=...) contract)
    Gate("asof_tolerance", (s, dir) => {
      val ev = graft.sources.EventTime.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("e_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
      graft.operators.AsOfJoin.asofTolerance(errors, purchases,
          "user_id", "ts", "p_id", tol = 3600L * 1000000000L)
        .select(col("e_id"), col("p_id"))
    },
      """WITH p AS (SELECT user_id, ts, max(event_id) AS p_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
e AS (SELECT user_id, ts, event_id AS e_id FROM events WHERE event_type = 'error')
SELECT e.e_id,
  CASE WHEN epoch_ns(e.ts) - epoch_ns(p.ts) <= 3600000000000 THEN p.p_id END AS p_id
FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts"""),

    // variable-length interval OVERLAP join: each event spans
    // [ts, ts + cents·4s] (value-dependent length, up to ~62 h);
    // view × click interval intersections per user through the grid
    // decomposition — the general form of band_join
    Gate("interval_join", (s, dir) => {
      val ev = graft.sources.EventTime.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("cast(round(value*100) as bigint)").as("cents"), col("event_type"))
      val err = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("e_id"),
          col("ts").as("e_s"), (col("ts") + col("cents") * 4000000000L).as("e_e"))
      val pur = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").as("p_s"), (col("ts") + col("cents") * 4000000000L).as("p_e"))
      graft.operators.RangeJoin.intervalJoin(err, pur, "user_id",
          "e_s", "e_e", "p_s", "p_e", cellWidth = 86400L * 1000000000L)
        .select("e_id", "p_id")
    },
      """WITH iv AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS s,
    epoch_ns(ts) + CAST(round(value*100) AS BIGINT) * 4000000000 AS e FROM events),
er AS (SELECT user_id, event_id, s, e FROM iv WHERE event_type = 'view'),
pu AS (SELECT user_id, event_id, s, e FROM iv WHERE event_type = 'click')
SELECT er.event_id AS e_id, pu.event_id AS p_id
FROM er JOIN pu ON er.user_id = pu.user_id AND er.s <= pu.e AND pu.s <= er.e"""),

    // band join: error/purchase pairs of the same user within 30 min
    Gate("band_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("e_ts"), col("event_id").as("e_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      graft.operators.RangeJoin.bandJoin(errors, purchases,
          "user_id", "e_ts", "p_ts", 1800L * 1000000000L)
        .select(col("e_id"), col("p_id"))
    },
      """SELECT e.event_id AS e_id, p.event_id AS p_id
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND e.event_type = 'error' AND p.event_type = 'purchase'
 AND abs(epoch_ns(e.ts) - epoch_ns(p.ts)) <= 1800000000000"""),

    // ordered funnel over the event log: first view → first later
    // click → first later purchase per user; one shuffle on user_id,
    // later stages join the shrinking frontier co-partitioned
    Gate("funnel_counts", (s, dir) =>
      graft.operators.Funnel.counts(t(s, dir, "events"),
        Seq("view", "click", "purchase")),
      """WITH e AS (SELECT user_id AS u, epoch_ns(ts) AS t, event_type AS ty FROM events),
s1 AS (SELECT u, min(t) AS t1 FROM e WHERE ty = 'view' GROUP BY u),
s2 AS (SELECT e.u, min(t) AS t2 FROM e JOIN s1 ON s1.u = e.u
  WHERE ty = 'click' AND t > t1 GROUP BY e.u),
s3 AS (SELECT e.u, min(t) AS t3 FROM e JOIN s2 ON s2.u = e.u
  WHERE ty = 'purchase' AND t > t2 GROUP BY e.u)
SELECT CAST(1 AS INT) AS stage, 'view' AS event_type, count(*) AS n_users FROM s1
UNION ALL SELECT CAST(2 AS INT), 'click', count(*) FROM s2
UNION ALL SELECT CAST(3 AS INT), 'purchase', count(*) FROM s3"""),

    // per-user funnel completion TIMES (the row-level view behind
    // funnel_counts): first view, first strictly-later click, first
    // strictly-later purchase — NULL where the funnel stopped
    Gate("funnel_stage_times", (s, dir) =>
      graft.operators.Funnel.stageTimes(t(s, dir, "events"),
        Seq("view", "click", "purchase")),
      """WITH e AS (SELECT user_id AS u, epoch_ns(ts) AS t, event_type AS ty FROM events),
s1 AS (SELECT u, min(t) AS t1 FROM e WHERE ty = 'view' GROUP BY u),
s2 AS (SELECT e.u, min(t) AS t2 FROM e JOIN s1 ON s1.u = e.u
  WHERE ty = 'click' AND t > t1 GROUP BY e.u),
s3 AS (SELECT e.u, min(t) AS t3 FROM e JOIN s2 ON s2.u = e.u
  WHERE ty = 'purchase' AND t > t2 GROUP BY e.u)
SELECT s1.u, t1, t2, t3
FROM s1 LEFT JOIN s2 ON s2.u = s1.u LEFT JOIN s3 ON s3.u = s1.u"""),

    // gap-based sessionization (24h gap) — batch twin of the
    // flatMapGroupsWithState streaming state machine (Sessionize)
    Gate("sessionize", (s, dir) =>
      graft.streaming.Sessionize.batch(
        t(s, dir, "events"), gapNanos = 86400L * 1000000000L),
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events),
l AS (SELECT *, lag(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS prev FROM e),
m AS (SELECT *, CASE WHEN prev IS NULL OR tns - prev > 86400000000000 THEN 1 ELSE 0 END AS ns FROM l),
s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tns, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
SELECT user_id, CAST(min(tns) // 1000000000 AS BIGINT) AS session_start,
  count(*) AS n_events,
  CAST((max(tns) - min(tns)) // 1000000000 AS BIGINT) AS duration_s
FROM s GROUP BY user_id, sid"""),

    // anti join: customers with no orders, rolled up by nation
    Gate("cust_no_orders", (s, dir) => {
      val pOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      val noOrders = t(s, dir, "customer")
        .join(pOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      noOrders
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
    },
      """SELECT n_name, count(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
GROUP BY n_name""")
  )
}
