package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, DataQuality, RecordLinkage}

/**
 * Behavioral-analytics + warehouse-operations gates: cohort retention,
 * Markov event transitions, SCD2 history reconstruction, gap-filled
 * time-series resampling, and the declarative data-quality audit.
 * None exist in the reference (SURVEY §2.4+ extension surface); all
 * are deterministic integer/exact plans hash-gated against DuckDB.
 */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") graft.sources.EventTime.normalize(df, "ts") else df
  }

  /** date column → epoch seconds (matches DuckDB `epoch(..)`). */
  private def epochS(c: String) = col(c).cast("timestamp").cast("long")

  lazy val gates: Seq[Gate] = Seq(

    // daily cohort retention triangle: users cohorted by first-event
    // day, counted in every later active day (the events fixture spans
    // ~30 days, so daily buckets give a real triangle where weekly
    // degenerates to one cohort). ONE wide shuffle (groupBy user);
    // active-day sets are calendar-span-bounded
    Gate("cohort_retention", (s, dir) =>
      Analytics.cohortRetention(t(s, dir, "events"), Analytics.DayNanos),
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS bk FROM events),
uw AS (SELECT DISTINCT user_id, bk FROM e),
f AS (SELECT user_id, min(bk) AS b0 FROM uw GROUP BY user_id)
SELECT b0 AS cohort_bucket, bk - b0 AS bucket_offset, count(*) AS n_users
FROM uw JOIN f USING (user_id) GROUP BY 1, 2"""),

    // first-order Markov transition matrix over each user's event
    // stream under the total (ts, event_id) order
    Gate("event_transitions", (s, dir) =>
      Analytics.eventTransitions(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t, event_type FROM events),
l AS (SELECT user_id, event_type AS src_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS dst_type
  FROM e)
SELECT src_type, dst_type, count(*) AS n_trans,
  count(DISTINCT user_id) AS n_users
FROM l WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type"""),

    // SCD2 validity intervals from the orders change log: each
    // customer's o_orderstatus runs collapsed to [valid_from,
    // valid_to) segments — the warehouse history-build
    Gate("scd2_history", (s, dir) =>
      Analytics.scd2History(t(s, dir, "orders"),
          col("o_custkey"), epochS("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"))
        .select(col("k").as("o_custkey"), col("a").as("o_orderstatus"),
          col("valid_from"), col("valid_to"),
          col("n_rows").as("n_orders"), col("seg")),
      """WITH o AS (SELECT o_custkey AS k, CAST(epoch(o_orderdate) AS BIGINT) AS od,
    o_orderkey AS tb, o_orderstatus AS a FROM orders),
l AS (SELECT *, lag(a) OVER (PARTITION BY k ORDER BY od, tb) AS prev_a FROM o),
m AS (SELECT *, CASE WHEN prev_a IS NULL OR prev_a <> a THEN 1 ELSE 0 END AS chg FROM l),
s AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY k ORDER BY od, tb
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg FROM m),
g AS (SELECT k, seg, max(a) AS a, min(od) AS valid_from,
    count(*) AS n_orders FROM s GROUP BY k, seg)
SELECT k AS o_custkey, a AS o_orderstatus, valid_from,
  lead(valid_from) OVER (PARTITION BY k ORDER BY seg) AS valid_to,
  n_orders, seg
FROM g"""),

    // hourly resample with explicit zero rows for empty (type, hour)
    // cells across the corpus's global hour span
    Gate("ts_gapfill", (s, dir) =>
      Analytics.gapFillHourly(t(s, dir, "events")),
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
    CAST(round(value*100) AS BIGINT) AS cents FROM events),
b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM e),
g AS (SELECT t.event_type, unnest(range(b.h0, b.h1 + 1)) AS hr
  FROM (SELECT DISTINCT event_type FROM e) t, b),
c AS (SELECT event_type, hr, count(*) AS cnt,
    CAST(sum(cents) AS BIGINT) AS sum_cents FROM e GROUP BY event_type, hr)
SELECT g.event_type, g.hr, COALESCE(cnt, 0) AS cnt,
  COALESCE(sum_cents, 0) AS sum_cents
FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.hr = c.hr"""),

    // declarative data-quality audit: completeness, domain/range
    // conformance, key uniqueness, referential integrity — every
    // per-table rule family folded into ONE conditional-aggregate
    // scan; orphan checks are anti-join counts
    Gate("dq_audit", (s, dir) => {
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      val customer = t(s, dir, "customer")
      DataQuality.report(
        DataQuality.ruleViolations(orders, Seq(
          "orders.o_custkey_null" -> col("o_custkey").isNull,
          "orders.o_totalprice_nonpos" -> (col("o_totalprice") <= 0.0),
          "orders.o_orderstatus_domain" ->
            !col("o_orderstatus").isin("O", "F", "P"))),
        DataQuality.duplicateKeyCount(orders, col("o_orderkey"),
          "orders.o_orderkey_dup"),
        DataQuality.orphanCount(orders, col("o_custkey"),
          customer, col("c_custkey"), "orders.o_custkey_orphan"),
        DataQuality.ruleViolations(lineitem, Seq(
          "lineitem.l_quantity_range" ->
            !expr("cast(round(l_quantity) as bigint)").between(1L, 50L),
          "lineitem.l_discount_range" ->
            !expr("cast(round(l_discount*100) as bigint)").between(0L, 10L),
          "lineitem.l_tax_range" ->
            !expr("cast(round(l_tax*100) as bigint)").between(0L, 8L))),
        DataQuality.duplicateKeyCount(lineitem,
          struct(col("l_orderkey"), col("l_linenumber")),
          "lineitem.line_key_dup"),
        DataQuality.orphanCount(lineitem, col("l_orderkey"),
          orders, col("o_orderkey"), "lineitem.l_orderkey_orphan"),
        // cross-table temporal coherence: a line shipped before its
        // order was placed (one key-join, conditional-agg on top)
        DataQuality.ruleViolations(
          lineitem.join(orders.select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey")),
          Seq("lineitem.ship_before_order" ->
            (col("l_shipdate") < col("o_orderdate")))))
    },
      """SELECT 'orders.o_custkey_null' AS check_name,
  CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bad FROM orders
UNION ALL SELECT 'orders.o_totalprice_nonpos',
  CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
UNION ALL SELECT 'orders.o_orderstatus_domain',
  CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
UNION ALL SELECT 'orders.o_orderkey_dup',
  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
UNION ALL SELECT 'orders.o_custkey_orphan',
  CAST(count(*) AS BIGINT) FROM orders
  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL SELECT 'lineitem.l_quantity_range',
  CAST(coalesce(sum(CASE WHEN CAST(round(l_quantity) AS BIGINT) NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
UNION ALL SELECT 'lineitem.l_discount_range',
  CAST(coalesce(sum(CASE WHEN CAST(round(l_discount*100) AS BIGINT) NOT BETWEEN 0 AND 10 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
UNION ALL SELECT 'lineitem.l_tax_range',
  CAST(coalesce(sum(CASE WHEN CAST(round(l_tax*100) AS BIGINT) NOT BETWEEN 0 AND 8 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
UNION ALL SELECT 'lineitem.line_key_dup',
  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem
UNION ALL SELECT 'lineitem.l_orderkey_orphan',
  CAST(count(*) AS BIGINT) FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL SELECT 'lineitem.ship_before_order',
  CAST(coalesce(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""),

    // incremental rollup maintenance: a stored hourly rollup over the
    // "prior" 4/5 of the corpus merges with the new batch's rollup by
    // summing partials at POST-aggregation scale — the batch-ETL
    // maintenance law (merge(prior, batch) == recompute(whole), the
    // additive analog of stream_hll's max-merge law). The corpus is
    // never re-scanned to absorb a batch.
    Gate("rollup_merge", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          expr("div(ts, 3600000000000) * 3600").as("hour_epoch"),
          expr("cast(round(value*100) as bigint)").as("cents"))
      def rollup(df: DataFrame) = df
        .groupBy(col("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      rollup(e.filter(col("event_id") % 5 < 4))
        .unionByName(rollup(e.filter(col("event_id") % 5 === 4)))
        .groupBy(col("hour_epoch"), col("event_type"))
        .agg(sum(col("cnt")).as("cnt"), sum(col("sum_cents")).as("sum_cents"))
    },
      // the oracle is the ONE-PASS rollup: merge-of-partials must equal it
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
  count(*) AS cnt,
  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY hour_epoch, event_type"""),

    // PIVOT: per user-cohort event counts, one column per event type
    // (explicit value list — deterministic schema, map-side partials;
    // Catalyst rewrites pivot to one conditional aggregate pass)
    Gate("events_pivot", (s, dir) =>
      t(s, dir, "events")
        .select((col("user_id") % 10).as("cohort"), col("event_type"))
        .groupBy(col("cohort"))
        .pivot("event_type", Seq("view", "click", "purchase", "error", "signup"))
        .agg(count(lit(1)))
        .select(col("cohort"),
          coalesce(col("view"), lit(0L)).as("view"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("signup"), lit(0L)).as("signup")),
      """SELECT user_id % 10 AS cohort,
  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END), 0) AS BIGINT) AS view,
  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 0) AS BIGINT) AS click,
  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 0) AS BIGINT) AS purchase,
  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END), 0) AS BIGINT) AS error,
  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END), 0) AS BIGINT) AS signup
FROM events GROUP BY cohort"""),

    // set operations as a product question: of the users active in
    // the first week, who RETAINED (intersect — active again later)
    // and who CHURNED (except — never seen again). INTERSECT/EXCEPT
    // plan as distinct-preserving semi/anti joins under Catalyst —
    // never a driver-side set. (On this dense fixture every user
    // retains; the churned leg staying empty is itself the assertion,
    // and the retained leg carries the discrimination.)
    Gate("retention_sets", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), expr(s"div(ts, ${Analytics.WeekNanos})").as("wk"))
      val w0 = e.agg(min(col("wk")).as("w0"))
      val tagged = e.crossJoin(broadcast(w0))
      val first = tagged.filter(col("wk") === col("w0")).select("user_id").distinct()
      val later = tagged.filter(col("wk") > col("w0")).select("user_id").distinct()
      first.intersect(later).select(lit("retained").as("stage"), col("user_id"))
        .unionByName(
          first.except(later).select(lit("churned").as("stage"), col("user_id")))
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events),
b AS (SELECT min(wk) AS w0 FROM e),
f AS (SELECT DISTINCT user_id FROM e, b WHERE wk = w0),
l AS (SELECT DISTINCT user_id FROM e, b WHERE wk > w0)
SELECT 'retained' AS stage, user_id FROM (SELECT user_id FROM f INTERSECT SELECT user_id FROM l)
UNION ALL
SELECT 'churned', user_id FROM (SELECT user_id FROM f EXCEPT SELECT user_id FROM l)"""),

    // fuzzy record linkage (entity resolution): a "dirty registry" of
    // every 5th part's name with its 4th character deleted links back
    // to the distinct-name catalog through deletion-neighborhood
    // blocking + levenshtein <= 1 verify — the fuzzy match runs as an
    // exact equi-join, never a cross product
    Gate("fuzzy_link", (s, dir) => {
      val parts = t(s, dir, "part")
      val catalog = parts.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("id_r"))
        .select(col("id_r"), col("p_name").as("name_r"))
      val dirty = parts.filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("id_l"),
          expr("concat(substring(p_name, 1, 3), substring(p_name, 5, length(p_name)))")
            .as("name_l"))
      RecordLinkage.linkEd1(dirty, catalog)
    },
      {
        val lkeys = RecordLinkage.deletionKeysSql("name_l")
        val rkeys = RecordLinkage.deletionKeysSql("name_r")
        s"""WITH cat AS (SELECT min(p_partkey) AS id_r, p_name AS name_r FROM part GROUP BY p_name),
dirty AS (SELECT p_partkey AS id_l,
    substr(p_name, 1, 3) || substr(p_name, 5) AS name_l
  FROM part WHERE p_partkey % 5 = 0),
lk AS (SELECT id_l, name_l, unnest($lkeys) AS bk FROM dirty),
rk AS (SELECT id_r, name_r, unnest($rkeys) AS bk FROM cat)
SELECT DISTINCT id_l, name_l, id_r, name_r,
  CAST(levenshtein(name_l, name_r) AS BIGINT) AS dist
FROM lk JOIN rk USING (bk)
WHERE levenshtein(name_l, name_r) <= 1"""
      })
  )
}
