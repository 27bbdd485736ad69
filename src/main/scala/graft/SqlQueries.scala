package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.GraftCatalog

/**
 * End-to-end gates for the SQL STRING surface — the first thing a real
 * user touches: [[GraftCatalog.registerAll]] (temp views + the engine's
 * registered SQL functions) followed by plain `spark.sql` text. Nothing
 * here goes through the Column API; if function registration, parsing,
 * or resolution of `zorder`/`zorder_x`/`zorder_y`/`simhash_agg` breaks,
 * these queries break.
 */
object SqlQueries {

  private def sql(s: SparkSession, dir: String, text: String): DataFrame = {
    GraftCatalog.registerAll(s, dir)
    s.sql(text)
  }

  lazy val gates: Seq[Gate] = Seq(
    // the range_count rectangle, expressed purely in SQL text. The
    // zorder/zorder_x/zorder_y roundtrip predicates are identities over
    // in-domain points, so the result equals the plain rectangle count —
    // unless the SQL-registered codec is broken, which is the gate.
    Gate("sql_range_count", (s, dir) => sql(s, dir,
      """SELECT event_type, count(*) AS cnt
FROM (SELECT event_type,
             cast(floor(value*100) as int) AS x,
             cast(user_id as int) AS y,
             zorder(cast(floor(value*100) as int), cast(user_id as int)) AS zkey
      FROM events)
WHERE x BETWEEN 10000 AND 30000 AND y BETWEEN 40 AND 110
  AND zorder_x(zkey) = x AND zorder_y(zkey) = y
GROUP BY event_type"""),
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE CAST(floor(value*100) AS INT) BETWEEN 10000 AND 30000
  AND user_id BETWEEN 40 AND 110
GROUP BY event_type"""),

    // the 3-D codec through the SQL parser path: a box count whose
    // predicates route through the registered zorder3* functions (the
    // roundtrip identities gate the codec; the z3 BETWEEN gate mirrors
    // rangeFilter3's loose interval — pruning-only over in-domain data)
    Gate("sql_box_count_3d", (s, dir) => sql(s, dir,
      """SELECT event_type, count(*) AS cnt
FROM (SELECT event_type,
             cast(floor(value*100) as int) AS x,
             cast(user_id as int) AS y,
             cast(event_id % 2097152 as int) AS t,
             zorder3(cast(floor(value*100) as int), cast(user_id as int),
                     cast(event_id % 2097152 as int)) AS z3
      FROM events)
WHERE x BETWEEN 10000 AND 30000 AND y BETWEEN 40 AND 110 AND t BETWEEN 500 AND 300000
  AND zorder3_x(z3) = x AND zorder3_y(z3) = y AND zorder3_t(z3) = t
  AND z3 BETWEEN zorder3(10000, 40, 500) AND zorder3(30000, 110, 300000)
GROUP BY event_type"""),
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE CAST(floor(value*100) AS INT) BETWEEN 10000 AND 30000
  AND user_id BETWEEN 40 AND 110
  AND (event_id % 2097152) BETWEEN 500 AND 300000
GROUP BY event_type"""),

    // CORRELATED scalar subqueries through the SQL surface — the
    // decorrelation path (Catalyst rewrites each correlated aggregate
    // to a grouped join) that no Column-API gate exercises: orders
    // beating their own customer's average price, with the average
    // compared in exact integer cents via cross-multiplication
    // (cents·n > Σcents — a float avg would tie-break differently)
    Gate("sql_correlated", (s, dir) => sql(s, dir,
      """WITH o AS (SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_above,
       CAST(sum(cents) AS BIGINT) AS cents_above
FROM o o1
WHERE cents * (SELECT count(*) FROM o o2 WHERE o2.o_custkey = o1.o_custkey)
      > (SELECT sum(cents) FROM o o2 WHERE o2.o_custkey = o1.o_custkey)
GROUP BY o_custkey"""),
      // DuckDB runs the SAME correlated text — two independent
      // decorrelators must agree on the exact-integer comparison
      """WITH o AS (SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_above,
       CAST(sum(cents) AS BIGINT) AS cents_above
FROM o o1
WHERE cents * (SELECT count(*) FROM o o2 WHERE o2.o_custkey = o1.o_custkey)
      > (SELECT sum(cents) FROM o o2 WHERE o2.o_custkey = o1.o_custkey)
GROUP BY o_custkey"""),

    // interval RANGE window frames — the time-windowed running
    // aggregate surface (30-day trailing spend per customer) that ROWS
    // frames get WRONG under date ties (RANGE includes all peers, so
    // the result is tie-order-independent and hash-gateable); cents
    // are exact integers so the running sums replay bit-for-bit
    Gate("sql_window_range", (s, dir) => sql(s, dir,
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
SELECT o_orderkey, o_custkey,
  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_30d,
  CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS BIGINT) AS n_30d
FROM o"""),
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
SELECT o_orderkey, o_custkey,
  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_30d,
  CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_30d
FROM o"""),

    // EXISTS / NOT EXISTS correlated subqueries — the OTHER Catalyst
    // decorrelation path (RewritePredicateSubquery → left-semi/anti
    // join), disjoint from sql_correlated's scalar-aggregate rewrite:
    // the EXISTS branch carries a NON-EQUI correlated predicate
    // (cents > 20·bal_cents) that must ride the semi join's condition,
    // and the NOT EXISTS branch is the takedown shape (customers with
    // no orders at all). Row-level output, exact integer comparisons.
    Gate("sql_exists", (s, dir) => sql(s, dir, ExistsSql),
      ExistsSql),

    // LATERAL correlated subquery with per-key ORDER BY + LIMIT — the
    // top-k-per-group shape through the THIRD decorrelation path
    // (Catalyst's DecorrelateInnerQuery must hoist the correlated
    // predicate through the sort+limit and plan a lateral join; DuckDB
    // runs its own lateral unnesting on the SAME text): each
    // customer's two most expensive orders, exact integer cents with
    // a full (cents, o_orderkey) tie order so the row set is unique
    Gate("sql_lateral", (s, dir) => sql(s, dir, LateralSql),
      // DuckDB's lateral unnesting runs the SAME text — two engines'
      // independent lateral planners must agree on the per-key top-2
      LateralSql),

    // the SimHash sketch through the SQL parser path: exercises the
    // registered simhash_agg aggregate — must hash-match the Column-API
    // twin (`simhash`) against the same relational oracle.
    Gate("sql_simhash", (s, dir) => sql(s, dir,
      """SELECT doc_id,
       simhash_agg(cast(conv(substr(md5(concat('0:', w)), 1, 15), 16, 10) as bigint)) AS simhash
FROM (SELECT doc_id, explode(array_distinct(split(lower(trim(text)), '\\s+'))) AS w
      FROM documents)
GROUP BY doc_id"""),
      // identical pipeline to the Column-API `simhash` gate
      Gate.sql(TextQueries.gates, "simhash")),

    // semi-structured ingestion through the SQL surface: build one
    // JSONL record per document in-query, parse it back with a
    // from_json schema projection (nested struct + field promotion) —
    // the JSONL-corpus ingestion shape, gated against DuckDB's
    // independent JSON parser. Per-row, exchange-free.
    Gate("sql_jsonl_roundtrip", (s, dir) => sql(s, dir,
      """SELECT doc_id, js.meta.src AS src, js.meta.id AS id,
       cast(size(split(js.body, ' ')) as bigint) AS n_body,
       js.meta.id = doc_id AS id_ok
FROM (SELECT doc_id,
        from_json(concat('{"meta":{"src":"', source, '","id":', doc_id,
            '},"body":"',
            array_join(slice(split(lower(trim(text)), '\\s+'), 1, 5), ' '),
            '"}'),
          'meta STRUCT<src: STRING, id: BIGINT>, body STRING') AS js
      FROM documents)"""),
      """WITH j AS (SELECT doc_id,
  '{"meta":{"src":"' || source || '","id":' || doc_id || '},"body":"' ||
    array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[1:5], ' ') || '"}' AS js
  FROM documents)
SELECT doc_id,
  json_extract_string(js, '$.meta.src') AS src,
  CAST(json_extract(js, '$.meta.id') AS BIGINT) AS id,
  CAST(len(string_split(json_extract_string(js, '$.body'), ' ')) AS BIGINT) AS n_body,
  CAST(json_extract(js, '$.meta.id') AS BIGINT) = doc_id AS id_ok
FROM j"""),

    // the ts_ntz timestamp surface: the catalog's canonical events view
    // carries ts as BIGINT nanos, and ts_ntz (same instant, TIMESTAMP_NTZ)
    // exists precisely so user SQL can apply timestamp functions with
    // oracle parity — this gate pins that parity: date_trunc bucketing,
    // hour/minute/second extraction, zone-independent on both engines
    Gate("sql_ts_functions", (s, dir) => sql(s, dir,
      """SELECT event_type,
       CAST(date_trunc('DAY', ts_ntz) AS DATE) AS d,
       count(*) AS cnt,
       CAST(sum(hour(ts_ntz)) AS BIGINT) AS hour_sum,
       CAST(max(minute(ts_ntz)) AS BIGINT) AS max_min,
       CAST(min(second(ts_ntz)) AS BIGINT) AS min_sec
FROM events
GROUP BY event_type, CAST(date_trunc('DAY', ts_ntz) AS DATE)"""),
      // DuckDB's raw events.ts is the same wall-clock instant ts_ntz
      // carries — the parity the catalog column exists for
      """SELECT event_type,
  CAST(date_trunc('day', ts) AS DATE) AS d,
  count(*) AS cnt,
  CAST(sum(extract(hour FROM ts)) AS BIGINT) AS hour_sum,
  CAST(max(extract(minute FROM ts)) AS BIGINT) AS max_min,
  CAST(min(extract(second FROM ts)) AS BIGINT) AS min_sec
FROM events
GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)""")
  )

  /** SAME-TEXT through both engines (the sql_correlated discipline):
    * Spark rewrites EXISTS/NOT EXISTS to semi/anti joins, DuckDB
    * decorrelates independently — the gate is their exact agreement. */
  private val LateralSql =
    """SELECT c.c_custkey, t.o_orderkey, t.cents
FROM customer c,
LATERAL (SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents
         FROM orders WHERE o_custkey = c.c_custkey
         ORDER BY cents DESC, o_orderkey LIMIT 2) t"""

  private val ExistsSql =
    """WITH o AS (SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
c AS (SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer)
SELECT c_custkey, 'big_spender' AS grp FROM c
WHERE EXISTS (SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey
              AND o.cents > 20 * c.bal_cents)
UNION ALL
SELECT c_custkey, 'no_orders' AS grp FROM c
WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey)"""
}
