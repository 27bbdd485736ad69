package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.CheckpointScope.Scoped

/**
 * Behavioral / warehouse analytics over the event log and change
 * tables — the product-analytics battery (cohort retention, Markov
 * transitions, time-series gap fill) plus the SCD2 history build every
 * warehouse ships. None of these exist in the reference (its surface
 * stops at spatial range/kNN); they are the operators a user of a
 * general analytics engine reaches for next, and each is expressible
 * as a small number of declarative Catalyst plans — no iteration, no
 * driver state.
 *
 * Determinism policy (matches [[graft.RelationalQueries]]): event
 * times are canonical BIGINT epoch nanos ([[graft.sources.EventTime]]),
 * money is integer cents, and every ordering is made total by a unique
 * id tiebreaker, so both engines hash-match bit-exactly.
 */
object Analytics {

  /** Nanoseconds per ISO week (7 days). */
  val WeekNanos = 604800000000000L

  /** Nanoseconds per day. */
  val DayNanos = 86400000000000L

  /** Nanoseconds per hour. */
  val HourNanos = 3600000000000L

  /**
   * Cohort retention matrix: users are cohorted by the epoch bucket
   * (day, week — `bucketNanos`) of their FIRST event; for each
   * (cohort_bucket, bucket_offset) the count of cohort users active in
   * that later bucket. The classic product-analytics triangle view.
   *
   * Scale shape: ONE wide shuffle (groupBy user_id); each user's
   * active-bucket set is collected as a bounded set — its size is
   * capped by the corpus's calendar span in buckets (hundreds to a few
   * thousand for years of data), never by event count — and exploded
   * back out map-side. The final (cohort, offset) rollup is a
   * partial-aggregatable count over at most span² cells.
   *
   * Input: events with `user_id` and canonical-nanos `ts`.
   * Output: `(cohort_bucket, bucket_offset, n_users)` — bucket an
   * epoch ordinal in `bucketNanos` units; offset-0 rows give cohort
   * sizes.
   */
  def cohortRetention(events: DataFrame,
                      bucketNanos: Long = WeekNanos): DataFrame = {
    val buckets = events
      .select(col("user_id"), expr(s"div(ts, $bucketNanos)").as("bk"))
      .groupBy(col("user_id"))
      .agg(min(col("bk")).as("b0"), collect_set(col("bk")).as("bks"))
    buckets
      .select(col("b0"), explode(col("bks")).as("bk"))
      .select(col("b0").as("cohort_bucket"), (col("bk") - col("b0")).as("bucket_offset"))
      .groupBy(col("cohort_bucket"), col("bucket_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * First-order Markov transition counts over each user's event
   * stream: for every consecutive pair under the total order
   * `(ts, event_id)`, one `(src_type, dst_type)` observation. The
   * output is the transition matrix session-flow / funnel-discovery
   * tools start from.
   *
   * Scale shape: one shuffle on `user_id` for the per-user sort (the
   * `lead` window), then a partial-aggregatable rollup over the
   * type-vocabulary-sized key space. Never a self-join.
   *
   * Output: `(src_type, dst_type, n_trans, n_users)`.
   */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("nxt").as("dst_type"))
      .agg(count(lit(1)).as("n_trans"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("src_type"), col("dst_type"), col("n_trans"), col("n_users"))
  }

  /**
   * SCD2 (slowly-changing-dimension type 2) history build from a
   * change log: collapse each key's consecutive runs of an unchanged
   * attribute value into one validity interval `[valid_from, valid_to)`
   * — `valid_to` NULL for the current (open) segment. The standard
   * warehouse reconstruction of "what was this entity's state at time
   * T" from an append-only observation log.
   *
   * Determinism: the per-key order is made total by `(orderCol,
   * tieCol)`; segment ids come from a running sum of change flags
   * under that order, so both engines produce identical intervals.
   *
   * Scale shape: one shuffle on `key` (all three windows and the
   * segment rollup share its partitioning — Catalyst reuses the sort),
   * nothing wider than the key's own history ever groups together.
   *
   * Output: `(key, attr value, valid_from, valid_to, n_rows, seg)`
   * with `valid_from`/`valid_to` in `orderCol`'s units.
   */
  def scd2History(log: DataFrame, key: Column, order: Column, tie: Column,
                  attr: Column): DataFrame = {
    val base = log.select(key.as("k"), order.as("o"), tie.as("tb"),
      attr.as("a"))
    val w = Window.partitionBy(col("k")).orderBy(col("o"), col("tb"))
    val seg = base
      .withColumn("prev_a", lag(col("a"), 1).over(w))
      .withColumn("chg",
        when(col("prev_a").isNull || col("prev_a") =!= col("a"), 1L)
          .otherwise(0L))
      .withColumn("seg", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("seg"))
      .agg(max(col("a")).as("a"), // constant within a segment
        min(col("o")).as("valid_from"), count(lit(1)).as("n_rows"))
    val ws = Window.partitionBy(col("k")).orderBy(col("seg"))
    seg.withColumn("valid_to", lead(col("valid_from"), 1).over(ws))
      .select(col("k"), col("a"), col("valid_from"), col("valid_to"),
        col("n_rows"), col("seg"))
  }

  /**
   * Hourly resample of the event stream with explicit ZERO rows for
   * empty hours: every `event_type` gets one row per hour of the
   * corpus's global [min, max] hour span — the gap-filled series a
   * charting layer or a forecasting model consumes directly (a plain
   * groupBy silently omits empty buckets).
   *
   * Scale shape: the aggregate is the usual partial-agg shuffle; the
   * grid is (type vocabulary × span hours) — POST-AGGREGATION scale,
   * built from a 1-row bounds aggregate crossed with the distinct
   * types and `sequence`-exploded, never touching the fact table
   * again. The left join runs at grid scale.
   *
   * Output: `(event_type, hr, cnt, sum_cents)`, `hr` an epoch hour.
   */
  def gapFillHourly(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"),
      expr(s"div(ts, $HourNanos)").as("hr"),
      expr("cast(round(value*100) as bigint)").as("cents"))
    // ONE scan of the fact table; bounds and the type list derive from
    // the aggregated counts (post-aggregation scale), so the grid
    // build never re-reads the corpus. The counts table is scope-
    // checkpointed because three consumers read it (bounds, types,
    // the final join) — released with the caller's CheckpointScope
    // lifecycle like every other shared intermediate
    val counts = e.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      .scopedCheckpoint()
    val bounds = counts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val grid = counts.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1)")).as("hr"))
    grid.join(counts, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"))
  }

  /**
   * 2-D skyline (Pareto front, both dimensions MINIMIZED — Börzsönyi
   * et al. 2001): the points no other point dominates (≤ in both
   * coordinates, < in at least one). "Smallest and cheapest" queries.
   * Exact duplicates on `(x, y)` collapse to the minimum id first (the
   * distinct skyline).
   *
   * Scale shape — the naive spelling is ONE GLOBAL window sort, which
   * a 100 TB input cannot pay, so this runs the bucket-prefilter
   * decomposition: (1) bucket by `x div bucketWidth`; (2) per-bucket
   * min-y — a table of bucket-count rows — gets a running min over
   * strictly-earlier buckets (a window over the TINY bucket table);
   * (3) only points with `y` BELOW every earlier bucket's minimum
   * survive (any other point is provably dominated by an earlier
   * bucket's witness: strictly smaller x, ≤ y); (4) each bucket is
   * reduced to its LOCAL skyline with a PARTITIONED window — a point
   * dominated inside its own bucket can never be on the global front,
   * and a globally non-dominated point is locally non-dominated, so
   * the reduction is exact and parallel; (5) the exact running-min
   * skyline scan runs over the union of local fronts only — its
   * single-partition window sees Σ per-bucket fronts (O(front +
   * buckets·log bucket) on benign data), never the corpus. On the
   * true adversarial input — EVERY point on the front — the output
   * itself is corpus-sized and any exact algorithm's totally-ordered
   * emit is output-bound; the local pass guarantees the global window
   * is bounded by that output, not by the pre-filter's looseness.
   *
   * Output: `(id, x, y)` — the non-dominated points.
   */
  def skyline(points: DataFrame, bucketWidth: Long = 1024L): DataFrame = {
    require(bucketWidth >= 1)
    val pts = points
      .select(col("id").cast("long").as("id"),
        col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(min(col("id")).as("id"))
      .withColumn("bk", expr(s"div(x, $bucketWidth)"))
    val bmin = pts.groupBy(col("bk")).agg(min(col("y")).as("bymin"))
    val wb = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = bmin.withColumn("prevmin", min(col("bymin")).over(wb))
      .select(col("bk"), col("prevmin"))
    val cand = pts.join(broadcast(run), "bk")
      .filter(col("prevmin").isNull || col("y") < col("prevmin"))
    // per-bucket local skyline (partitioned window — parallel): caps
    // the final single-partition scan at Σ per-bucket fronts
    val wl = Window.partitionBy(col("bk"))
      .orderBy(col("x"), col("y"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = cand.withColumn("lm", min(col("y")).over(wl))
      .filter(col("lm").isNull || col("y") < col("lm"))
      .drop("lm")
    val ws = Window.orderBy(col("x"), col("y"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    local.withColumn("pm", min(col("y")).over(ws))
      .filter(col("pm").isNull || col("y") < col("pm"))
      .select(col("id"), col("x"), col("y"))
  }
}
