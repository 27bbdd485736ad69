package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{QuantileSketch, Sketches}

/**
 * Sketch gates: HyperLogLog distinct counting and Count-Min heavy
 * hitters over the `documents` vocabulary ([[graft.operators.Sketches]]).
 * Every estimate is exact integer arithmetic over the dialect-shared
 * md5 hash, so the DuckDB oracle replays registers, counters, and the
 * final estimates bit-identically; the gates also carry the exact
 * answers, making each one a standing accuracy probe.
 */
object SketchQueries {

  import Sketches.{HllM, AlphaE5, CmDepth, CmWidth, HllSeed, CmSeedBase, KmvK, KmvSeed}

  /**
   * Vocabulary-widening fixture: the driver corpus is ~31 near-universal
   * terms — fine for frequency sketches' heavy hitters but DEGENERATE
   * for distinct counting (n ≪ m puts raw HLL in its known
   * small-range-bias regime, where production implementations switch
   * to linear counting — which needs a float `ln` both engines would
   * have to agree on bit-for-bit). Append 40 per-document unique
   * tokens (`u<doc_id>_<i>`) with one dialect-shared expression, so
   * corpus and per-source vocabularies land in the raw estimator's
   * valid regime (n ≳ 2.5·m) and the accuracy columns mean something.
   */
  private[graft] val AugSql: String =
    "text" + (0 until 40).map(i => s" || ' u' || doc_id || '_$i'").mkString

  /** [[AugSql]] as an oracle CTE named `sdocs`. */
  private val sdocsCte =
    s"sdocs AS (SELECT doc_id, source, $AugSql AS text FROM documents)"

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .withColumn("text", expr(AugSql))

  lazy val gates: Seq[Gate] = Seq(
    // the m=256 HLL register table (reg, max-rho) — the fixed-size,
    // element-wise-max-mergeable distinct-count state
    Gate("hll_registers", (s, dir) => Sketches.hllRegisters(docs(s, dir)),
      s"""WITH $regCte
SELECT CAST(reg AS BIGINT) AS reg, CAST(rho AS INT) AS rho FROM regs"""),
    // raw-estimator distinct tokens vs exact: (n_exact, n_est, err_bp);
    // the register sum is scaled to exact BIGINTs, the division widened
    // to DECIMAL(38,0) — engine and oracle agree to the last digit
    Gate("hll_distinct", (s, dir) => Sketches.hllDistinct(docs(s, dir)),
      s"""WITH $regCte,
sm AS (SELECT sum(CAST(1 AS BIGINT) << (53 - rho)) AS s FROM regs),
est AS (SELECT $estExpr AS n_est FROM sm),
ex AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM w)
SELECT ex.n_exact, est.n_est,
  abs(est.n_est - ex.n_exact) * 10000 // ex.n_exact AS err_bp
FROM ex, est"""),
    // per-source vocabulary size through the same registers — the
    // GROUP BY sketch shape (one (source, reg)-keyed shuffle)
    Gate("hll_by_source", (s, dir) => Sketches.hllDistinctBy(docs(s, dir), "source"),
      s"""WITH $sdocsCte,
w AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM sdocs),
hh AS (SELECT source, ${oh60("w", HllSeed)} AS h FROM w),
rr AS (SELECT source, h % $HllM AS reg, h // 256 AS rest FROM hh),
rho AS (SELECT source, reg, CASE WHEN rest = 0 THEN 53 ELSE 53 - len(bin(rest)) END AS rho FROM rr),
pres AS (SELECT source, reg, max(rho) AS rho FROM rho GROUP BY source, reg),
sm AS (SELECT source,
    sum(CAST(1 AS BIGINT) << (53 - rho)) + ($HllM - count(*)) * (CAST(1 AS BIGINT) << 53) AS s
  FROM pres GROUP BY source),
est AS (SELECT source, $estExpr AS n_est FROM sm),
ex AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM w GROUP BY source)
SELECT ex.source, ex.n_exact, est.n_est FROM ex JOIN est ON est.source = ex.source"""),
    // the d=4 × w=512 Count-Min counter table over token occurrences —
    // the fixed-size, element-wise-sum-mergeable frequency state
    Gate("cms_counters", (s, dir) => Sketches.cmCounters(docs(s, dir)),
      s"""WITH $cmsCte
SELECT CAST(depth AS BIGINT) AS depth, CAST(bucket AS BIGINT) AS bucket, cnt FROM counters"""),
    // exact top-20 tokens with their Count-Min point estimates:
    // (word, n_exact, n_est), n_est >= n_exact by construction
    Gate("cms_heavy_hitters", (s, dir) => Sketches.cmHeavyHitters(docs(s, dir), 20),
      s"""WITH $cmsCte,
topk AS (SELECT w, cnt AS n_exact FROM tf ORDER BY cnt DESC, w LIMIT 20),
probes AS (SELECT w, n_exact, t.range AS depth,
    xor(${oh60("w", CmSeedBase)}, ${oh60("w", CmSeedBase + 1)} * t.range) % $CmWidth AS bucket
  FROM topk, range(0, $CmDepth) t)
SELECT p.w AS word, p.n_exact, min(c.cnt) AS n_est
FROM probes p JOIN counters c ON c.depth = p.depth AND c.bucket = p.bucket
GROUP BY p.w, p.n_exact"""),
    // the q-digest node table over event cents — the fixed-size,
    // deterministically-compacted, sum-mergeable RANK state (level-
    // synchronous compression replayed by 16 unrolled oracle rounds)
    Gate("quantile_digest", (s, dir) => QuantileSketch.digestTable(ev(s, dir), "cents"),
      s"""WITH $qdBase,
${qdBuildRounds("q", "SELECT tau FROM tc")}
SELECT CAST(lvl AS INT) AS lvl, idx, CAST(cnt AS BIGINT) AS cnt FROM q$QL"""),
    // digest quantile estimates at 7 φ targets vs the EXACT rank
    // selection, realized rank error and the Levels·τ contract pinned
    Gate("quantile_sketch", (s, dir) => QuantileSketch.quantileProbe(ev(s, dir), "cents"),
      s"""WITH $qdBase,
${qdBuildRounds("q", "SELECT tau FROM tc")},
${qdProbeTail(s"q$QL", s"$QL * (SELECT tau FROM tc)")}"""),
    // the merge law: two half-corpus digests (split by event_id parity)
    // merged by node-count sum + re-compression, probed against the
    // FULL corpus's exact quantiles under the compounded bound
    Gate("quantile_merge", (s, dir) =>
      QuantileSketch.mergeProbe(ev(s, dir), "cents", "event_id"),
      s"""WITH ev AS (SELECT event_id, CAST(round(value*100) AS BIGINT) AS cents FROM events),
lfa AS MATERIALIZED (SELECT cents AS leaf, count(*) AS cnt FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
lfb AS MATERIALIZED (SELECT cents AS leaf, count(*) AS cnt FROM ev WHERE event_id % 2 = 1 GROUP BY 1),
na AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n FROM lfa),
nb AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n FROM lfb),
ta AS (SELECT greatest(1, (SELECT n FROM na) // $QK) AS tau),
tb AS (SELECT greatest(1, (SELECT n FROM nb) // $QK) AS tau),
a0 AS (SELECT 0 AS lvl, leaf AS idx, cnt FROM lfa),
${qdBuildRounds("a", "SELECT tau FROM ta")},
b0 AS (SELECT 0 AS lvl, leaf AS idx, cnt FROM lfb),
${qdBuildRounds("b", "SELECT tau FROM tb")},
lf AS MATERIALIZED (SELECT cents AS leaf, count(*) AS cnt FROM ev GROUP BY 1),
nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM lf),
tm AS (SELECT greatest(1, (SELECT n FROM nn) // $QK) AS tau),
m0 AS (SELECT lvl, idx, sum(cnt) AS cnt FROM
  (SELECT * FROM a$QL UNION ALL SELECT * FROM b$QL) GROUP BY 1, 2),
${qdMergeRounds("m", "SELECT tau FROM tm")},
${qdProbeTail(s"m$QL",
        s"$QL * ((SELECT tau FROM ta) + (SELECT tau FROM tb) + (SELECT tau FROM tm))")}"""),
    // the bottom-k (KMV) sketch of the token vocabulary — the third
    // mergeable axis (distinct AND intersection), k smallest 60-bit
    // hashes, rank-ordered; deterministic by construction
    Gate("kmv_sketch", (s, dir) => Sketches.kmvSketch(docs(s, dir)),
      s"""WITH $sdocsCte,
w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM sdocs),
${kmvCte("kmv", "w")}
SELECT CAST(row_number() OVER (ORDER BY h) AS INT) AS rank, h FROM kmv"""),
    // (k−1)·2^60/h_(k) distinct estimate vs exact, DECIMAL-widened —
    // the KMV twin of hll_distinct (independent seed, independent
    // estimator family, same standing-accuracy-probe shape)
    Gate("kmv_distinct", (s, dir) => Sketches.kmvDistinct(docs(s, dir)),
      s"""WITH $sdocsCte,
w AS MATERIALIZED (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM sdocs),
${kmvCte("kmv", "w")},
hk AS (SELECT max(h) AS hk, count(*) AS kk FROM kmv),
ex AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM w),
est AS (SELECT CAST((CAST(kk - 1 AS HUGEINT) * ${1L << 60}) // CAST(hk AS HUGEINT) AS BIGINT) AS n_est FROM hk)
SELECT ex.n_exact, est.n_est,
  abs(est.n_est - ex.n_exact) * 10000 // ex.n_exact AS err_bp
FROM ex, est"""),
    // union-merge law + Jaccard: two overlapping doc subsets
    // (doc_id%3 ∈ {0,1} vs {1,2} — true vocab overlap ≈ 1/3), sketches
    // merged bottom-k, |merged ∩ A ∩ B|/k vs the exact Jaccard
    Gate("kmv_jaccard", (s, dir) => {
      val d = docs(s, dir)
      Sketches.kmvJaccard(
        d.filter(expr("doc_id % 3 IN (0, 1)")),
        d.filter(expr("doc_id % 3 IN (1, 2)")))
    },
      s"""WITH $sdocsCte,
wa AS MATERIALIZED ${wCte("doc_id % 3 IN (0, 1)")},
wb AS MATERIALIZED ${wCte("doc_id % 3 IN (1, 2)")},
${kmvCte("ka", "wa")},
${kmvCte("kb", "wb")},
mg AS MATERIALIZED (SELECT DISTINCT h FROM
  (SELECT h FROM ka UNION ALL SELECT h FROM kb) ORDER BY h LIMIT $KmvK),
ni AS (SELECT CAST(count(*) AS BIGINT) AS n_inter FROM mg
  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
ku AS (SELECT count(*) AS k_used FROM mg),
ex AS (SELECT CAST(
    (SELECT count(*) FROM (SELECT w FROM wa INTERSECT SELECT w FROM wb)) * 10000
    // (SELECT count(*) FROM (SELECT w FROM wa UNION SELECT w FROM wb))
  AS BIGINT) AS j_exact_e4)
SELECT ex.j_exact_e4, CAST(n_inter * 10000 // k_used AS BIGINT) AS j_est_e4, n_inter
FROM ex, ni, ku"""),
    // one-call corpus profiler: the whole sketch family (HLL + KMV +
    // Count-Min + q-digest) composed into a long-format (metric,
    // value) report next to the exact answers — the "describe this
    // table" dashboard a 100 TB pipeline would publish per snapshot
    Gate("profile_docs", (s, dir) => Sketches.profileDocs(docs(s, dir)),
      s"""WITH $regCte,
sm AS (SELECT sum(CAST(1 AS BIGINT) << (53 - rho)) AS s FROM regs),
${kmvCte("kmv", "w")},
hk AS (SELECT max(h) AS hk, count(*) AS kk FROM kmv),
tf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY w),
cells AS MATERIALIZED (SELECT t.range AS depth,
    xor(${oh60("w", CmSeedBase)}, ${oh60("w", CmSeedBase + 1)} * t.range) % $CmWidth AS bucket,
    sum(cnt) AS cnt
  FROM tf, range(0, $CmDepth) t GROUP BY 1, 2),
top1 AS (SELECT w, cnt AS n_exact FROM tf ORDER BY cnt DESC, w LIMIT 1),
probes AS (SELECT w, n_exact, t.range AS depth,
    xor(${oh60("w", CmSeedBase)}, ${oh60("w", CmSeedBase + 1)} * t.range) % $CmWidth AS bucket
  FROM top1, range(0, $CmDepth) t),
cmest AS (SELECT min(c.cnt) AS n_est, max(p.n_exact) AS n_exact
  FROM probes p JOIN cells c ON c.depth = p.depth AND c.bucket = p.bucket),
pllf AS MATERIALIZED (SELECT CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS leaf, count(*) AS cnt FROM sdocs GROUP BY 1),
pln AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pllf),
plt AS (SELECT greatest(1, (SELECT n FROM pln) // $QK) AS tau),
pl0 AS (SELECT 0 AS lvl, leaf AS idx, cnt FROM pllf),
${qdBuildRounds("pl", "SELECT tau FROM plt")},
plord AS (SELECT (idx + 1) * (CAST(1 AS BIGINT) << lvl) - 1 AS ub, lvl, cnt FROM pl$QL),
plcum AS MATERIALIZED (SELECT ub, lvl, CAST(sum(cnt) OVER (ORDER BY ub, lvl ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm FROM plord),
pllcum AS MATERIALIZED (SELECT leaf, CAST(sum(cnt) OVER (ORDER BY leaf ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM pllf),
plr AS (SELECT (50 * (SELECT n FROM pln) + 99) // 100 AS r)
SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM sdocs
UNION ALL SELECT 'n_tokens', CAST(count(*) AS BIGINT) FROM w
UNION ALL SELECT 'distinct_tokens_exact', CAST(count(DISTINCT w) AS BIGINT) FROM w
UNION ALL SELECT 'distinct_tokens_hll', $estExpr FROM sm
UNION ALL SELECT 'distinct_tokens_kmv', CAST((CAST(kk - 1 AS HUGEINT) * ${1L << 60}) // CAST(hk AS HUGEINT) AS BIGINT) FROM hk
UNION ALL SELECT 'top_token_cnt_exact', CAST(n_exact AS BIGINT) FROM cmest
UNION ALL SELECT 'top_token_cnt_est', CAST(n_est AS BIGINT) FROM cmest
UNION ALL SELECT 'doclen_p50_exact', (SELECT min(leaf) FROM pllcum WHERE c >= (SELECT r FROM plr))
UNION ALL SELECT 'doclen_p50_est', (SELECT min(ub) FROM plcum WHERE cm >= (SELECT r FROM plr))"""),
    // the reference's range-count capability answered from SKETCH
    // state: est[lo,hi] = estLe(hi) − estLe(lo−1) over the digest,
    // ≤ 2·Levels·τ endpoint error pinned as a column, four mixed-width
    // rectangles including the canonical [10000, 30000] range-gate box
    Gate("quantile_range_count", (s, dir) =>
      QuantileSketch.rangeCountProbe(ev(s, dir), "cents",
        Seq((10000L, 30000L), (0L, 500L), (25000L, 26000L), (50000L, 60000L))),
      s"""WITH $qdBase,
${qdBuildRounds("q", "SELECT tau FROM tc")},
ordn AS MATERIALIZED (SELECT (idx + 1) * (CAST(1 AS BIGINT) << lvl) - 1 AS ub, cnt FROM q$QL),
lcum AS MATERIALIZED (SELECT leaf, CAST(sum(cnt) OVER (ORDER BY leaf ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM lf),
rng(lo, hi) AS (VALUES (10000, 30000), (0, 500), (25000, 26000), (50000, 60000)),
est AS (SELECT CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
    CAST((SELECT coalesce(sum(cnt), 0) FROM ordn WHERE ub <= rng.hi) -
         (SELECT coalesce(sum(cnt), 0) FROM ordn WHERE ub <= rng.lo - 1) AS BIGINT) AS n_est,
    CAST((SELECT coalesce(max(c), 0) FROM lcum WHERE leaf <= rng.hi) -
         (SELECT coalesce(max(c), 0) FROM lcum WHERE leaf <= rng.lo - 1) AS BIGINT) AS n_exact
  FROM rng)
SELECT lo, hi, n_exact, n_est, abs(n_est - n_exact) AS rank_err,
  CAST(2 * $QL * (SELECT tau FROM tc) AS BIGINT) AS bound,
  abs(n_est - n_exact) <= 2 * $QL * (SELECT tau FROM tc) AS within
FROM est"""),
    // the GROUP BY sketch shape: an independent q-digest per
    // event_type (its own n, τ, bound) from ONE (group, leaf)-keyed
    // shuffle — per-type percentiles, the hllDistinctBy of ranks
    Gate("quantile_by_type", (s, dir) =>
      QuantileSketch.quantilesByGroup(
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_type"),
            expr("cast(round(value*100) as bigint)").as("cents")),
        "event_type", "cents"),
      s"""WITH ev AS (SELECT event_type AS g, CAST(round(value*100) AS BIGINT) AS cents FROM events),
lf AS MATERIALIZED (SELECT g, cents AS leaf, count(*) AS cnt FROM ev GROUP BY 1, 2),
gn AS MATERIALIZED (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM lf GROUP BY g),
gtau AS MATERIALIZED (SELECT g, greatest(1, n // $QK) AS tau FROM gn),
q0 AS (SELECT g, 0 AS lvl, leaf AS idx, cnt FROM lf),
${qdBuildRoundsGrouped("q")},
ordn AS (SELECT g, (idx + 1) * (CAST(1 AS BIGINT) << lvl) - 1 AS ub, lvl, cnt FROM q$QL),
cum AS MATERIALIZED (SELECT g, ub, lvl, CAST(sum(cnt) OVER (PARTITION BY g ORDER BY ub, lvl ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm FROM ordn),
lcum AS MATERIALIZED (SELECT g, leaf, CAST(sum(cnt) OVER (PARTITION BY g ORDER BY leaf ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM lf),
phis(phi) AS (VALUES (1), (5), (25), (50), (75), (95), (99)),
tgt AS (SELECT gn.g, phi, gn.n, (phi * gn.n + 99) // 100 AS r FROM gn, phis),
sel AS (SELECT t.g, t.phi, t.n, t.r,
    (SELECT min(leaf) FROM lcum WHERE lcum.g = t.g AND c >= t.r) AS v_exact,
    (SELECT min(ub) FROM cum WHERE cum.g = t.g AND cum.cm >= t.r) AS v_est
  FROM tgt t),
errs AS (SELECT s.g, s.phi, s.n, s.v_exact, s.v_est, s.r,
    abs((SELECT coalesce(max(c), 0) FROM lcum WHERE lcum.g = s.g AND leaf <= s.v_est) - s.r) AS rank_err
  FROM sel s)
SELECT e.g, CAST(e.phi AS INT) AS phi_pct, e.n, e.v_exact, e.v_est, e.rank_err,
  CAST($QL * t.tau AS BIGINT) AS bound, e.rank_err <= $QL * t.tau AS within
FROM errs e JOIN gtau t ON t.g = e.g""")
  )

  /** Event cents — the [[QuantileSketch]] leaf universe ([0, 2^16)). */
  private def ev(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), expr("cast(round(value*100) as bigint)").as("cents"))

  /** Oracle twin of Sketches.h60. */
  private def oh60(e: String, seed: Int): String =
    s"CAST(('0x' || substr(md5('$seed:' || $e), 1, 15)) AS BIGINT)"

  /** Shared register CTE: words → (reg, rho) → m-dense register table. */
  private[graft] val regCte =
    s"""$sdocsCte,
w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM sdocs),
hh AS (SELECT ${oh60("w", HllSeed)} AS h FROM w),
rr AS (SELECT h % $HllM AS reg, h // 256 AS rest FROM hh),
rho AS (SELECT reg, CASE WHEN rest = 0 THEN 53 ELSE 53 - len(bin(rest)) END AS rho FROM rr),
pres AS (SELECT reg, max(rho) AS rho FROM rho GROUP BY reg),
regs AS (SELECT t.range AS reg, coalesce(p.rho, 0) AS rho
  FROM range(0, $HllM) t LEFT JOIN pres p ON p.reg = t.range)"""

  /** Shared CMS CTEs: token frequencies and the dense counter table. */
  private val cmsCte =
    s"""$sdocsCte,
w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM sdocs),
tf AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY w),
cells AS (SELECT t.range AS depth,
    xor(${oh60("w", CmSeedBase)}, ${oh60("w", CmSeedBase + 1)} * t.range) % $CmWidth AS bucket,
    sum(cnt) AS cnt
  FROM tf, range(0, $CmDepth) t GROUP BY 1, 2),
counters AS (SELECT d.range AS depth, b.range AS bucket, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
  FROM range(0, $CmDepth) d CROSS JOIN range(0, $CmWidth) b
  LEFT JOIN cells c ON c.depth = d.range AND c.bucket = b.range)"""

  /** The exact-integer HLL estimate over a register relation exposing
    * per-group `(s)` = Σ 2^(53−rho). */
  private[graft] val estExpr =
    s"CAST((CAST(${AlphaE5 * HllM * HllM} AS HUGEINT) * ${1L << 53}) // (CAST(s AS HUGEINT) * 100000) AS BIGINT)"

  // ---- q-digest oracle spelling ------------------------------------
  // The engine's level-synchronous compression is PURE integer
  // arithmetic on a universe-bounded histogram, so the oracle replays
  // it as Levels unrolled CTE rounds (the kCoreOracleCore pattern).
  // MATERIALIZED everywhere a CTE is referenced more than once —
  // DuckDB re-expands plain CTEs per reference.

  private val QL = QuantileSketch.Levels
  private val QK = QuantileSketch.K

  /** Unrolled BUILD rounds over state CTEs `$p$l`(lvl, idx, cnt):
    * all mass starts at leaves, so no parent pre-exists during round
    * ℓ and the push test is just "sibling-pair sum ≤ τ". */
  private def qdBuildRounds(p: String, tauRef: String): String =
    (0 until QL).map { l =>
      s"""g$p$l AS MATERIALIZED (SELECT idx // 2 AS pidx, sum(cnt) AS s FROM $p$l WHERE lvl = $l GROUP BY 1),
$p${l + 1} AS MATERIALIZED (
  SELECT lvl, idx, cnt FROM $p$l WHERE lvl < $l
  UNION ALL
  SELECT c.lvl, c.idx, c.cnt FROM $p$l c JOIN g$p$l g ON c.idx // 2 = g.pidx
    WHERE c.lvl = $l AND g.s > ($tauRef)
  UNION ALL
  SELECT ${l + 1} AS lvl, pidx AS idx, s AS cnt FROM g$p$l WHERE s <= ($tauRef))"""
    }.mkString(",\n")

  /** Unrolled MERGE-compression rounds: node mass can pre-exist at any
    * level (the union of two digests), so each round folds the sibling
    * sum into any existing parent mass and carries untouched levels
    * through. */
  private def qdMergeRounds(p: String, tauRef: String): String =
    (0 until QL).map { l =>
      s"""g$p$l AS MATERIALIZED (SELECT idx // 2 AS pidx, sum(cnt) AS s FROM $p$l WHERE lvl = $l GROUP BY 1),
d$p$l AS MATERIALIZED (SELECT g.pidx, g.s, coalesce(pp.cnt, 0) AS pc,
    g.s + coalesce(pp.cnt, 0) <= ($tauRef) AS push
  FROM g$p$l g LEFT JOIN (SELECT idx, cnt FROM $p$l WHERE lvl = ${l + 1}) pp ON pp.idx = g.pidx),
$p${l + 1} AS MATERIALIZED (
  SELECT lvl, idx, cnt FROM $p$l WHERE lvl < $l
  UNION ALL
  SELECT c.lvl, c.idx, c.cnt FROM $p$l c JOIN d$p$l d ON c.idx // 2 = d.pidx
    WHERE c.lvl = $l AND NOT d.push
  UNION ALL
  SELECT ${l + 1} AS lvl, pidx AS idx, pc + s AS cnt FROM d$p$l WHERE push
  UNION ALL
  SELECT ${l + 1} AS lvl, d.pidx AS idx, d.pc AS cnt FROM d$p$l d WHERE NOT d.push AND d.pc > 0
  UNION ALL
  SELECT pr.lvl, pr.idx, pr.cnt FROM $p$l pr WHERE pr.lvl = ${l + 1}
    AND pr.idx NOT IN (SELECT pidx FROM g$p$l)
  UNION ALL
  SELECT lvl, idx, cnt FROM $p$l WHERE lvl > ${l + 1})"""
    }.mkString(",\n")

  /** GROUPED build rounds: like [[qdBuildRounds]] with a `g` column
    * threaded through state, sibling rollup, and the per-group τ
    * (`gtau(g, tau)` must exist). */
  private def qdBuildRoundsGrouped(p: String): String =
    (0 until QL).map { l =>
      s"""g$p$l AS MATERIALIZED (SELECT g, idx // 2 AS pidx, sum(cnt) AS s FROM $p$l WHERE lvl = $l GROUP BY 1, 2),
$p${l + 1} AS MATERIALIZED (
  SELECT g, lvl, idx, cnt FROM $p$l WHERE lvl < $l
  UNION ALL
  SELECT c.g, c.lvl, c.idx, c.cnt FROM $p$l c
    JOIN g$p$l gg ON gg.g = c.g AND c.idx // 2 = gg.pidx
    JOIN gtau t ON t.g = c.g
    WHERE c.lvl = $l AND gg.s > t.tau
  UNION ALL
  SELECT gg.g, ${l + 1} AS lvl, pidx AS idx, s AS cnt FROM g$p$l gg
    JOIN gtau t ON t.g = gg.g WHERE gg.s <= t.tau)"""
    }.mkString(",\n")

  /** Post-order rank probe over digest CTE `$dg` and leaf CTE `lf`,
    * reporting each φ's estimate next to the exact rank selection. */
  private def qdProbeTail(dg: String, boundExpr: String): String =
    s"""ordn AS (SELECT (idx + 1) * (CAST(1 AS BIGINT) << lvl) - 1 AS ub, lvl, cnt FROM $dg),
cum AS MATERIALIZED (SELECT ub, lvl, CAST(sum(cnt) OVER (ORDER BY ub, lvl ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ordn),
lcum AS MATERIALIZED (SELECT leaf, CAST(sum(cnt) OVER (ORDER BY leaf ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM lf),
phis(phi) AS (VALUES (1), (5), (25), (50), (75), (95), (99)),
tgt AS (SELECT phi, (phi * (SELECT n FROM nn) + 99) // 100 AS r FROM phis),
sel AS (SELECT phi, r,
    (SELECT min(leaf) FROM lcum WHERE c >= r) AS v_exact,
    (SELECT min(ub) FROM cum WHERE cum >= r) AS v_est
  FROM tgt),
errs AS (SELECT phi, r, v_exact, v_est,
    abs((SELECT coalesce(max(c), 0) FROM lcum WHERE leaf <= v_est) - r) AS rank_err
  FROM sel)
SELECT CAST(phi AS INT) AS phi_pct, (SELECT n FROM nn) AS n, v_exact, v_est, rank_err,
  CAST($boundExpr AS BIGINT) AS bound, rank_err <= ($boundExpr) AS within
FROM errs"""

  // ---- KMV oracle spelling -----------------------------------------

  /** Bottom-k CTE over a distinct-words CTE `$wcte`: `$name(h)`,
    * plus the rank view `${name}r(rank, h)`. */
  private def kmvCte(name: String, wcte: String): String =
    s"""${name}0 AS (SELECT DISTINCT ${oh60("w", KmvSeed)} AS h FROM $wcte),
$name AS MATERIALIZED (SELECT h FROM ${name}0 ORDER BY h LIMIT $KmvK)"""

  /** Shared base: event cents → leaf histogram, n, τ, level-0 state. */
  private val qdBase =
    s"""ev AS (SELECT event_id, CAST(round(value*100) AS BIGINT) AS cents FROM events),
lf AS MATERIALIZED (SELECT cents AS leaf, count(*) AS cnt FROM ev GROUP BY 1),
nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM lf),
tc AS (SELECT greatest(1, (SELECT n FROM nn) // $QK) AS tau),
q0 AS (SELECT 0 AS lvl, leaf AS idx, cnt FROM lf)"""

  /** Distinct-words CTE body over `sdocs`, optionally subset. */
  private def wCte(pred: String = "TRUE"): String =
    s"""(SELECT DISTINCT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM sdocs WHERE $pred)"""
}
