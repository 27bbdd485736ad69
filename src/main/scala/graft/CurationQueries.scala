package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextAnalysis}
import graft.operators.CheckpointScope.Scoped

/**
 * Corpus-curation query inventory over `documents`: repetition scoring,
 * PII redaction, deterministic stratified sampling, per-source caps,
 * and the corpus length histogram. All determinism is integer/md5-based
 * so every query — including the "random" sample — is hash-match gated
 * against the DuckDB oracle.
 */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  // stratified-sample operating point: downsample dominant English hard,
  // mid-range de/fr explicitly, let es/zh take the default — exercising
  // both the explicit-rate and the fallback path of the rate map
  private val SampleRates = Map("en" -> 100, "de" -> 300, "fr" -> 500)
  private val SampleDefault = 400
  private val SourceCapN = 10
  private val WsampleK = 64
  private val HistBucket = 25
  private val RepMaxE3 = 300
  private val NShards = 8
  private val PackSeqLen = 256
  private val DecontamK = 5
  // span gate uses 3-grams: the synthetic fixture's ~40-word vocabulary
  // yields zero cross-doc 5-gram collisions at sf0.01, and a 0-row gate
  // pins nothing — k=3 gives ~200 offset-checked occurrences
  private val DecontamSpansK = 3
  // mid-corpus token budget: lands the cutoff INSIDE a quality stratum
  // at sf0.01 (so the boundary-bucket window path is exercised)
  private val BudgetTokens = 20000L
  // per-language token budgets for the mixture-selection gate — sized
  // below each language's fixture mass so every group exercises the
  // boundary-stratum path (single source of truth for engine AND oracle)
  private val MixtureBudgets: Seq[(String, Long)] = Seq(
    "en" -> 6000L, "de" -> 2000L, "fr" -> 2000L, "es" -> 2500L, "zh" -> 1500L)
  // release budget: well under the curated set's token mass at sf0.01,
  // so the release pipeline's budget stage actually cuts (the curated
  // set is ~39 docs / ~2.6k tokens; 1200 ships roughly half)
  private val ReleaseBudget = 1200L
  // eval-set selection for the decontamination gate: ~2% of the corpus
  // plays the held-out benchmark role, picked by md5 permille so both
  // engines (and every run) agree on the split
  private val EvalPermille = 20
  // k-anonymity operating point: k=8 over 2000-wide acctbal bands puts
  // rows on ladder levels 0/1/2 at sf0.01 and 2/3 at sf0.001 — every
  // generalization branch is exercised across the gate scales
  private val KAnonK = 8L
  private val KAnonBand = 2000
  private val evalPred =
    expr("cast(conv(substr(md5(concat('eval:', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 1000")
      .<(EvalPermille)
  // DSIR operating point: 1024 hashed-token feature buckets; the target
  // domain is the corpus's own quality-gate survivors (the predicate is
  // applied to the TOKEN ARRAY so the tokenizer runs once per document);
  // `div(a*1000, n) >= 500` is written multiplication-side to stay in
  // integer land: floor(x/n) >= 500  <=>  x >= 500*n for positive ints
  private val IwBuckets = 1024
  private val IwSampleN = 100
  private def qualityTargetPred(ws: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(ws) >= 30 &&
      size(array_distinct(ws)).cast("long") * 1000 >= size(ws).cast("long") * 500

  lazy val gates: Seq[Gate] = Seq(
    Gate("repetition_stats", (s, dir) => Curation.repetitionStats(docs(s, dir)),
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
b AS (SELECT doc_id, list_transform(range(1, len(ws)), i -> ws[i]||' '||ws[i+1]) AS bg
      FROM w WHERE len(ws) >= 2)
SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams,
  CAST(((len(bg) - len(list_distinct(bg))) * 1000) // len(bg) AS BIGINT) AS rep_e3
FROM b"""),

    Gate("pii_redact", (s, dir) => Curation.redactPii(docs(s, dir)),
      s"""SELECT doc_id,
  CAST(len(regexp_extract_all(text, '$Em')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(regexp_replace(text, '$Em', '<EMAIL>', 'g'), '$Dg')) AS BIGINT) AS n_digit_runs,
  regexp_replace(regexp_replace(text, '$Em', '<EMAIL>', 'g'), '$Dg', '<NUM>', 'g') AS redacted
FROM documents"""),

    Gate("sample_stratified", (s, dir) =>
      Curation.stratifiedSample(docs(s, dir), "lang", SampleRates, SampleDefault)
        .select("doc_id", "lang"),
      """SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 <
  CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 300 WHEN 'fr' THEN 500 ELSE 400 END"""),

    Gate("source_cap", (s, dir) => Curation.sourceCap(docs(s, dir), SourceCapN),
      """SELECT doc_id, source, rn FROM (
  SELECT doc_id, source,
    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
  FROM documents)
WHERE rn <= 10"""),
    // weight-proportional priority sample (k smallest md5-hash/weight
    // priorities, weight = token count) — TakeOrdered, never a global
    // sort; exact integers both engines replay bit-for-bit
    Gate("weighted_sample", (s, dir) =>
      Curation.weightedSample(docs(s, dir), WsampleK),
      s"""WITH w AS (SELECT doc_id,
    greatest(1, CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT)) AS w,
    CAST(('0x' || substr(md5('wsmp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents)
SELECT doc_id, w, (h * 1000000) // w AS pri
FROM w ORDER BY pri, doc_id LIMIT $WsampleK"""),

    Gate("token_histogram", (s, dir) => Curation.tokenHistogram(docs(s, dir), HistBucket),
      """WITH s AS (SELECT len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens FROM documents)
SELECT CAST((n_tokens // 25) * 25 AS BIGINT) AS bucket,
  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
FROM s GROUP BY 1"""),
    // snapshot diff against a deterministically mutated next release:
    // every 13th doc removed, every remaining 7th edited, every 17th
    // re-added under a shifted id — added/removed/changed per doc,
    // fingerprints projected before the one doc_id-keyed join
    Gate("corpus_diff", (s, dir) => {
      val prev = docs(s, dir).select("doc_id", "text")
      val next = prev.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(prev.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("doc_id")).as("text")))
      Curation.corpusDiff(prev, next)
    },
      """WITH nx AS (
  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new ' || doc_id AS text
  FROM documents WHERE doc_id % 17 = 0),
j AS (SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
    CASE WHEN p.doc_id IS NULL THEN 'added'
         WHEN n.doc_id IS NULL THEN 'removed'
         WHEN md5(p.text) <> md5(n.text) THEN 'changed'
         ELSE 'unchanged' END AS status
  FROM documents p FULL OUTER JOIN nx n ON n.doc_id = p.doc_id)
SELECT doc_id, status FROM j WHERE status <> 'unchanged'"""),
    // deterministic training-shard assignment (reproducible global
    // shuffle: hash shard + in-shard rank)
    Gate("shard_assign", (s, dir) => Curation.shardAssign(docs(s, dir), NShards),
      s"""WITH sh AS (SELECT doc_id,
    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents)
SELECT doc_id, CAST(h % $NShards AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY h % $NShards ORDER BY h, doc_id) AS BIGINT) AS pos
FROM sh"""),
    // per-language mixture accounting with integer permille token share
    Gate("mixture_report", (s, dir) => Curation.mixtureReport(docs(s, dir)),
      """WITH s AS (SELECT lang AS stratum,
    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
  FROM documents),
m AS (SELECT stratum, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM s GROUP BY 1)
SELECT stratum, n_docs, n_tokens,
  CAST((n_tokens * 1000) // (sum(n_tokens) OVER ()) AS BIGINT) AS tokens_e3
FROM m"""),
    // benchmark decontamination: 5-gram overlap of every corpus doc
    // against the (broadcast) eval-set shingle table
    Gate("decontam_overlap", (s, dir) => {
      val d = docs(s, dir)
      Curation.decontaminate(d.filter(!evalPred), d.filter(evalPred), DecontamK)
    },
      decontamSql),
    // span-level decontamination: every matched eval 3-gram occurrence
    // with exact token index and [start, end) char offsets into the
    // whitespace-collapsed normalized text — redact spans, keep docs
    Gate("decontam_spans", (s, dir) => {
      val d = docs(s, dir)
      Curation.decontaminateSpans(d.filter(!evalPred), d.filter(evalPred), DecontamSpansK)
    },
      // offset-exact span oracle: char offsets recomputed independently
      // from token-prefix joins (length of the first i-1 tokens + one
      // separating space), occurrences NOT deduplicated
      s"""WITH dwords AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
ev AS (SELECT doc_id FROM documents
  WHERE CAST(('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < $EvalPermille),
evsh AS (SELECT DISTINCT unnest(list_transform(range(1, len(ws)-${DecontamSpansK - 2}),
    i -> array_to_string(list_slice(ws, CAST(i AS INT), CAST(i+${DecontamSpansK - 1} AS INT)), ' '))) AS sh
  FROM dwords JOIN ev USING (doc_id) WHERE len(ws) >= $DecontamSpansK),
pos AS (SELECT doc_id, s.i - 1 AS start_tok, s.off AS start_char, s.sh AS sh FROM (
  SELECT d.doc_id, unnest(list_transform(range(1, len(ws)-${DecontamSpansK - 2}),
    i -> {'i': i,
          'off': CASE WHEN i = 1 THEN 0
                 ELSE length(array_to_string(list_slice(ws, 1, CAST(i-1 AS INT)), ' ')) + 1 END,
          'sh': array_to_string(list_slice(ws, CAST(i AS INT), CAST(i+${DecontamSpansK - 1} AS INT)), ' ')})) AS s
  FROM dwords d
  WHERE len(ws) >= $DecontamSpansK
    AND NOT EXISTS (SELECT 1 FROM ev WHERE ev.doc_id = d.doc_id)))
SELECT p.doc_id, CAST(p.start_tok AS BIGINT) AS start_tok,
  CAST(p.start_char AS BIGINT) AS start_char,
  CAST(p.start_char + length(p.sh) AS BIGINT) AS end_char, p.sh AS sh
FROM pos p JOIN evsh e ON p.sh = e.sh"""),
    // same decontamination semantics in the eval-side-too-big-to-
    // broadcast shape: a Catalyst bloom filter over the eval shingle
    // hashes prefilters the corpus side before the exchange, the join
    // re-verifies exactly — result bit-identical to decontam_overlap
    Gate("decontam_bloom", (s, dir) => {
      val d = docs(s, dir)
      Curation.decontaminateAtScale(d.filter(!evalPred), d.filter(evalPred), DecontamK)
    },
      // the bloom-prefiltered path is value-identical by construction
      // (bloom has no false negatives; positives are exactly re-verified),
      // so it is gated against the SAME oracle
      decontamSql),
    // token-stream packing: per-shard concatenation offsets + training-
    // sequence index (the final layout step before shard export)
    Gate("pack_offsets", (s, dir) =>
      Curation.packOffsets(docs(s, dir), NShards, PackSeqLen),
      s"""WITH sh AS (SELECT doc_id,
    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents),
w AS (SELECT doc_id, CAST(h % $NShards AS INT) AS shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY h % $NShards ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
  FROM sh)
SELECT doc_id, shard, n_tokens,
  CAST(end_off - n_tokens AS BIGINT) AS start_off,
  CAST((end_off - n_tokens) // $PackSeqLen AS BIGINT) AS seq_idx
FROM w"""),
    // whole-document best-fit-decreasing packing: no document crosses a
    // sequence boundary, BFD minimizes the padding a naive packing pays
    // (spec-pinned <= the arrival-order baseline); fully deterministic
    // (eff desc, doc_id order; highest-fill-that-fits, ties to the
    // lowest bin), so a recursive-CTE oracle replays every placement
    Gate("pack_bestfit", (s, dir) =>
      Curation.packBestFit(docs(s, dir), NShards, PackSeqLen),
      // BFD replayed step by step ([[packBestFitCte]]): rank documents
      // (eff desc, doc_id) within each shard, then a recursive CTE
      // carries the open-bin fill list — the chosen bin is the max fill
      // still fitting (list_position = first index on ties, the engine's
      // strict-greater walk), else a new bin opens. start_off = the
      // chosen bin's fill before placement.
      s"""$packBestFitCte
SELECT doc_id, shard, eff AS n_tokens, bin_idx, start_off FROM rec"""),
    // the padding audit over the BFD packing: per shard, bins used and
    // the exact pad-fraction (permillion) a training run would pay
    Gate("pack_padding", (s, dir) =>
      Curation.packPadding(
        Curation.packBestFit(docs(s, dir), NShards, PackSeqLen), PackSeqLen),
      // rollup of the same recursive placement chain: bins = max index +
      // 1 per shard, padding = unfilled slots per million (truncating //)
      s"""$packBestFitCte
SELECT shard, CAST(max(bin_idx) + 1 AS BIGINT) AS n_bins,
  CAST(((CAST(max(bin_idx) + 1 AS BIGINT) * $PackSeqLen - sum(eff)) * 1000000)
    // (CAST(max(bin_idx) + 1 AS BIGINT) * $PackSeqLen) AS BIGINT) AS padding_e6
FROM rec GROUP BY shard"""),
    // provenance inverse of pack_offsets: training sequence -> the
    // documents feeding it, with exact per-sequence token contributions
    Gate("seq_provenance", (s, dir) =>
      Curation.seqProvenance(docs(s, dir), NShards, PackSeqLen),
      s"""WITH sh AS (SELECT doc_id,
    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents),
w AS (SELECT doc_id, CAST(h % $NShards AS INT) AS shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY h % $NShards ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
  FROM sh),
pv AS (SELECT doc_id, shard, n_tokens,
    end_off - n_tokens AS start_off, end_off
  FROM w WHERE n_tokens > 0),
e AS (SELECT doc_id, shard, start_off, end_off,
    unnest(range(start_off // $PackSeqLen, (end_off - 1) // $PackSeqLen + 1)) AS seq_idx
  FROM pv)
SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, doc_id,
  CAST(least(end_off, (seq_idx + 1) * $PackSeqLen) -
       greatest(start_off, seq_idx * $PackSeqLen) AS BIGINT) AS n_tokens_in_seq
FROM e"""),
    // token-budget selection: the best-quality ordered prefix within a
    // fixed training-token budget, via histogram cutoff — no global sort
    Gate("budget_select", (s, dir) =>
      Curation.budgetSelect(docs(s, dir), BudgetTokens),
      // oracle spells the SEMANTICS (one global ordered-prefix window);
      // the engine computes the same rows via the histogram cutoff
      s"""WITH q AS (SELECT doc_id,
    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
    (CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) * 1000)
      // len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS quality_e3
  FROM documents),
w AS (SELECT doc_id, n_tokens, quality_e3,
    sum(n_tokens) OVER (ORDER BY quality_e3 DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM q)
SELECT doc_id, n_tokens, quality_e3 FROM w WHERE cum <= $BudgetTokens"""),
    // mixture control: per-language token budgets, best documents
    // first within each language — per-group histogram cutoffs, no
    // corpus-wide window or sort
    Gate("mixture_select", (s, dir) =>
      Curation.mixtureSelect(docs(s, dir), MixtureBudgets.toMap, "lang"),
      // per-group twin of budget_select's oracle: the window partitions
      // by language and the budget comes from the shared constant table
      {
        val caseSql = MixtureBudgets
          .map { case (g, b) => s"WHEN '$g' THEN $b" }.mkString(" ")
        s"""WITH q AS (SELECT doc_id, lang,
    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
    (CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) * 1000)
      // len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS quality_e3
  FROM documents),
w AS (SELECT doc_id, lang, n_tokens, quality_e3,
    sum(n_tokens) OVER (PARTITION BY lang ORDER BY quality_e3 DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    CASE lang $caseSql ELSE -1 END AS budget
  FROM q)
SELECT doc_id, lang, n_tokens, quality_e3 FROM w WHERE cum <= budget"""
      }),
    // DSIR-style importance weights: hashed-token-bucket target/raw
    // ratio, target = the standard quality gate over the token array
    Gate("importance_weights", (s, dir) =>
      TextAnalysis.importanceWeights(docs(s, dir), qualityTargetPred, IwBuckets),
      importanceSql),
    // the resampling consumer: top-100 raw documents by importance
    // weight (ties to lowest doc_id) — the selected training subset
    Gate("importance_sample", (s, dir) =>
      TextAnalysis.importanceWeights(docs(s, dir), qualityTargetPred, IwBuckets)
        .orderBy(col("weight_e6").desc, col("doc_id")).limit(IwSampleN),
      s"""WITH iw AS ($importanceSql)
SELECT * FROM iw ORDER BY weight_e6 DESC, doc_id LIMIT $IwSampleN"""),

    // k-anonymity release gate: hierarchical quasi-identifier
    // generalization, each row published at its first k-reaching
    // ladder level (see Curation.kAnonymize)
    Gate("k_anonymity", (s, dir) =>
      Curation.kAnonymize(s.read.parquet(s"$dir/customer.parquet"),
        KAnonK, KAnonBand),
      // the generalization-ladder spelling is identical on both sides:
      // cohort sizes at each lattice level, first level reaching k wins
      s"""WITH r AS MATERIALIZED (SELECT c_custkey AS id, c_nationkey AS nat,
    c_mktsegment AS seg,
    CAST(floor(c_acctbal / $KAnonBand.0) AS BIGINT) AS band FROM customer),
l0 AS (SELECT nat, seg, band, count(*) AS c FROM r GROUP BY 1, 2, 3),
l1 AS (SELECT nat, seg, count(*) AS c FROM r GROUP BY 1, 2),
l2 AS (SELECT nat, count(*) AS c FROM r GROUP BY 1),
ch AS (SELECT r.id, r.nat, r.seg, r.band,
    CASE WHEN l0.c >= $KAnonK THEN 0 WHEN l1.c >= $KAnonK THEN 1
         WHEN l2.c >= $KAnonK THEN 2 ELSE 3 END AS lvl
  FROM r JOIN l0 ON r.nat IS NOT DISTINCT FROM l0.nat
      AND r.seg IS NOT DISTINCT FROM l0.seg
      AND r.band IS NOT DISTINCT FROM l0.band
    JOIN l1 ON r.nat IS NOT DISTINCT FROM l1.nat
      AND r.seg IS NOT DISTINCT FROM l1.seg
    JOIN l2 ON r.nat IS NOT DISTINCT FROM l2.nat)
SELECT lvl, CASE WHEN lvl <= 2 THEN nat END AS p_nat,
  CASE WHEN lvl <= 1 THEN seg END AS p_seg,
  CASE WHEN lvl = 0 THEN band END AS p_band,
  count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum
FROM ch GROUP BY 1, 2, 3, 4"""),

    // the END-TO-END curation pipeline, composed in the order a real
    // corpus build runs it: content gates (quality + repetition) →
    // deterministic stratified sample → per-source cap (ranked over the
    // post-filter survivors) → transitive dedup-loser removal. One
    // gated query proving the stages compose without semantic drift.
    Gate("pipeline_curate", (curated _),
      // stage order mirrors the engine exactly: content gates → sample →
      // per-source rank over the post-filter survivors → cluster-loser
      // anti-join (clusters from the shared recursive reachability CTEs)
      s"""${TextQueries.recursiveSigCte},
${TextQueries.clusterCte},
$curateCtes
SELECT doc_id, lang, source, n_tokens FROM ccap c
WHERE rn <= $SourceCapN
  AND NOT EXISTS (SELECT 1 FROM clus WHERE clus.doc_id = c.doc_id AND clus.doc_id <> clus.cluster_id)"""),

    // the full RELEASE build on top of the curated set: drop the eval
    // documents themselves and every document contaminated by eval
    // 5-grams, spend the training-token budget on the best-quality
    // survivors (histogram cutoff — no global sort), then assign the
    // shipped set its reproducible shard/position layout. The capstone
    // composition: a user runs the complete corpus release as ONE query.
    Gate("pipeline_release", (s, dir) => {
      val d = docs(s, dir)
      val cur = curated(s, dir).select("doc_id")
      val contam = Curation.decontaminate(d.filter(!evalPred), d.filter(evalPred), DecontamK)
        .filter(col("contaminated") === 1).select("doc_id")
      // checkpoint the candidate ID set (survivor-scale, two columns):
      // the curate+decontam DAG would otherwise re-execute once for the
      // budget histogram action and again at final evaluation — the
      // same materialize-between-stages shape as the shared cluster
      // table, at ID-list cost
      val clean = cur.filter(!evalPred).join(contam, Seq("doc_id"), "left_anti")
        .scopedCheckpoint()
      val budgeted = Curation.budgetSelect(d.join(clean, "doc_id"), ReleaseBudget)
        .select("doc_id").scopedCheckpoint()
      // materialize the (shipped-set-scale) result, then free the two
      // stage-boundary ID checkpoints — repeated release builds in one
      // session must not accumulate executor-storage blocks
      val out = Curation.shardAssign(d.join(budgeted, "doc_id"), NShards)
        .scopedCheckpoint()
      graft.operators.Dedup.unpersistCheckpointed(clean)
      graft.operators.Dedup.unpersistCheckpointed(budgeted)
      out
    },
      // the release capstone: curate (shared CTEs) → drop eval +
      // contaminated docs → quality-ordered token budget → shard layout
      s"""${TextQueries.recursiveSigCte},
${TextQueries.clusterCte},
$curateCtes,
rcur AS (SELECT doc_id FROM ccap c
  WHERE rn <= $SourceCapN
    AND NOT EXISTS (SELECT 1 FROM clus WHERE clus.doc_id = c.doc_id AND clus.doc_id <> clus.cluster_id)),
rdsh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)-3),
    i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])) AS sh
  FROM dwords WHERE len(ws) >= $DecontamK),
rev AS (SELECT doc_id FROM documents
  WHERE CAST(('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < $EvalPermille),
revsh AS (SELECT DISTINCT sh FROM rdsh JOIN rev USING (doc_id)),
rcon AS (SELECT DISTINCT d.doc_id FROM rdsh d JOIN revsh USING (sh)
  WHERE NOT EXISTS (SELECT 1 FROM rev WHERE rev.doc_id = d.doc_id)),
rclean AS (SELECT doc_id FROM rcur
  WHERE NOT EXISTS (SELECT 1 FROM rev WHERE rev.doc_id = rcur.doc_id)
    AND NOT EXISTS (SELECT 1 FROM rcon WHERE rcon.doc_id = rcur.doc_id)),
rw AS (SELECT q.doc_id,
    sum(q.n_tokens) OVER (ORDER BY q.quality_e3 DESC, q.doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cq q JOIN rclean USING (doc_id)),
rsel AS (SELECT doc_id FROM rw WHERE cum <= $ReleaseBudget),
rh AS (SELECT doc_id,
    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM rsel)
SELECT doc_id, CAST(h % $NShards AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY h % $NShards ORDER BY h, doc_id) AS BIGINT) AS pos
FROM rh""")
  )

  /** The shared curate composition (gate `pipeline_curate`, reused as
    * the base of `pipeline_release`). */
  private def curated(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val d = docs(s, dir)
    // fused single-pass content gates (one tokenization, no
    // stats ⋈ repetition glue join — see Curation.contentSignals)
    val content = Curation.contentSignals(d)
      .filter(col("n_tokens") >= 30 && col("quality_e3") >= 500 && col("rep_e3") <= RepMaxE3)
      .select("doc_id", "n_tokens")
    val sampled = content.join(
      Curation.stratifiedSample(d, "lang", SampleRates, SampleDefault)
        .select("doc_id", "lang", "source"), "doc_id")
    // per-source cap via the bounded top-n aggregate (no per-source
    // full sort — see Curation.sourceCap), joined back on the unique id
    val capped = sampled.join(
      Curation.sourceCap(sampled.select("doc_id", "source"), SourceCapN)
        .select("doc_id"), Seq("doc_id"))
    // cluster losers come from the materialized-per-process cluster
    // table (same table dedup_clusters/dedup_keepers consume) — the
    // expensive LSH→re-verify→CC chain runs once per corpus, not once
    // per consumer
    val losers = Dedup.sharedClusters(d, dir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    capped.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_tokens")
  }

  // regexes are RE2-compatible by construction (Curation scaladoc), so
  // the same pattern string drops into both engines verbatim
  private val Em = Curation.EmailRe
  private val Dg = Curation.DigitRunRe

  /** The BFD placement replay shared by the `pack_bestfit` and
    * `pack_padding` oracles: per-shard (eff desc, doc_id) ranks, then a
    * recursive CTE carrying the open-bin fill list through every
    * placement (see the `pack_bestfit` entry's comment for the tie
    * rules). Ends with the `rec` CTE holding one row per placed doc. */
  private def packBestFitCte: String =
    s"""WITH RECURSIVE sh AS (SELECT doc_id,
    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
    least(CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT), $PackSeqLen) AS eff
  FROM documents),
rk AS (SELECT doc_id, CAST(h % $NShards AS INT) AS shard, eff,
    CAST(row_number() OVER (PARTITION BY h % $NShards ORDER BY eff DESC, doc_id) AS BIGINT) AS rk
  FROM sh),
rec AS (
  SELECT shard, rk, doc_id, eff, CAST(0 AS INT) AS bin_idx,
    CAST(0 AS BIGINT) AS start_off, [eff] AS fills
  FROM rk WHERE rk = 1
  UNION ALL
  SELECT n.shard, n.rk, n.doc_id, n.eff,
    CASE WHEN list_max(list_filter(r.fills, f -> f + n.eff <= $PackSeqLen)) IS NULL
         THEN CAST(len(r.fills) AS INT)
         ELSE CAST(list_position(r.fills,
           list_max(list_filter(r.fills, f -> f + n.eff <= $PackSeqLen))) - 1 AS INT) END AS bin_idx,
    COALESCE(list_max(list_filter(r.fills, f -> f + n.eff <= $PackSeqLen)),
      CAST(0 AS BIGINT)) AS start_off,
    CASE WHEN list_max(list_filter(r.fills, f -> f + n.eff <= $PackSeqLen)) IS NULL
         THEN list_append(r.fills, n.eff)
         ELSE list_transform(range(1, CAST(len(r.fills) AS BIGINT) + 1),
           j -> CASE WHEN j = CAST(list_position(r.fills,
                  list_max(list_filter(r.fills, f -> f + n.eff <= $PackSeqLen))) AS BIGINT)
                THEN r.fills[CAST(j AS INT)] + n.eff
                ELSE r.fills[CAST(j AS INT)] END)
    END AS fills
  FROM rec r JOIN rk n ON n.shard = r.shard AND n.rk = r.rk + 1)"""

  /** DSIR importance-weight oracle: hashed-token-bucket counts over the
    * raw corpus and the quality-gated target subset, add-one-smoothed
    * integer ratio per bucket, tf-weighted per-document mean. Shares
    * only md5 with the Spark path. */
  private lazy val importanceSql =
    s"""WITH dw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
tgt_docs AS (SELECT doc_id FROM dw WHERE len(ws) >= 30
  AND CAST(len(list_distinct(ws)) AS BIGINT) * 1000 >= CAST(len(ws) AS BIGINT) * 500),
occ AS (SELECT doc_id, CAST(('0x' || substr(md5('iw:' || t), 1, 15)) AS BIGINT) % $IwBuckets AS f
  FROM (SELECT doc_id, unnest(ws) AS t FROM dw WHERE len(ws) >= 1)),
raw AS (SELECT f, CAST(count(*) AS BIGINT) AS raw_cnt FROM occ GROUP BY f),
tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS tgt_cnt
  FROM occ JOIN tgt_docs USING (doc_id) GROUP BY f),
r AS (SELECT raw.f, ((coalesce(tgt_cnt, 0) + 1) * 1000000) // (raw_cnt + 1) AS ratio_e6
  FROM raw LEFT JOIN tgt ON raw.f = tgt.f)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(ratio_e6) // count(*) AS BIGINT) AS weight_e6
FROM occ JOIN r USING (f)
GROUP BY doc_id"""

  /** Decontamination oracle, shared by `decontam_overlap` and its
    * bloom-prefiltered twin `decontam_bloom` (value-identical paths). */
  private lazy val decontamSql =
    s"""WITH dwords AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
dsh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)-3),
    i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])) AS sh
  FROM dwords WHERE len(ws) >= $DecontamK),
ev AS (SELECT doc_id FROM documents
  WHERE CAST(('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < $EvalPermille),
evsh AS (SELECT DISTINCT sh, 1 AS hit FROM dsh JOIN ev USING (doc_id)),
corp AS (SELECT d.doc_id, d.sh FROM dsh d
  WHERE NOT EXISTS (SELECT 1 FROM ev WHERE ev.doc_id = d.doc_id))
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
  CAST(sum(coalesce(e.hit, 0)) AS BIGINT) AS n_overlap,
  CASE WHEN sum(coalesce(e.hit, 0)) >= 1 THEN 1 ELSE 0 END AS contaminated
FROM corp c LEFT JOIN evsh e ON c.sh = e.sh
GROUP BY c.doc_id"""

  /** The curate stage's oracle CTEs, shared by `pipeline_curate` and
    * `pipeline_release` (assumes `dwords` from the signature CTEs).
    * Lazy: read by `gates`, which is declared above it. */
  private lazy val curateCtes =
    s"""cq AS (SELECT doc_id,
    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
    (CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) * 1000)
      // len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS quality_e3
  FROM documents),
crep AS (SELECT doc_id,
    ((len(bg) - len(list_distinct(bg))) * 1000) // len(bg) AS rep_e3
  FROM (SELECT doc_id, list_transform(range(1, len(ws)), i -> ws[i]||' '||ws[i+1]) AS bg
        FROM dwords WHERE len(ws) >= 2)),
csamp AS (SELECT doc_id, lang, source FROM documents
  WHERE CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 <
    CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 300 WHEN 'fr' THEN 500 ELSE 400 END),
cbase AS (SELECT cq.doc_id, cq.n_tokens, s.lang, s.source
  FROM cq JOIN crep USING (doc_id) JOIN csamp s USING (doc_id)
  WHERE cq.n_tokens >= 30 AND cq.quality_e3 >= 500 AND crep.rep_e3 <= $RepMaxE3),
ccap AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM cbase)"""
}
