package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/**
 * Similarity-search query inventory over `embeddings` (LLM-pipeline
 * extension). Every path — including the approximate LSH one — is
 * oracle-gated: fixed-point integer dot products are exact in any
 * engine/order, and the LSH hyperplanes are md5-derived
 * ([[Similarity.hyperplanes]]), so DuckDB reproduces the candidate
 * generation bit-for-bit in pure SQL.
 */
object EmbeddingQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Similarity.intEmbeddings(s.read.parquet(s"$dir/embeddings.parquet"))

  /** One labeled phase aggregate of a top-k result — the shape every
    * VectorStore gate compares store-served phases through. */
  private def storePhase(r: DataFrame, phase: String): DataFrame =
    r.agg(count(lit(1)).as("n_rows"),
        coalesce(sum("dot"), lit(0L)).as("dot_sum"),
        coalesce(sum(col("nid") * col("rank")), lit(0L)).as("nr_sum"),
        coalesce(sum("qid"), lit(0L)).as("q_sum"))
      .select(lit(phase).as("phase"), col("n_rows"), col("dot_sum"),
        col("nr_sum"), col("q_sum"))

  /** Materialize a phase frame NOW (a later store mutation rewrites the
    * files a lazy plan would still reference). */
  private def eagerRows(s: SparkSession, out: DataFrame): DataFrame =
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out.collect().toSeq).asJava),
      out.schema)

  /** Eager-collect, then drop the gate's temp store tree. */
  private def eagerThenDrop(s: SparkSession, out: DataFrame,
                            tmp: String): DataFrame = {
    val r = eagerRows(s, out)
    graft.operators.VectorStore.drop(s, tmp)
    r
  }

  private val K = 10
  private val NQueries = 10
  private val NearDupMinDot = 350000000000L // ~cosine 0.35 at unit norms
  private val Dim = 64
  // random-projection operating point: 64 → 32 halves vector bytes;
  // RAW projected-space recall@10 measured 0.22 on the weak-similarity
  // fixture (dOut=16 ≈ 0.12) — which is why the production path
  // shortlists top-C in projected space and re-ranks exactly:
  // C=50 recovers 0.54, C=100 0.81 (the gated operating point;
  // emb_project_rerank_recall pins whatever it yields)
  private val ProjDim = 32
  private val ProjC = 100
  // LSH operating point — single source of truth for engine AND oracle
  // (L=16, b=5) measured ~0.7 recall@10 on the weak-similarity fixture
  // (b=6 ≈ 0.5, b=8 ≈ 0.2) at a still-small candidate fraction — the
  // gated ann_lsh_recall pins whatever this operating point yields
  private val LshTables = 16
  private val LshBits = 5
  private val LshSeed = 42L
  private val IvfCentroids = 16
  private val IvfProbe = 4
  // PQ operating point: 16 subspaces x 4 dims, 32-entry codebooks, one
  // integer Lloyd round — single source of truth for engine AND oracle.
  // Measured recall@10 ≈ 0.49 on the weak-similarity fixture (16
  // bits ≈ 0.19, 40 ≈ 0.35, 64 ≈ 0.42, 80 here ≈ 0.49) for a pure ADC
  // scan that never touches the original vectors — structurally below
  // LSH's 0.7, which re-ranks candidates with exact dots; the gated
  // ann_pq_recall pins whatever this operating point yields
  private val PqM = 16
  private val PqCodes = 32
  private val PqIters = 1
  // IVFPQ refine stage: exact re-rank of the top-RerankC ADC candidates
  // per query — the standard recall-recovery step. The refine is
  // probe-limited (it recovers exactly the IVF ceiling: with the base
  // nProbe=4 it measured 0.47 = ann_ivf_recall), so the refined gates
  // run a deeper probe: 12/16 cells + C=100 measures recall@10 = 0.86
  // on the weak-similarity fixture (sweep: p=4 0.47, p=8 0.66, p=10
  // 0.76 probe-capped at any C, p=12 C=50 0.82) vs 0.49 pure ADC —
  // the gated ann_ivfpq_rerank_recall pins what this point yields
  private val RerankC = 100
  private val RerankProbe = 12
  private val KJoin = 5
  private val DiversityPerCell = 10
  // MMR diversity re-rank operating point: top-20 exact shortlist,
  // 8 picks, λ = 7/10 (score10 = 7·rel − 3·maxSimToPicked)
  private val MmrK = 8
  private val MmrC = 20

  lazy val gates: Seq[Gate] = Seq(
    // exact ANN baseline: top-k by integer inner product, per query
    Gate("ann_topk_ip", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ipTopK(e, e.filter(col("vec_id") < NQueries), K)
    },
      s"""WITH $intCte,
$exactTopCte
SELECT qid, nid, dot, rank FROM extop"""),
    // blocked embedding near-dup pairs
    Gate("emb_near_pairs", (s, dir) =>
      Similarity.nearDupPairs(emb(s, dir), NearDupMinDot),
      s"""WITH $intCte,
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.ev * b.ev) AS BIGINT) AS dot
  FROM iex a JOIN iex b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
  GROUP BY 1, 2)
SELECT id_a, id_b, dot FROM p WHERE dot >= $NearDupMinDot"""),
    // approximate ANN: LSH buckets + exact re-rank — deterministic and
    // fully oracle-gated (md5-derived hyperplanes)
    Gate("ann_lsh_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < NQueries), Dim, K,
        LshTables, LshBits, LshSeed,
        queriesWithinEmb = Some(col("vec_id") < NQueries))
    },
      s"""WITH $intCte,
$lshCte
SELECT qid, nid, dot, rank FROM lshtop"""),
    // IVF approximate ANN: deterministic hash-order centroids + fused-argmax
    // assignment + nProbe probing + exact re-rank — every step integer
    // and order-pinned, so the full pipeline is oracle-gated
    Gate("ann_ivf_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < NQueries), K,
        nCentroids = IvfCentroids, nProbe = IvfProbe)
    },
      // IVF oracle: hash-order seed centroids (cid by vec_id rank),
      // assignment = argmax dot with ties to the LOWEST cid (DotArgmax's
      // strict-greater rule), probes = top-nProbe centroids per query with
      // ties to the HIGHEST cid (the engine's struct sort compares (d,
      // cid) descending), then exact re-rank of probed-cell members.
      ivfOracleFull),
    // IVF with one deterministic integer Lloyd iteration refining the
    // hash-order seeds — the centroid update (truncating-division cell
    // means) is exact integer arithmetic, so the refined pipeline stays
    // fully oracle-gated
    // FILTERED ANN: the same IVF index (built on the FULL corpus, so
    // one index serves every predicate) answers queries restricted to
    // a metadata slice — the predicate prunes the cell assignment
    // BEFORE the probe join (pre-filter strategy)
    Gate("ann_filtered_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfFilteredTopK(e, e.filter(col("vec_id") < NQueries), K,
        col("vec_id") % 3 === 1, nCentroids = IvfCentroids, nProbe = IvfProbe)
    },
      ivfOracleFiltered),

    Gate("ann_ivf_kmeans_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < NQueries), K,
        nCentroids = IvfCentroids, nProbe = IvfProbe, lloydIters = 1)
    },
      // IVF + one Lloyd iteration: cell means by truncating integer
      // division (HUGEINT sum // count, cast back), empty cells keep
      // their seed, then the same assign/probe/re-rank over the refined
      // centroid components.
      s"""WITH $intCte,
$ivfSeedCte,
$kmeansAssignCte,
${ivfTopSql("ad2", "assign2")}"""),
    // MATERIALIZED ANN index (the postings-store discipline on the
    // vector surface): centroids + cell-range-clustered assignment
    // written once, retrievals served from the store with the query
    // batch's probe cells pushed into the scan — plain AND filtered
    // serving must equal the from-scratch twins exactly
    Gate("ann_store_equiv", (s, dir) => {
      val e = emb(s, dir)
      // materialize the query batch ONCE per gate: every serve phase
      // (and the direct replays) consumes the same 10 rows; without
      // this each VectorStore serve pays its own localCheckpoint job
      // (r20, guide §1.2 — serve skips re-materializing a LogicalRDD)
      val qs = graft.operators.CheckpointScope.checkpoint(
        e.filter(col("vec_id") < NQueries))
      val tmp = java.nio.file.Files.createTempDirectory("graft-vstore").toString
      graft.operators.VectorStore.build(e, tmp, nCentroids = IvfCentroids)
      val fpred = col("vec_id") % 3 === 1
      val out = storePhase(
          Similarity.ivfTopK(e, qs, K, IvfCentroids, IvfProbe), "direct")
        .unionByName(storePhase(
          graft.operators.VectorStore.topK(s, tmp, qs, K, IvfProbe), "served"))
        .unionByName(storePhase(
          Similarity.ivfFilteredTopK(e, qs, K, fpred, IvfCentroids, IvfProbe),
          "direct_f"))
        .unionByName(storePhase(
          graft.operators.VectorStore.filteredTopK(s, tmp, qs, K, fpred, IvfProbe),
          "served_f"))
      eagerThenDrop(s, out, tmp)
    },
      // the materialized ANN index must be result-invisible: the
      // store-served plain and filtered retrievals each collapse to the
      // same aggregate as their from-scratch twins
      s"""WITH base AS MATERIALIZED ($ivfOracleFull),
fbase AS MATERIALIZED ($ivfOracleFiltered),
a AS (${phaseAggSelect("base")}),
f AS (${phaseAggSelect("fbase")})
SELECT 'direct' AS phase, * FROM a
UNION ALL SELECT 'served' AS phase, * FROM a
UNION ALL SELECT 'direct_f' AS phase, * FROM f
UNION ALL SELECT 'served_f' AS phase, * FROM f"""),
    // STORE TAKEDOWN: a deleted embedding leaves retrieval immediately
    // (marker side table, no index rewrite) — the served results equal
    // the from-scratch pipeline over the corpus minus the deleted ids
    // (same full-corpus centroids: markers filter the assignment only),
    // plain AND composed with a metadata predicate
    Gate("ann_store_delete", (s, dir) => {
      val e = emb(s, dir)
      // materialize the query batch ONCE per gate: every serve phase
      // (and the direct replays) consumes the same 10 rows; without
      // this each VectorStore serve pays its own localCheckpoint job
      // (r20, guide §1.2 — serve skips re-materializing a LogicalRDD)
      val qs = graft.operators.CheckpointScope.checkpoint(
        e.filter(col("vec_id") < NQueries))
      val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-del").toString
      graft.operators.VectorStore.build(e, tmp, nCentroids = IvfCentroids)
      graft.operators.VectorStore.deleteVecs(s, tmp,
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), 1L)
      val dpred = col("vec_id") % 7 =!= 3
      val fpred = col("vec_id") % 3 === 1
      val out = storePhase(
          Similarity.ivfFilteredTopK(e, qs, K, dpred, IvfCentroids, IvfProbe),
          "direct")
        .unionByName(storePhase(
          graft.operators.VectorStore.topK(s, tmp, qs, K, IvfProbe), "served"))
        .unionByName(storePhase(
          Similarity.ivfFilteredTopK(e, qs, K, dpred && fpred, IvfCentroids,
            IvfProbe), "direct_f"))
        .unionByName(storePhase(
          graft.operators.VectorStore.filteredTopK(s, tmp, qs, K, fpred,
            IvfProbe), "served_f"))
      eagerThenDrop(s, out, tmp)
    },
      // a mutated store must serve the from-scratch pipeline over the
      // corpus minus the takedown slice — same centroids (markers filter
      // the assignment only); the filtered phase composes both predicates
      s"""WITH base AS MATERIALIZED (${ivfOracleOver(candPred = " AND a.vec_id % 7 <> 3")}),
fbase AS MATERIALIZED (${ivfOracleOver(
        candPred = " AND a.vec_id % 7 <> 3 AND a.vec_id % 3 = 1")}),
a AS (${phaseAggSelect("base")}),
f AS (${phaseAggSelect("fbase")})
SELECT 'direct' AS phase, * FROM a
UNION ALL SELECT 'served' AS phase, * FROM a
UNION ALL SELECT 'direct_f' AS phase, * FROM f
UNION ALL SELECT 'served_f' AS phase, * FROM f"""),
    // STORE APPEND: new vectors join the EXISTING centroids' cells (the
    // incremental-index contract — re-clustering is an explicit
    // rebuild), so the served result equals assigning the UNION corpus
    // to the prior-corpus centroids (Similarity.ivfTopKWith)
    Gate("ann_store_append", (s, dir) => {
      val e = emb(s, dir)
      // materialize the query batch ONCE per gate: every serve phase
      // (and the direct replays) consumes the same 10 rows; without
      // this each VectorStore serve pays its own localCheckpoint job
      // (r20, guide §1.2 — serve skips re-materializing a LogicalRDD)
      val qs = graft.operators.CheckpointScope.checkpoint(
        e.filter(col("vec_id") < NQueries))
      val prior = e.filter(col("vec_id") % 5 =!= 0)
      val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-app").toString
      graft.operators.VectorStore.build(prior, tmp, nCentroids = IvfCentroids)
      graft.operators.VectorStore.appendBatch(
        e.filter(col("vec_id") % 5 === 0), tmp, 1L)
      val cents = Similarity.ivfCentroids(prior, IvfCentroids)
      val out = storePhase(
          Similarity.ivfTopKWith(e, cents, qs, K, IvfProbe), "direct")
        .unionByName(storePhase(
          graft.operators.VectorStore.topK(s, tmp, qs, K, IvfProbe), "served"))
      eagerThenDrop(s, out, tmp)
    },
      // an appended store serves the UNION corpus assigned to the PRIOR
      // corpus's centroids (seeds picked from the prior slice only)
      s"""WITH base AS MATERIALIZED (${ivfOracleOver(
        seedWhere = "WHERE vec_id % 5 <> 0")}),
a AS (${phaseAggSelect("base")})
SELECT 'direct' AS phase, * FROM a
UNION ALL SELECT 'served' AS phase, * FROM a"""),
    // STORE LIFECYCLE capstone: build on a prior corpus, append a
    // batch, take down a slice, serve, COMPACT (fold batches + markers
    // to one clustered base), serve again — compaction must be
    // result-invisible and both serves must equal the from-scratch
    // replay (prior centroids, union corpus, takedown as a predicate)
    Gate("ann_store_lifecycle", (s, dir) => {
      val e = emb(s, dir)
      // materialize the query batch ONCE per gate: every serve phase
      // (and the direct replays) consumes the same 10 rows; without
      // this each VectorStore serve pays its own localCheckpoint job
      // (r20, guide §1.2 — serve skips re-materializing a LogicalRDD)
      val qs = graft.operators.CheckpointScope.checkpoint(
        e.filter(col("vec_id") < NQueries))
      val prior = e.filter(col("vec_id") % 5 =!= 0)
      val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-life").toString
      graft.operators.VectorStore.build(prior, tmp, nCentroids = IvfCentroids)
      graft.operators.VectorStore.appendBatch(
        e.filter(col("vec_id") % 5 === 0), tmp, 1L)
      graft.operators.VectorStore.deleteVecs(s, tmp,
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), 2L)
      val cents = Similarity.ivfCentroids(prior, IvfCentroids)
      val direct = storePhase(Similarity.ivfFilteredTopKWith(
        e, cents, qs, K, col("vec_id") % 7 =!= 3, IvfProbe), "direct")
      // eager per phase: compact rewrites the files a lazy pre-compact
      // plan would still reference
      val pre = eagerRows(s, storePhase(
        graft.operators.VectorStore.topK(s, tmp, qs, K, IvfProbe), "pre"))
      graft.operators.VectorStore.compact(s, tmp)
      val out = direct.unionByName(pre).unionByName(storePhase(
        graft.operators.VectorStore.topK(s, tmp, qs, K, IvfProbe), "post"))
      eagerThenDrop(s, out, tmp)
    },
      // build-on-prior + append + takedown, served before AND after the
      // compaction fold — all three phases equal the one replay (prior
      // seeds, union corpus, takedown as a candidate predicate)
      s"""WITH base AS MATERIALIZED (${ivfOracleOver(
        seedWhere = "WHERE vec_id % 5 <> 0",
        candPred = " AND a.vec_id % 7 <> 3")}),
a AS (${phaseAggSelect("base")})
SELECT 'direct' AS phase, * FROM a
UNION ALL SELECT 'pre' AS phase, * FROM a
UNION ALL SELECT 'post' AS phase, * FROM a"""),
    // STORE AS-OF: snapshot serving at each operation bound — before
    // the append (prior corpus only), after it (union), after the
    // takedown (minus the deleted slice) — pure path selection over
    // batch subtrees + versioned markers, no manifests, no rewrites
    Gate("ann_store_asof", (s, dir) => {
      val e = emb(s, dir)
      // materialize the query batch ONCE per gate: every serve phase
      // (and the direct replays) consumes the same 10 rows; without
      // this each VectorStore serve pays its own localCheckpoint job
      // (r20, guide §1.2 — serve skips re-materializing a LogicalRDD)
      val qs = graft.operators.CheckpointScope.checkpoint(
        e.filter(col("vec_id") < NQueries))
      val prior = e.filter(col("vec_id") % 5 =!= 0)
      val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-asof").toString
      graft.operators.VectorStore.build(prior, tmp, nCentroids = IvfCentroids)
      graft.operators.VectorStore.appendBatch(
        e.filter(col("vec_id") % 5 === 0), tmp, 1L)
      graft.operators.VectorStore.deleteVecs(s, tmp,
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), 2L)
      val out = storePhase(
          graft.operators.VectorStore.topKAsOf(s, tmp, qs, K, IvfProbe, 0L), "b0")
        .unionByName(storePhase(
          graft.operators.VectorStore.topKAsOf(s, tmp, qs, K, IvfProbe, 1L), "b1"))
        .unionByName(storePhase(
          graft.operators.VectorStore.topKAsOf(s, tmp, qs, K, IvfProbe, 2L), "b2"))
      eagerThenDrop(s, out, tmp)
    },
      // snapshot serving at each operation bound: prior corpus only
      // (before the append), union (after it), minus the takedown slice
      s"""WITH b0t AS MATERIALIZED (${ivfOracleOver(
        seedWhere = "WHERE vec_id % 5 <> 0",
        candPred = " AND a.vec_id % 5 <> 0")}),
b1t AS MATERIALIZED (${ivfOracleOver(seedWhere = "WHERE vec_id % 5 <> 0")}),
b2t AS MATERIALIZED (${ivfOracleOver(
        seedWhere = "WHERE vec_id % 5 <> 0",
        candPred = " AND a.vec_id % 7 <> 3")}),
a0 AS (${phaseAggSelect("b0t")}),
a1 AS (${phaseAggSelect("b1t")}),
a2 AS (${phaseAggSelect("b2t")})
SELECT 'b0' AS phase, * FROM a0
UNION ALL SELECT 'b1' AS phase, * FROM a1
UNION ALL SELECT 'b2' AS phase, * FROM a2"""),
    // RE-CLUSTER: the documented centroid-drift path — an explicit
    // IN-PLACE rebuild over the store's own live vectors (vectors() =
    // assignment minus markers). Crash-safe by the build contract:
    // every read of the live trees happens while writing `.next`, the
    // swap replaces them only after the marker. Served results equal
    // the from-scratch pipeline over the LIVE corpus with RE-TRAINED
    // seeds — batches and takedowns fold into the new base
    Gate("ann_store_recluster", (s, dir) => {
      val e = emb(s, dir)
      // materialize the query batch ONCE per gate: every serve phase
      // (and the direct replays) consumes the same 10 rows; without
      // this each VectorStore serve pays its own localCheckpoint job
      // (r20, guide §1.2 — serve skips re-materializing a LogicalRDD)
      val qs = graft.operators.CheckpointScope.checkpoint(
        e.filter(col("vec_id") < NQueries))
      val tmp = java.nio.file.Files.createTempDirectory("graft-vstore-rc").toString
      graft.operators.VectorStore.build(
        e.filter(col("vec_id") % 5 =!= 0), tmp, nCentroids = IvfCentroids)
      graft.operators.VectorStore.appendBatch(
        e.filter(col("vec_id") % 5 === 0), tmp, 1L)
      graft.operators.VectorStore.deleteVecs(s, tmp,
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), 2L)
      graft.operators.VectorStore.build(
        graft.operators.VectorStore.vectors(s, tmp), tmp,
        nCentroids = IvfCentroids)
      val out = storePhase(
          Similarity.ivfTopK(e.filter(col("vec_id") % 7 =!= 3), qs, K,
            IvfCentroids, IvfProbe), "direct")
        .unionByName(storePhase(
          graft.operators.VectorStore.topK(s, tmp, qs, K, IvfProbe), "served"))
      eagerThenDrop(s, out, tmp)
    },
      // after the in-place re-cluster the store IS a fresh index over the
      // live corpus: seeds re-picked from it, takedowns folded out
      s"""WITH base AS MATERIALIZED (${ivfOracleOver(
        seedWhere = "WHERE vec_id % 7 <> 3",
        candPred = " AND a.vec_id % 7 <> 3")}),
a AS (${phaseAggSelect("base")})
SELECT 'direct' AS phase, * FROM a
UNION ALL SELECT 'served' AS phase, * FROM a"""),
    // ONLINE ANN-index maintenance — the streamed twin of the
    // ann_store_* lifecycle: a prior corpus indexed offline, the
    // remaining fifth arriving as foreachBatch micro-batches appended
    // to the EXISTING centroids (replay-idempotent batch subtrees, op
    // ids 1.. — the offline base owns op 0), an ONLINE takedown, then
    // serve before AND after the compaction fold. Against a fixed
    // batch-id-independent final state (all appends precede the
    // takedown on the op axis) the result is split-invariant, so both
    // phases share the one-shot lifecycle replay
    Gate("stream_ann_store", (s, dir) => {
      val e = emb(s, dir)
      // materialize the query batch ONCE per gate: every serve phase
      // (and the direct replays) consumes the same 10 rows; without
      // this each VectorStore serve pays its own localCheckpoint job
      // (r20, guide §1.2 — serve skips re-materializing a LogicalRDD)
      val qs = graft.operators.CheckpointScope.checkpoint(
        e.filter(col("vec_id") < NQueries))
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream-vstore").toString
      graft.operators.VectorStore.build(
        e.filter(col("vec_id") % 5 =!= 0), s"$tmp/store",
        nCentroids = IvfCentroids)
      s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 5 === 0)
        .repartition(2).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.operators.VectorStore.appendBatch(
            Similarity.intEmbeddings(b.toDF()), s"$tmp/store", id + 1)
        }
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      graft.operators.VectorStore.deleteVecs(s, s"$tmp/store",
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), 100L)
      val pre = eagerRows(s, storePhase(
        graft.operators.VectorStore.topK(s, s"$tmp/store", qs, K, IvfProbe),
        "streamed"))
      graft.operators.VectorStore.compact(s, s"$tmp/store")
      val out = pre.unionByName(storePhase(
        graft.operators.VectorStore.topK(s, s"$tmp/store", qs, K, IvfProbe),
        "compacted"))
      val res = eagerRows(s, out)
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      res
    },
      // the streamed lifecycle's final state is batch-split-invariant
      // (every append precedes the takedown on the op axis), so both its
      // phases share the one-shot lifecycle replay
      s"""WITH base AS MATERIALIZED (${ivfOracleOver(
        seedWhere = "WHERE vec_id % 5 <> 0",
        candPred = " AND a.vec_id % 7 <> 3")}),
a AS (${phaseAggSelect("base")})
SELECT 'streamed' AS phase, * FROM a
UNION ALL SELECT 'compacted' AS phase, * FROM a"""),
    // topic model over the same refined clustering: per-(topic, label)
    // membership counts — what topic-balanced mixture selection reads;
    // one assignment pass (fused argmax) + one model-scale aggregate
    Gate("topic_profile", (s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.ivfRefine(e,
        Similarity.ivfCentroids(e, IvfCentroids), 1)
      Similarity.ivfAssign(e, cents)
        .join(s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("centroid_id").cast("int").as("topic"), col("label"))
        .agg(count(lit(1)).as("n_vecs"))
    },
      // topic model over the refined clustering: per-(topic, label)
      // memberships — the cluster-composition report topic-balanced
      // mixture selection reads (SemDeDup/topic-mixing shape)
      s"""WITH $intCte,
$ivfSeedCte,
$kmeansAssignCte
SELECT CAST(a.cid AS INT) AS topic, e.label,
  CAST(count(*) AS BIGINT) AS n_vecs
FROM assign2 a JOIN embeddings e ON e.vec_id = a.vec_id
GROUP BY 1, 2"""),
    // Product quantization: per-subspace integer-Lloyd codebooks (same
    // deterministic hash-order seeds as IVF), L2 code assignment — the
    // 128x-compressed ANN index representation, fully oracle-gated
    Gate("pq_codes", (s, dir) => {
      val e = emb(s, dir)
      Similarity.pqEncode(e, Similarity.pqCodebooks(e, PqM, PqCodes, PqIters))
    },
      // PQ codes pivoted to one column per subspace — pins every
      // assignment of the trained codebooks
      s"""WITH $intCte,
$pqCte
SELECT vec_id,
  ${(0 until PqM).map(s =>
        s"CAST(max(CASE WHEN sub = $s THEN code END) AS INT) AS c$s").mkString(",\n  ")}
FROM pasn2 GROUP BY vec_id"""),
    // PQ asymmetric-distance (ADC) top-k: queries score the corpus
    // through m table lookups per vector, never touching the original
    // embeddings — approximate scores, exact integer arithmetic
    Gate("ann_pq_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(e, e.filter(col("vec_id") < NQueries), K,
        PqM, PqCodes, PqIters)
    },
      // ADC: per-query partial-dot table against the refined codebooks,
      // summed through each vector's codes; ties (score desc, nid asc)
      s"""WITH $intCte,
$pqCte,
pqd AS (SELECT x.vec_id AS qid, (x.i-1)//${Dim / PqM} AS sub, c.cid AS code,
    CAST(sum(x.ev*c.ev) AS BIGINT) AS pdot
  FROM iex x JOIN pcex2 c ON c.i = x.i WHERE x.vec_id < $NQueries GROUP BY 1, 2, 3),
padc AS (SELECT q.qid, a.vec_id AS nid, CAST(sum(q.pdot) AS BIGINT) AS score
  FROM pasn2 a JOIN pqd q ON q.sub = a.sub AND q.code = a.code AND a.vec_id <> q.qid
  GROUP BY 1, 2)
SELECT qid, nid, score, CAST(rank AS INT) AS rank FROM (
    SELECT qid, nid, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rank
    FROM padc)
WHERE rank <= $K"""),
    // recall of PQ-ADC top-k against the exact baseline, per query —
    // the measured quality of the compressed index at this operating
    // point (same proof shape as ann_lsh_recall / ann_ivf_recall)
    Gate("ann_pq_recall", (s, dir) => {
      val e = emb(s, dir)
      val pred = col("vec_id") < NQueries
      val q = e.filter(pred)
      val exact = Similarity.ipTopK(e, q, K).select(col("qid"), col("nid"))
      val approx = Similarity.pqTopK(e, q, K, PqM, PqCodes, PqIters)
        .select(col("qid"), col("nid"))
      q.select(col("vec_id").as("qid"))
        .join(exact.join(approx, Seq("qid", "nid")), Seq("qid"), "left")
        .groupBy("qid").agg(count(col("nid")).as("hits"))
    },
      s"""WITH $intCte,
$exactTopCte,
$pqCte,
pqd AS (SELECT x.vec_id AS qid, (x.i-1)//${Dim / PqM} AS sub, c.cid AS code,
    CAST(sum(x.ev*c.ev) AS BIGINT) AS pdot
  FROM iex x JOIN pcex2 c ON c.i = x.i WHERE x.vec_id < $NQueries GROUP BY 1, 2, 3),
padc AS (SELECT q.qid, a.vec_id AS nid, CAST(sum(q.pdot) AS BIGINT) AS score
  FROM pasn2 a JOIN pqd q ON q.sub = a.sub AND q.code = a.code AND a.vec_id <> q.qid
  GROUP BY 1, 2),
pqtop AS (SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rank
    FROM padc)
  WHERE rank <= $K)
SELECT q.vec_id AS qid, CAST(count(j.nid) AS BIGINT) AS hits
FROM ie q LEFT JOIN (
  SELECT e.qid, e.nid FROM extop e JOIN pqtop l ON e.qid = l.qid AND e.nid = l.nid) j
  ON j.qid = q.vec_id
WHERE q.vec_id < $NQueries
GROUP BY 1"""),
    // IVFPQ: the probe restricts each query to nProbe cells, ADC
    // scores the survivors from codes alone — the composition
    // trillion-scale serving uses, gated end to end
    Gate("ann_ivfpq_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < NQueries), K,
        IvfCentroids, IvfProbe, PqM, PqCodes, PqIters)
    },
      // IVFPQ: IVF probes (seed centroids, ties cid-desc) restrict the
      // candidates; ADC scores them through the PQ codes; rank ties
      // nid-asc — the full composition, one oracle
      s"""WITH $intCte,
$ivfSeedCte,
$pqCte,
${ivfPqAdcCte()}
SELECT qid, nid, score, CAST(rank AS INT) AS rank FROM (
    SELECT qid, nid, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rank
    FROM ipqsc)
WHERE rank <= $K"""),
    // IVFPQ + exact refine: ADC nominates top-RerankC per query, only
    // those rows touch original vectors for the exact re-rank — the
    // production recall-recovery stage (same shape as lshTopK's)
    Gate("ann_ivfpq_rerank_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqRerankTopK(e, e.filter(col("vec_id") < NQueries), K,
        RerankC, IvfCentroids, RerankProbe, PqM, PqCodes, PqIters)
    },
      // refine stage: ADC cut at RerankC (ties score desc, nid asc), then
      // exact dots for ONLY those rows, re-ranked (dot desc, nid asc)
      s"""WITH $intCte,
$ivfSeedCte,
$pqCte,
${ivfPqAdcCte(RerankProbe)},
pqcut AS (SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
    FROM ipqsc)
  WHERE rn <= $RerankC),
rrsc AS (SELECT c.qid, c.nid, CAST(sum(a.ev * b2.ev) AS BIGINT) AS dot
  FROM pqcut c JOIN iex a ON a.vec_id = c.qid JOIN iex b2 ON b2.vec_id = c.nid AND b2.i = a.i
  GROUP BY 1, 2)
SELECT qid, nid, dot, CAST(rank AS INT) AS rank FROM (
    SELECT qid, nid, dot,
      row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
    FROM rrsc)
WHERE rank <= $K"""),
    // gated recall of the refined IVFPQ path against the exact baseline
    Gate("ann_ivfpq_rerank_recall", (s, dir) => {
      val e = emb(s, dir)
      val pred = col("vec_id") < NQueries
      val q = e.filter(pred)
      val exact = Similarity.ipTopK(e, q, K).select(col("qid"), col("nid"))
      val approx = Similarity.ivfPqRerankTopK(e, q, K, RerankC,
        IvfCentroids, RerankProbe, PqM, PqCodes, PqIters)
        .select(col("qid"), col("nid"))
      q.select(col("vec_id").as("qid"))
        .join(exact.join(approx, Seq("qid", "nid")), Seq("qid"), "left")
        .groupBy("qid").agg(count(col("nid")).as("hits"))
    },
      s"""WITH $intCte,
$exactTopCte,
$ivfSeedCte,
$pqCte,
${ivfPqAdcCte(RerankProbe)},
pqcut AS (SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
    FROM ipqsc)
  WHERE rn <= $RerankC),
rrsc AS (SELECT c.qid, c.nid, CAST(sum(a.ev * b2.ev) AS BIGINT) AS dot
  FROM pqcut c JOIN iex a ON a.vec_id = c.qid JOIN iex b2 ON b2.vec_id = c.nid AND b2.i = a.i
  GROUP BY 1, 2),
rrtop AS (SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
    FROM rrsc)
  WHERE rank <= $K)
SELECT q.vec_id AS qid, CAST(count(j.nid) AS BIGINT) AS hits
FROM ie q LEFT JOIN (
  SELECT e.qid, e.nid FROM extop e JOIN rrtop l ON e.qid = l.qid AND e.nid = l.nid) j
  ON j.qid = q.vec_id
WHERE q.vec_id < $NQueries
GROUP BY 1"""),
    // IVF-blocked kNN JOIN: k nearest neighbors for EVERY vector — the
    // whole-corpus semantic-dedup/clustering primitive; no broadcast,
    // one equi-join on the cell id. Both consumers (here and
    // semantic_dedup) read the ONE materialized-per-process edge table —
    // the ANN-join-once shape of a real pipeline
    Gate("knn_join_emb", (s, dir) =>
      Similarity.sharedKnnJoin(emb(s, dir), dir, KJoin, IvfCentroids, IvfProbe),
      // kNN join: the same IVF probe/candidate/re-rank tail with the
      // query predicate removed — every vector is a query
      s"""WITH $intCte,
$ivfSeedCte,
${ivfTopSql("ad", "assign", qPred = "", k = KJoin)}"""),
    // semantic dedup: kNN-join edges above the near-dup dot threshold →
    // connected components → (vec_id, cluster_id = min reachable id).
    // The embedding-space twin of dedup_clusters: paraphrase-level
    // duplicates that share no n-grams collapse here. Oracle = the
    // kNN-join CTE + the same recursive min-reachability shape.
    Gate("semantic_dedup", (s, dir) =>
      Similarity.sharedSemanticClusters(emb(s, dir), dir, KJoin,
        IvfCentroids, IvfProbe, NearDupMinDot),
      // the kNN-join tail (qPred empty = every vector queries) feeds the
      // same recursive min-id reachability the text cluster oracle uses
      s"""WITH RECURSIVE $intCte,
$ivfSeedCte,
${ivfTopSql("ad", "assign", qPred = "", k = KJoin, wrapAs = Some("kj"))},
sp AS (SELECT qid, nid FROM kj WHERE dot >= $NearDupMinDot AND qid < nid),
sedges AS (SELECT qid AS src, nid AS dst FROM sp UNION ALL SELECT nid, qid FROM sp),
sreach AS (SELECT src AS id, src AS r FROM sedges
  UNION
  SELECT e.dst, r.r FROM sreach r JOIN sedges e ON e.src = r.id)
SELECT id AS vec_id, min(r) AS cluster_id FROM sreach GROUP BY id"""),
    // embedding-corpus survivors after semantic cluster resolution —
    // Dedup.keepersFrom works on any (doc_id, cluster_id) map, so the
    // embedding-space keeper is the same anti-join shape as the text one
    Gate("semantic_keepers", (s, dir) => {
      val e = emb(s, dir)
      graft.operators.Dedup.keepersFrom(
        e.withColumnRenamed("vec_id", "doc_id"),
        Similarity.sharedSemanticClusters(e, dir, KJoin,
          IvfCentroids, IvfProbe, NearDupMinDot)
          .withColumnRenamed("vec_id", "doc_id"))
        .withColumnRenamed("doc_id", "vec_id")
    },
      s"""WITH RECURSIVE $intCte,
$ivfSeedCte,
${ivfTopSql("ad", "assign", qPred = "", k = KJoin, wrapAs = Some("kj"))},
sp AS (SELECT qid, nid FROM kj WHERE dot >= $NearDupMinDot AND qid < nid),
sedges AS (SELECT qid AS src, nid AS dst FROM sp UNION ALL SELECT nid, qid FROM sp),
sreach AS (SELECT src AS id, src AS r FROM sedges
  UNION
  SELECT e.dst, r.r FROM sreach r JOIN sedges e ON e.src = r.id),
sclus AS (SELECT id, min(r) AS cluster_id FROM sreach GROUP BY id)
SELECT e.vec_id FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM sclus c WHERE c.id = e.vec_id AND c.id <> c.cluster_id)"""),
    // multimodal dedup capstone: a document ships only if it is the
    // canonical member in BOTH spaces — text (LSH-verified shingle
    // clusters) and embedding (semantic clusters); paraphrases that
    // share no n-grams fall to the semantic side, boilerplate-edited
    // copies with drifted embeddings fall to the text side. Both
    // cluster maps come from their memoized tables — this gate is two
    // anti-join-shaped consumers, not a recompute
    Gate("dedup_multimodal", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      // text-cluster params come from TextQueries so the engine and the
      // oracle (built from TextQueries' CTEs) can never drift apart
      val textLosers = graft.operators.Dedup.sharedClusters(d, dir, 1, 2, 3,
          TextQueries.NumHashes, TextQueries.Bands, TextQueries.RowsPerBand)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      val semLosers = Similarity.sharedSemanticClusters(emb(s, dir), dir, KJoin,
          IvfCentroids, IvfProbe, NearDupMinDot)
        .filter(col("vec_id") =!= col("cluster_id"))
        .select(col("vec_id").as("doc_id"))
      d.join(textLosers.union(semLosers).distinct(), Seq("doc_id"), "left_anti")
        .select("doc_id")
    },
      // multimodal capstone oracle: the text cluster chain (recursive
      // shingle CTEs from TextQueries) plus the semantic cluster chain,
      // survivors = canonical in both
      s"""${TextQueries.recursiveSigCte},
${TextQueries.clusterCte},
$intCte,
$ivfSeedCte,
${ivfTopSql("ad", "assign", qPred = "", k = KJoin, wrapAs = Some("kj"))},
sp AS (SELECT qid, nid FROM kj WHERE dot >= $NearDupMinDot AND qid < nid),
sedges AS (SELECT qid AS src, nid AS dst FROM sp UNION ALL SELECT nid, qid FROM sp),
sreach AS (SELECT src AS id, src AS r FROM sedges
  UNION
  SELECT e.dst, r.r FROM sreach r JOIN sedges e ON e.src = r.id),
sclus AS (SELECT id, min(r) AS cluster_id FROM sreach GROUP BY id),
mmlosers AS (SELECT doc_id FROM clus WHERE doc_id <> cluster_id
  UNION SELECT id AS doc_id FROM sclus WHERE id <> cluster_id)
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM mmlosers l WHERE l.doc_id = d.doc_id)"""),
    // incremental semantic dedup: a fourth of the embedding corpus plays
    // the incoming batch, deduped against the other three quarters'
    // shipped IVF index — batch probes join PRIOR cells only, never
    // prior×prior (the embedding twin of dedup_incremental)
    Gate("semantic_incremental", (s, dir) => {
      val e = emb(s, dir)
      Similarity.semanticIncremental(
        e.filter(col("vec_id") % 4 === 3), e.filter(col("vec_id") % 4 < 3),
        s"$dir|prior=vid%4<3", NearDupMinDot, IvfCentroids, IvfProbe)
    },
      // incremental oracle: prior-corpus hash-order seeds, prior-only
      // assignment (ties to LOWEST cid — DotArgmax), new-batch probes
      // (ties to HIGHEST cid — the engine's struct-desc sort), exact
      // re-rank of probed prior cells, anti-join of qualifying losers
      semanticIncrementalOracle),
    // ONLINE semantic dedup: the new quarter arrives as four
    // microbatches; each batch foreachBatch-dedups against the FIXED
    // prior corpus (memoized IVF assignment — built once, reused by
    // every batch) and appends its survivors. Against a fixed prior
    // the union of per-batch survivors is independent of the batch
    // split, so the gate shares semantic_incremental's oracle — what
    // it adds is proof that the streaming plumbing (foreachBatch,
    // checkpointing, append sink) preserves the batch semantics.
    Gate("stream_semantic", (s, dir) => {
      val e = emb(s, dir)
      val prior = e.filter(col("vec_id") % 4 < 3)
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream-sem").toString
      e.filter(col("vec_id") % 4 === 3).repartition(4).write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Similarity.semanticIncremental(batch, prior, s"$dir|stream-prior",
              NearDupMinDot, IvfCentroids, IvfProbe)
            .write.mode("append").parquet(s"$tmp/out")
        }
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // every microbatch producing zero survivors leaves no out dir;
      // fall back to an empty result with the pipeline's own schema
      // (analysis-only — .limit(0) over the same plan, no execution)
      val hconf = s.sparkContext.hadoopConfiguration
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val fs = tmpPath.getFileSystem(hconf)
      val res =
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/out")))
          s.read.parquet(s"$tmp/out")
        else Similarity.semanticIncremental(e.filter(lit(false)), prior,
          s"$dir|stream-prior", NearDupMinDot, IvfCentroids, IvfProbe).limit(0)
      val rows = res.collect().toSeq
      val outSchema = res.schema
      // resolve the filesystem FROM the path: FileSystem.get(conf) is
      // the default fs, which misdirects the delete under any
      // non-local fs.defaultFS
      fs.delete(tmpPath, true)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
    },
      semanticIncrementalOracle),
    // symmetric int8 quantization audit (amax scale + quantized-vector
    // fingerprint + L1 reconstruction error), exact integer arithmetic
    Gate("emb_quantize", (s, dir) => Similarity.quantizeInt8(emb(s, dir)),
      // int8 quantization audit: per-vector max-abs scale, md5 fingerprint
      // of the quantized vector (pins every element), and exact-integer L1
      // reconstruction error — `//` and Spark's `div` both truncate toward
      // zero, so the arithmetic is engine-identical including negatives
      s"""WITH $intCte,
qa AS (SELECT vec_id, v,
    greatest(list_max(list_transform(v, x -> abs(x))), 1) AS amax
  FROM ie),
qq AS (SELECT vec_id, amax, v,
    list_transform(v, x -> (x * 127) // amax) AS q
  FROM qa)
SELECT vec_id, CAST(amax AS BIGINT) AS amax,
  md5(array_to_string(list_transform(q, y -> CAST(y AS VARCHAR)), ',')) AS q_fp,
  CAST(list_sum(list_transform(range(1, len(v)+1),
    i -> abs(v[i] - (q[i] * amax) // 127))) AS BIGINT) AS err_l1
FROM qq"""),
    // signed random projection 64 → 16: per-vector fingerprint pins
    // every projected component; pure per-row fused-kernel work
    Gate("emb_project", (s, dir) => {
      val p = Similarity.randomProject(emb(s, dir), Dim, ProjDim)
      p.select(col("vec_id"),
        expr("md5(concat_ws(',', transform(p, y -> cast(y as string))))").as("p_fp"),
        expr("aggregate(p, cast(0 as bigint), (acc, x) -> acc + abs(x))").as("l1"))
    },
      // md5-parity ±1 matrix (pm) → projected components (pr) — the
      // oracle twin of Similarity.projectionMatrix/randomProject
      s"""WITH $intCte,
$projCte
SELECT vec_id, md5(string_agg(CAST(p AS VARCHAR), ',' ORDER BY j)) AS p_fp,
  CAST(sum(abs(p)) AS BIGINT) AS l1
FROM pr GROUP BY vec_id"""),
    // how much neighbor structure the 2× reduction keeps RAW: top-k in
    // the projected space vs exact 64-dim top-k (same proof shape as
    // ann_lsh_recall — the JL lemma, measured; the gate pins whatever
    // the operating point yields)
    Gate("emb_project_recall", (s, dir) => {
      val e = emb(s, dir)
      val pred = col("vec_id") < NQueries
      val pr = Similarity.randomProject(e, Dim, ProjDim)
        .select(col("vec_id"), col("p").as("v"))
      val exact = Similarity.ipTopK(e, e.filter(pred), K).select(col("qid"), col("nid"))
      val approx = Similarity.ipTopK(pr, pr.filter(pred), K).select(col("qid"), col("nid"))
      e.filter(pred).select(col("vec_id").as("qid"))
        .join(exact.join(approx, Seq("qid", "nid")), Seq("qid"), "left")
        .groupBy("qid").agg(count(col("nid")).as("hits"))
    },
      s"""WITH $intCte,
$projCte,
$exactTopCte,
pd AS (SELECT q.vec_id AS qid, n.vec_id AS nid, CAST(sum(q.p * n.p) AS BIGINT) AS dot
  FROM pr q JOIN pr n ON n.j = q.j AND n.vec_id <> q.vec_id
  WHERE q.vec_id < $NQueries GROUP BY 1, 2),
ptop AS (SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn FROM pd)
  WHERE rn <= $K)
SELECT q.vec_id AS qid, CAST(count(j.nid) AS BIGINT) AS hits
FROM ie q LEFT JOIN (
  SELECT e.qid, e.nid FROM extop e JOIN ptop l ON e.qid = l.qid AND e.nid = l.nid) j
  ON j.qid = q.vec_id
WHERE q.vec_id < $NQueries
GROUP BY 1"""),
    // the projection's production shape: coarse top-C shortlist in the
    // projected space, exact re-rank of only those pairs (full-
    // precision reads O(queries·C) at any corpus size)
    Gate("emb_project_rerank_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.projectRerankTopK(e, e.filter(col("vec_id") < NQueries),
        Dim, ProjDim, K, ProjC)
    },
      s"""WITH $intCte,
$projCte,
$projCandCte
SELECT qid, nid, dot, rank FROM (
  SELECT qid, nid, dot,
    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
  FROM prsc)
WHERE rank <= $K"""),
    // gated recall of the project→shortlist→re-rank path
    Gate("emb_project_rerank_recall", (s, dir) => {
      val e = emb(s, dir)
      val pred = col("vec_id") < NQueries
      val q = e.filter(pred)
      val exact = Similarity.ipTopK(e, q, K).select(col("qid"), col("nid"))
      val approx = Similarity.projectRerankTopK(e, q, Dim, ProjDim, K, ProjC)
        .select(col("qid"), col("nid"))
      q.select(col("vec_id").as("qid"))
        .join(exact.join(approx, Seq("qid", "nid")), Seq("qid"), "left")
        .groupBy("qid").agg(count(col("nid")).as("hits"))
    },
      s"""WITH $intCte,
$projCte,
$projCandCte,
$exactTopCte,
prtop AS (SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn FROM prsc)
  WHERE rn <= $K)
SELECT q.vec_id AS qid, CAST(count(j.nid) AS BIGINT) AS hits
FROM ie q LEFT JOIN (
  SELECT e.qid, e.nid FROM extop e JOIN prtop l ON e.qid = l.qid AND e.nid = l.nid) j
  ON j.qid = q.vec_id
WHERE q.vec_id < $NQueries
GROUP BY 1"""),
    // diversity-balanced selection: every semantic neighborhood (IVF
    // cell) capped at its best-scoring members — bounded top-k
    // aggregate per cell, no window (doc_id aligns with vec_id in the
    // fixtures, so document quality scores the vectors)
    Gate("diversity_sample", (s, dir) => {
      val scores = graft.operators.TextAnalysis.stats(
          s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id").as("vec_id"), col("quality_e3").as("score"))
      Similarity.diversitySample(emb(s, dir), scores, DiversityPerCell, IvfCentroids)
    },
      // diversity oracle: the IVF assignment CTEs + per-cell quality rank
      // (score desc, vec_id — the CollectTopK struct order), capped
      s"""WITH $intCte,
$ivfSeedCte,
q AS (SELECT doc_id AS vec_id,
    (CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) * 1000)
      // len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS score
  FROM documents),
r AS (SELECT a.vec_id, a.cid, q.score,
    row_number() OVER (PARTITION BY a.cid ORDER BY q.score DESC, a.vec_id) AS rank
  FROM assign a JOIN q USING (vec_id))
SELECT vec_id, CAST(cid AS INT) AS centroid_id, score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= $DiversityPerCell"""),

    // diversity-aware retrieval: greedy MMR over the exact top-C
    // shortlist — each pick maximizes λ·rel − (1−λ)·maxSimToPicked in
    // exact λ-scaled integers; per-query greedy is partition-local
    // after one shuffle on qid (the oracle replays every pick with a
    // recursive CTE)
    Gate("mmr_rerank_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.mmrRerankTopK(e, e.filter(col("vec_id") < NQueries), MmrK, MmrC)
    },
      // greedy MMR replay: `rel` is the exact top-C shortlist, `ps` the
      // candidate-pair dots, and the recursive `sel` carries the picked
      // list — each step scores every remaining candidate (correlated
      // max over sims to the picked set) and QUALIFY keeps the argmax
      // with the engine's (score desc, nid asc) tie rule
      s"""WITH RECURSIVE $intCte,
allsc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.ev * b.ev) AS BIGINT) AS dot
  FROM iex a JOIN iex b ON a.i = b.i AND b.vec_id <> a.vec_id
  WHERE a.vec_id < $NQueries GROUP BY 1, 2),
rel AS (SELECT qid, nid, dot FROM (
    SELECT qid, nid, dot, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn FROM allsc)
  WHERE rn <= $MmrC),
ps AS (SELECT r1.qid, r1.nid AS a, r2.nid AS b, CAST(sum(x.ev * y.ev) AS BIGINT) AS dot
  FROM rel r1 JOIN rel r2 ON r2.qid = r1.qid AND r2.nid <> r1.nid
  JOIN iex x ON x.vec_id = r1.nid JOIN iex y ON y.vec_id = r2.nid AND y.i = x.i
  GROUP BY 1, 2, 3),
sel AS (
  SELECT qid, 1 AS step, nid, 7*dot AS sc10, [nid] AS picked FROM (
    SELECT qid, nid, dot, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn FROM rel)
  WHERE rn = 1
  UNION ALL
  SELECT qid, step + 1, nid, sc10, list_append(picked, nid) FROM (
    SELECT s.qid, s.step, s.picked, c.nid,
      7*c.dot - 3*(SELECT max(p.dot) FROM ps p
                   WHERE p.qid = s.qid AND p.a = c.nid AND list_contains(s.picked, p.b)) AS sc10
    FROM sel s JOIN rel c ON c.qid = s.qid AND NOT list_contains(s.picked, c.nid)
    WHERE s.step < $MmrK)
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sc10 DESC, nid) = 1
)
SELECT qid, CAST(step AS INT) AS rank, nid, sc10 FROM sel"""),
    // gated recall metric: per query, how many of the LSH top-k appear
    // in the exact top-k (zero-hit queries included — 10 rows always)
    Gate("ann_lsh_recall", (s, dir) => {
      val e = emb(s, dir)
      val pred = col("vec_id") < NQueries
      val q = e.filter(pred)
      val exact = Similarity.ipTopK(e, q, K).select(col("qid"), col("nid"))
      val approx = Similarity.lshTopK(e, q, Dim, K,
          LshTables, LshBits, LshSeed, queriesWithinEmb = Some(pred))
        .select(col("qid"), col("nid"))
      q.select(col("vec_id").as("qid"))
        .join(exact.join(approx, Seq("qid", "nid")), Seq("qid"), "left")
        .groupBy("qid").agg(count(col("nid")).as("hits"))
    },
      s"""WITH $intCte,
$exactTopCte,
$lshCte
SELECT q.vec_id AS qid, CAST(count(j.nid) AS BIGINT) AS hits
FROM ie q LEFT JOIN (
  SELECT e.qid, e.nid FROM extop e JOIN lshtop l ON e.qid = l.qid AND e.nid = l.nid) j
  ON j.qid = q.vec_id
WHERE q.vec_id < $NQueries
GROUP BY 1"""),
    // cross-modal composition: retrieval restricted to QUALITY-GATED
    // documents (doc_id aligns with vec_id in the fixtures) — the
    // "search only the curated corpus" shape; neighbor side shrinks to
    // the survivor set before any scoring work happens
    Gate("ann_quality_topk", (s, dir) => {
      val e = emb(s, dir)
      val good = graft.operators.TextAnalysis.stats(
          s.read.parquet(s"$dir/documents.parquet"))
        .filter(col("n_tokens") >= 30 && col("quality_e3") >= 500)
        .select(col("doc_id").as("vec_id"))
      Similarity.ipTopK(e.join(good, "vec_id"),
        e.filter(col("vec_id") < NQueries), K)
    },
      s"""WITH $intCte,
goodq AS (SELECT doc_id FROM (
    SELECT doc_id,
      len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens,
      (CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) * 1000)
        // len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS quality_e3
    FROM documents)
  WHERE n_tokens >= 30 AND quality_e3 >= 500),
p AS (SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.ev * b.ev) AS BIGINT) AS dot
  FROM iex a JOIN iex b ON a.i = b.i AND b.vec_id <> a.vec_id
  WHERE a.vec_id < $NQueries AND b.vec_id IN (SELECT doc_id FROM goodq)
  GROUP BY 1, 2)
SELECT qid, nid, dot, rank FROM (
  SELECT qid, nid, dot,
    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
  FROM p)
WHERE rank <= $K"""),
    // same gated metric for the IVF path — the nProbe/nCentroids
    // operating point's recall@k is an oracle-checked integer
    Gate("ann_ivf_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
      val exact = Similarity.ipTopK(e, q, K).select(col("qid"), col("nid"))
      val approx = Similarity.ivfTopK(e, q, K, IvfCentroids, IvfProbe)
        .select(col("qid"), col("nid"))
      q.select(col("vec_id").as("qid"))
        .join(exact.join(approx, Seq("qid", "nid")), Seq("qid"), "left")
        .groupBy("qid").agg(count(col("nid")).as("hits"))
    },
      s"""WITH $intCte,
$exactTopCte,
$ivfSeedCte,
${ivfTopSql("ad", "assign", wrapAs = Some("ivftop"))}
SELECT q.vec_id AS qid, CAST(count(j.nid) AS BIGINT) AS hits
FROM ie q LEFT JOIN (
  SELECT e.qid, e.nid FROM extop e JOIN ivftop l ON e.qid = l.qid AND e.nid = l.nid) j
  ON j.qid = q.vec_id
WHERE q.vec_id < $NQueries
GROUP BY 1""")
  )

  /** semantic_incremental's oracle, shared by stream_semantic: against a
    * FIXED prior the streamed per-batch union equals the batch
    * incremental result. */
  private lazy val semanticIncrementalOracle =
    s"""WITH $intCte,
cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT vec_id FROM ie WHERE vec_id % 4 < 3
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $IvfCentroids)),
cex AS (SELECT c.cid, x.i, x.ev FROM cent c JOIN iex x ON x.vec_id = c.cvid),
pad AS (SELECT x.vec_id, c.cid, CAST(sum(x.ev * c.ev) AS BIGINT) AS dot
  FROM iex x JOIN cex c ON c.i = x.i WHERE x.vec_id % 4 < 3 GROUP BY 1, 2),
passign AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn FROM pad)
  WHERE rn = 1),
nad AS (SELECT x.vec_id, c.cid, CAST(sum(x.ev * c.ev) AS BIGINT) AS dot
  FROM iex x JOIN cex c ON c.i = x.i WHERE x.vec_id % 4 = 3 GROUP BY 1, 2),
probes AS (SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS rn FROM nad)
  WHERE rn <= $IvfProbe),
cand AS (SELECT DISTINCT p.qid, a.vec_id AS nid
  FROM probes p JOIN passign a ON a.cid = p.cid),
sc AS (SELECT c.qid, c.nid, CAST(sum(a.ev * b2.ev) AS BIGINT) AS dot
  FROM cand c JOIN iex a ON a.vec_id = c.qid JOIN iex b2 ON b2.vec_id = c.nid AND b2.i = a.i
  GROUP BY 1, 2),
losers AS (SELECT DISTINCT qid FROM sc WHERE dot >= $NearDupMinDot)
SELECT e.vec_id FROM embeddings e
WHERE e.vec_id % 4 = 3
  AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.qid = e.vec_id)"""

  /** Shared oracle CTE: fixed-point embeddings + positional expansion. */
  /** Oracle CTEs for the signed random projection: `pm` is the
    * md5-parity ±1 matrix (the [[Similarity.projectionMatrix]] twin —
    * +1 when the leading hex pair of the coefficient hash is even),
    * `pr(vec_id, j, p)` the projected components. `iex.i` is 1-based. */
  private val projCte =
    s"""pm AS (SELECT j.range AS j, d.range AS d,
  CASE WHEN CAST(('0x' || substr(md5('proj:${Similarity.ProjSeed}:' || j.range || ':' || d.range), 1, 2)) AS INT) % 2 = 0
       THEN 1 ELSE -1 END AS c
  FROM range(0, $ProjDim) j, range(0, $Dim) d),
pr AS (SELECT x.vec_id, m.j, CAST(sum(m.c * x.ev) AS BIGINT) AS p
  FROM iex x JOIN pm m ON m.d = x.i - 1 GROUP BY 1, 2)"""

  /** Oracle CTEs for the project→shortlist→re-rank path: projected
    * dots (`ppd`), top-`ProjC` candidates (`pcand`), exact re-scored
    * dots for candidate pairs only (`prsc`). */
  private val projCandCte =
    s"""ppd AS (SELECT q.vec_id AS qid, n.vec_id AS nid, CAST(sum(q.p * n.p) AS BIGINT) AS dot
  FROM pr q JOIN pr n ON n.j = q.j AND n.vec_id <> q.vec_id
  WHERE q.vec_id < $NQueries GROUP BY 1, 2),
pcand AS (SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn FROM ppd)
  WHERE rn <= $ProjC),
prsc AS (SELECT c.qid, c.nid, CAST(sum(a.ev * b.ev) AS BIGINT) AS dot
  FROM pcand c JOIN iex a ON a.vec_id = c.qid JOIN iex b ON b.vec_id = c.nid AND b.i = a.i
  GROUP BY 1, 2)"""

  private[graft] val intCte =
    """ie AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v FROM embeddings),
iex AS (SELECT vec_id, label, unnest(v) AS ev, generate_subscripts(v, 1) AS i FROM ie)"""

  /** Oracle CTEs reproducing the LSH pipeline: md5-derived planes →
    * sign-test bits → per-table buckets → candidates → exact re-rank.
    * `iex.i` is 1-based (generate_subscripts) vs the 0-based plane
    * dimension, hence `p.d = x.i - 1`. */
  private val lshCte =
    s"""plh AS (SELECT t.range AS t, b.range AS b, d.range AS d,
  md5('plane:$LshSeed:' || t.range || ':' || b.range || ':' || d.range) AS h
  FROM range(0, $LshTables) t, range(0, $LshBits) b, range(0, $Dim) d),
pl AS (SELECT t, b, d,
  CAST(('0x' || substr(h, 1, 5)) AS BIGINT) + CAST(('0x' || substr(h, 6, 5)) AS BIGINT)
  + CAST(('0x' || substr(h, 11, 5)) AS BIGINT) + CAST(('0x' || substr(h, 16, 5)) AS BIGINT)
  - 2097152 AS coef
  FROM plh),
sg AS (SELECT x.vec_id, p.t, p.b,
    CASE WHEN sum(x.ev * p.coef) >= 0 THEN 1 ELSE 0 END AS bit
  FROM iex x JOIN pl p ON p.d = x.i - 1
  GROUP BY 1, 2, 3),
bk AS (SELECT vec_id, t AS table_id, CAST(sum(bit << b) AS INT) AS bucket FROM sg GROUP BY 1, 2),
cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id AS nid
  FROM bk q JOIN bk e ON q.table_id = e.table_id AND q.bucket = e.bucket AND e.vec_id <> q.vec_id
  WHERE q.vec_id < $NQueries),
lsc AS (SELECT c.qid, c.nid, CAST(sum(a.ev * b2.ev) AS BIGINT) AS dot
  FROM cand c JOIN iex a ON a.vec_id = c.qid JOIN iex b2 ON b2.vec_id = c.nid AND b2.i = a.i
  GROUP BY 1, 2),
lshtop AS (SELECT qid, nid, dot, rank FROM (
    SELECT qid, nid, dot,
      row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
    FROM lsc)
  WHERE rank <= $K)"""

  /** Shared IVF oracle CTEs: hash-order seeds (the `nCentroids`
    * smallest `md5(vec_id)` — Similarity.ivfCentroids' id-distribution-
    * free pick, cids numbered in vec_id order), seed components
    * (`cex`), per-vector centroid dots (`ad`), argmax assignment with
    * ties to the LOWEST cid (`assign`) — the DotArgmax
    * strict-greater rule. */
  private def ivfSeedCteOver(seedWhere: String): String =
    s"""cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT vec_id FROM ie $seedWhere ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $IvfCentroids)),
cex AS (SELECT c.cid, x.i, x.ev FROM cent c JOIN iex x ON x.vec_id = c.cvid),
ad AS (SELECT x.vec_id, c.cid, CAST(sum(x.ev * c.ev) AS BIGINT) AS dot
  FROM iex x JOIN cex c ON c.i = x.i GROUP BY 1, 2),
assign AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn FROM ad)
  WHERE rn = 1)"""

  private val ivfSeedCte = ivfSeedCteOver("")

  /** One integer-Lloyd round over `assign`/`cex` → refined components
    * `cex2`, dot table `ad2`, refined assignment `assign2` — shared by
    * the kmeans top-k gate and the topic-profile gate. */
  private val kmeansAssignCte =
    s"""cm AS (SELECT s.cid, x.i, CAST(sum(x.ev) // count(*) AS BIGINT) AS ev
  FROM assign s JOIN iex x ON x.vec_id = s.vec_id GROUP BY 1, 2),
cex2 AS (SELECT * FROM cm UNION ALL
  SELECT c.cid, c.i, c.ev FROM cex c WHERE c.cid NOT IN (SELECT DISTINCT cid FROM cm)),
ad2 AS (SELECT x.vec_id, c.cid, CAST(sum(x.ev * c.ev) AS BIGINT) AS dot
  FROM iex x JOIN cex2 c ON c.i = x.i GROUP BY 1, 2),
assign2 AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn FROM ad2)
  WHERE rn = 1)"""

  /** The complete plain / metadata-filtered IVF retrieval replays —
    * the `ann_ivf_topk`/`ann_filtered_topk` texts, shared with the
    * `ann_store_equiv` phase aggregates. */
  private def ivfOracleFull: String = ivfOracleOver()

  private def ivfOracleFiltered: String =
    ivfOracleOver(candPred = " AND a.vec_id % 3 = 1")

  /** Parameterized full IVF retrieval replay: `seedWhere` restricts the
    * corpus the hash-order seeds are picked from (the PRIOR corpus for
    * the VectorStore append/as-of gates — appended vectors join the
    * existing centroids); `candPred` restricts the candidate
    * (assignment) side — metadata filters AND takedowns are exactly
    * such predicates. */
  private def ivfOracleOver(seedWhere: String = "",
                            candPred: String = ""): String =
    s"""WITH $intCte,
${ivfSeedCteOver(seedWhere)},
${ivfTopSql("ad", "assign", candPred = candPred)}"""

  /** Phase-aggregate SELECT over a materialized top-k CTE — the oracle
    * twin of the engine-side `storePhase`. */
  private def phaseAggSelect(cte: String): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(coalesce(sum(dot), 0) AS BIGINT) AS dot_sum,
  CAST(coalesce(sum(nid * rank), 0) AS BIGINT) AS nr_sum,
  CAST(coalesce(sum(qid), 0) AS BIGINT) AS q_sum FROM $cte"""

  /** IVF probe/candidate/re-rank tail over a dot table and an
    * assignment table (probe ties to the HIGHEST cid — the engine's
    * struct-desc sort). `qPred` restricts the query set; empty = every
    * vector is a query (the kNN-join shape). */
  private def ivfTopSql(adT: String, asgT: String,
                        qPred: String = s"WHERE vec_id < $NQueries",
                        k: Int = K, wrapAs: Option[String] = None,
                        candPred: String = ""): String =
    s"""probes AS (SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS rn
    FROM $adT $qPred)
  WHERE rn <= $IvfProbe),
cand AS (SELECT DISTINCT p.qid, a.vec_id AS nid
  FROM probes p JOIN $asgT a ON a.cid = p.cid AND a.vec_id <> p.qid$candPred),
sc AS (SELECT c.qid, c.nid, CAST(sum(a.ev * b2.ev) AS BIGINT) AS dot
  FROM cand c JOIN iex a ON a.vec_id = c.qid JOIN iex b2 ON b2.vec_id = c.nid AND b2.i = a.i
  GROUP BY 1, 2)""" + (wrapAs match {
      case Some(name) =>
        s""",
$name AS (SELECT qid, nid, dot, rank FROM (
    SELECT qid, nid, dot,
      row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
    FROM sc)
  WHERE rank <= $k)"""
      case None =>
        s"""
SELECT qid, nid, dot, rank FROM (
  SELECT qid, nid, dot,
    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
  FROM sc)
WHERE rank <= $k"""
    })

  /** Exact top-k CTE (the `ann_topk_ip` pipeline as a named CTE). */
  /** PQ oracle CTEs: the SAME hash-order seed pick as the IVF oracle,
    * split into `PqM` subspaces of `Dim/PqM` (sub = (i-1)//subdim on
    * the 1-based component index); one Lloyd round — L2 assignment via
    * `2·dot − |c|²` with ties to the lowest code (row_number), cell
    * means by truncating `//`, empty (sub, code) cells patched from the
    * seeds per missing component — then the final assignment `pasn2`
    * every PQ gate reads. */
  private val pqCte: String = {
    val sd = Dim / PqM
    s"""pcent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT vec_id FROM ie ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $PqCodes)),
pcex AS (SELECT c.cid, x.i, x.ev FROM pcent c JOIN iex x ON x.vec_id = c.cvid),
pn1 AS (SELECT cid, (i-1)//$sd AS sub, sum(ev*ev) AS nrm FROM pcex GROUP BY 1, 2),
ppd1 AS (SELECT x.vec_id, (x.i-1)//$sd AS sub, c.cid, sum(x.ev*c.ev) AS dot
  FROM iex x JOIN pcex c ON c.i = x.i GROUP BY 1, 2, 3),
pasn1 AS (SELECT vec_id, sub, cid AS code FROM (
    SELECT p.vec_id, p.sub, p.cid,
      row_number() OVER (PARTITION BY p.vec_id, p.sub ORDER BY 2*p.dot - n.nrm DESC, p.cid) AS rn
    FROM ppd1 p JOIN pn1 n ON n.cid = p.cid AND n.sub = p.sub) WHERE rn = 1),
pcm AS (SELECT a.code AS cid, x.i, CAST(sum(x.ev) // count(*) AS BIGINT) AS ev
  FROM pasn1 a JOIN iex x ON x.vec_id = a.vec_id AND (x.i-1)//$sd = a.sub
  GROUP BY 1, 2),
pcex2 AS (SELECT * FROM pcm UNION ALL
  SELECT c.cid, c.i, c.ev FROM pcex c
  WHERE NOT EXISTS (SELECT 1 FROM pcm m WHERE m.cid = c.cid AND m.i = c.i)),
pn2 AS (SELECT cid, (i-1)//$sd AS sub, sum(ev*ev) AS nrm FROM pcex2 GROUP BY 1, 2),
ppd2 AS (SELECT x.vec_id, (x.i-1)//$sd AS sub, c.cid, sum(x.ev*c.ev) AS dot
  FROM iex x JOIN pcex2 c ON c.i = x.i GROUP BY 1, 2, 3),
pasn2 AS (SELECT vec_id, sub, cid AS code FROM (
    SELECT p.vec_id, p.sub, p.cid,
      row_number() OVER (PARTITION BY p.vec_id, p.sub ORDER BY 2*p.dot - n.nrm DESC, p.cid) AS rn
    FROM ppd2 p JOIN pn2 n ON n.cid = p.cid AND n.sub = p.sub) WHERE rn = 1)"""
  }

  /** ADC-over-probed-cells CTEs shared by the IVFPQ gates (requires
    * `intCte`, `ivfSeedCte`, `pqCte` in scope): per-query partial-dot
    * table (`pqd`), IVF probes (ties cid-desc, `nProbe` deep), probed
    * candidates, summed ADC scores (`ipqsc`). */
  private def ivfPqAdcCte(nProbe: Int = IvfProbe): String =
    s"""pqd AS (SELECT x.vec_id AS qid, (x.i-1)//${Dim / PqM} AS sub, c.cid AS code,
    CAST(sum(x.ev*c.ev) AS BIGINT) AS pdot
  FROM iex x JOIN pcex2 c ON c.i = x.i WHERE x.vec_id < $NQueries GROUP BY 1, 2, 3),
probes AS (SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS rn
    FROM ad WHERE vec_id < $NQueries)
  WHERE rn <= $nProbe),
ipqc AS (SELECT DISTINCT p.qid, a.vec_id AS nid
  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
ipqsc AS (SELECT c.qid, c.nid, CAST(sum(q.pdot) AS BIGINT) AS score
  FROM ipqc c JOIN pasn2 a ON a.vec_id = c.nid
  JOIN pqd q ON q.qid = c.qid AND q.sub = a.sub AND q.code = a.code
  GROUP BY 1, 2)"""

  private val exactTopCte =
    s"""p AS (SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.ev * b.ev) AS BIGINT) AS dot
  FROM iex a JOIN iex b ON a.i = b.i AND b.vec_id <> a.vec_id
  WHERE a.vec_id < $NQueries GROUP BY 1, 2),
extop AS (SELECT qid, nid, dot, rank FROM (
    SELECT qid, nid, dot,
      row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
    FROM p)
  WHERE rank <= $K)"""
}
