package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.CheckpointScope.Scoped

/**
 * Deduplication operators for LLM-data pipelines over `(doc_id, text)`:
 *
 *  - exact dedup (content-hash groupBy);
 *  - exact n-gram Jaccard near-dup pairs (shingle inverted-index join —
 *    never an all-pairs cross product);
 *  - MinHash signatures + banded LSH candidate generation (the 100 TB
 *    scale path: candidates come from equality joins on band
 *    signatures, candidate count ≈ true near-dups, then exact Jaccard
 *    re-verification);
 *  - SimHash (64-bit-ish bit-vote fingerprint; near-dups = small
 *    Hamming distance).
 *
 * All hashing derives from md5 (deterministic everywhere, including the
 * DuckDB oracle: Spark `conv(substr(md5(s),1,15),16,10)` ==
 * DuckDB `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`, 60-bit positive).
 *
 * Shuffle profile at scale: exact dedup and MinHash shuffle once on
 * content-hash / shingle; the Jaccard join shuffles on shingle (skew on
 * stop-shingles can be salted or frequency-capped); LSH joins shuffle on
 * band signature — tiny. Nothing materializes on the driver.
 */
object Dedup {

  /** 60-bit positive hash of a string column, seeded. */
  private def h60(c: Column, seed: Int): Column =
    expr(s"cast(conv(substr(md5(concat('$seed:', ${c.toString})), 1, 15), 16, 10) as bigint)")

  /**
   * The DuckDB-oracle spelling of [[graft.functions.PolyGrams]]'s
   * k-gram hash over a per-position integer hash array `hs`: two
   * independent 31-bit polynomial hashes (constants shared via the
   * [[graft.functions.PolyGrams]] object), packed as `g1 * 2^31 + g2`.
   * The oracle's per-position fold is O(k) integer multiply-adds; the
   * engine side uses the fused expression's O(n) rolling recurrence —
   * the polynomial mod M is path-independent, so both compute identical
   * values. All intermediates stay under 2^52 (residue < 2^31,
   * base < 2^20), exact in 64-bit.
   */
  private[graft] def spanGramHash(k: Int): String = {
    import graft.functions.PolyGrams.{B1, B2, M1, M2}
    def poly(m: Long, b: Long): String =
      (1 until k).foldLeft(s"(hs[i] % $m)") { (acc, j) =>
        s"(($acc * $b + (hs[i+$j] % $m)) % $m)"
      }
    s"(${poly(M1, B1)}) * 2147483648 + (${poly(M2, B2)})"
  }

  /** Exact duplicate groups by content hash: one row per distinct text,
    * with the surviving (minimum) doc_id and the group size. */
  def exact(df: DataFrame): DataFrame =
    df.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /**
   * Exact word-k-shingle Jaccard near-duplicate pairs with similarity
   * ≥ num/den, via an inverted-index self-join on shingles (the join
   * key bounds the work to pairs that share ≥ 1 shingle). Threshold is
   * applied in exact integer arithmetic:
   * `i/(na+nb-i) >= num/den  <=>  (den+num)*i >= num*(na+nb)`.
   *
   * `maxDf` caps the document frequency of join-eligible shingles: a
   * stop-shingle shared by m documents contributes O(m²) join rows, the
   * one quadratic door of the inverted-index shape, so shingles with
   * df > maxDf are dropped from the JOIN (standard practice at corpus
   * scale). They still count toward na/nb, so similarity is only ever
   * UNDER-estimated for pairs whose overlap is all boilerplate — near
   * identical documents share plenty of rare shingles and are
   * unaffected. Join work is thus bounded by maxDf² per capped shingle.
   */
  /** The shared candidate skeleton of [[jaccardPairs]] and
    * [[containmentPairs]]: df-capped shared-shingle inverted-index
    * self-join → `(id_a, id_b, inter, na, nb)` for every ordered pair
    * with at least one surviving shared shingle. The thresholds are the
    * callers' post-aggregation predicates, so both similarity notions
    * ride ONE join shape (and one PlanQualitySpec pin). */
  private def sharedShinglePairs(df: DataFrame, k: Int, maxDf: Int): DataFrame = {
    // no .cache(): a cached plan would leak across repeated builds of
    // this query (cache manager holds it until an explicit unpersist);
    // recomputing the shingle projection is cheap next to the join
    val sh = TextAnalysis.shingles(df, k)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // df >= 2 is lossless pruning (singleton shingles cannot pair);
    // df <= maxDf is the skew cap documented above
    val shared = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= maxDf)
        .select("sh"), "sh")
    val inter = shared.as("a").join(shared.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(cnt.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
  }

  def jaccardPairs(df: DataFrame, num: Int = 1, den: Int = 2, k: Int = 3,
                   maxDf: Int = 1000): DataFrame =
    sharedShinglePairs(df, k, maxDf)
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"))

  /**
   * Asymmetric CONTAINMENT near-dup pairs — the quote/superset detector
   * symmetric Jaccard misses (Broder 1997 defines both resemblance and
   * containment; production dedup uses the containment direction to
   * drop a document subsumed by a larger one even though their Jaccard
   * is tiny because `|B| >> |A|`). A pair fires when the smaller side's
   * shingle set is `num/den`-contained in the intersection:
   * `den·inter ≥ num·min(na, nb)` — exact integers, no ratio ever
   * materialized. Output carries both directions' evidence:
   * `(id_a, id_b, inter, na, nb, cont_a_permille, cont_b_permille)`
   * with `cont_x_permille = ⌊inter·1000 / nx⌋`.
   *
   * Scale shape: identical to [[jaccardPairs]] — the df-capped
   * shared-shingle self-join (singleton shingles pruned losslessly,
   * ubiquitous ones capped) keeps the candidate generator banded; the
   * containment filter is a post-aggregation predicate on counts.
   */
  def containmentPairs(df: DataFrame, num: Int = 9, den: Int = 10,
                       k: Int = 3, maxDf: Int = 1000): DataFrame =
    sharedShinglePairs(df, k, maxDf)
      .filter(lit(den) * col("inter") >= lit(num) * least(col("na"), col("nb")))
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"),
        expr("div(inter * 1000, na)").as("cont_a_permille"),
        expr("div(inter * 1000, nb)").as("cont_b_permille"))

  /**
   * Recall of the banded-LSH candidate generator against the exact
   * Jaccard ground truth, as one row
   * `(n_true, n_cand, n_hit, recall_permille)` — the approximation-
   * quality probe a pipeline tunes `bands × rowsPerBand` against
   * before trusting LSH at a scale where exact pairing is unaffordable
   * (the `ann_*_recall` discipline applied to text dedup). Exact
   * integers; an empty truth set reports the 1000 sentinel. Both
   * inputs are the already-gated operators ([[jaccardPairs]],
   * [[lshCandidates]]); the hit join runs on the pair key.
   *
   * SAMPLE-SCALE ONLY: the truth side is the exact all-pairs Jaccard
   * — the very computation LSH exists to avoid — so this probe is
   * affordable only on a sample (or a small fixture). Tune
   * `bands × rowsPerBand` here, then run ONLY [[lshCandidates]] at
   * corpus scale; never wire `lshRecall` itself into a 100-TB
   * pipeline.
   */
  def lshRecall(df: DataFrame, num: Int = 1, den: Int = 2,
                numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4,
                maxDf: Int = 1000): DataFrame = {
    // truth (the exact all-pairs Jaccard) and the candidate table each
    // feed TWO branches (their own count + the hit join) — materialize
    // the pair lists once so the shingle self-join and the banded LSH
    // join never replay per branch
    val truth = jaccardPairs(df, num, den, maxDf = maxDf)
      .select("id_a", "id_b").scopedCheckpoint()
    val cand = lshCandidates(minhashSignatures(df, numHashes), bands, rowsPerBand)
      .scopedCheckpoint()
    val t = truth.agg(count(lit(1)).as("n_true"))
    val c = cand.agg(count(lit(1)).as("n_cand"))
    val h = truth.join(cand, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_hit"))
    t.crossJoin(c).crossJoin(h)
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") === 0, lit(1000L))
          .otherwise(expr("div(n_hit * 1000, n_true)")).as("recall_permille"))
  }

  /**
   * Universal-hash family for MinHash: `h_i(s) = A_i * base32(s) + B_i`
   * where `base32` is a 32-bit md5-derived hash and A_i/B_i are fixed
   * odd/offset constants. One md5 per shingle (instead of one per
   * shingle per hash) and the products stay exact in 64-bit
   * (A < 2^31, base < 2^32), so every engine computes identical values.
   * These constants are the single source of truth — the DuckDB oracle
   * SQL is generated from them.
   */
  def minhashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(1234567L)
    Seq.fill(numHashes)((rnd.nextInt(Int.MaxValue).toLong | 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** 32-bit md5-derived base hash of a string column. */
  def base32(c: Column): Column =
    expr(s"cast(conv(substr(md5(${c.toString}), 1, 8), 16, 10) as bigint)")

  /** Per-document MinHash signature: `numHashes` universal-hash minima
    * over the distinct k-shingle set, as columns m00..mNN. */
  def minhashSignatures(df: DataFrame, numHashes: Int = 16, k: Int = 3): DataFrame = {
    val sh = TextAnalysis.shingles(df, k)
      .withColumn("h", base32(col("sh")))
    val mins = minhashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(col("h") * lit(a) + lit(b)).as(f"m$i%02d")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /**
   * Banded-LSH candidate pairs from MinHash signatures: split the
   * signature into `bands` bands of `rowsPerBand`, hash each band, and
   * equality-join per band — two documents collide iff some band
   * matches (probability ≈ 1-(1-s^r)^b for Jaccard s). Returns distinct
   * `(id_a, id_b)`, id_a < id_b. Candidates must be re-verified with
   * exact Jaccard (see [[jaccardPairs]]); banding only bounds the
   * candidate set, which is what makes near-dup detection feasible at
   * 100 TB (no all-pairs comparison anywhere).
   */
  def lshCandidates(sigs: DataFrame, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val stacked = bandSignatures(sigs, bands, rowsPerBand)
    stacked.as("a").join(stacked.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Banded MinHash signatures, stacked: `(doc_id, band_id, sig)` with
    * one row per band — the join key both the self-join candidate
    * generation ([[lshCandidates]]) and the cross-corpus incremental
    * path ([[incrementalKeepers]]) shuffle on. */
  def bandSignatures(sigs: DataFrame, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand)
        .map(r => s"cast(m${"%02d".format(b * rowsPerBand + r)} as string)")
      s"md5(concat_ws(',', ${cols.mkString(", ")}))"
    }
    sigs.select(col("doc_id"),
      expr(s"explode(array(${bandCols.zipWithIndex
        .map { case (c, i) => s"struct($i as band_id, $c as sig)" }.mkString(", ")}))").as("b"))
      .select(col("doc_id"), col("b.band_id").as("band_id"), col("b.sig").as("sig"))
  }

  /**
   * Incremental (cross-run) dedup — the shape a production corpus build
   * actually runs: yesterday's corpus is already deduplicated and
   * shipped; today's batch must be deduplicated AGAINST it without
   * re-processing it. A new document survives iff
   *
   *   1. its exact content hash does not appear in the prior corpus
   *      (anti-join on `md5(text)`), and
   *   2. it has no LSH-verified near-duplicate in the prior corpus:
   *      band signatures of the new batch equality-join band signatures
   *      of the prior corpus (new×prior only — never prior×prior, so
   *      the already-clean bulk is scanned once and only for its
   *      signatures), candidates re-verified against exact shingle-set
   *      Jaccard ≥ num/den.
   *
   * Duplicates WITHIN the new batch are left alone — that's the
   * intra-batch [[keepers]] pass; composing both is the full nightly
   * pipeline. Returns the surviving new doc_ids.
   *
   * Scale shape: in steady state |new| ≪ |prior|; every join here is an
   * equality join keyed on content hash or band signature (both
   * near-unique), the candidate set is near-dup-sized, and the shingle
   * re-verify touches candidate pairs only. At 100 TB the prior side's
   * signatures/hashes would be a materialized table maintained across
   * runs — this operator takes the prior DataFrame so the caller
   * chooses (recompute here, read a signature table in production).
   */
  def incrementalKeepers(newDf: DataFrame, priorDf: DataFrame,
                         num: Int = 1, den: Int = 2, k: Int = 3,
                         numHashes: Int = 16, bands: Int = 4,
                         rowsPerBand: Int = 4): DataFrame = {
    val priorHashes = priorDf.select(md5(col("text")).as("th")).distinct()
    val exactSurvivors = newDf.withColumn("th", md5(col("text")))
      .join(priorHashes, Seq("th"), "left_anti")
    val cands = bandSignatures(minhashSignatures(newDf, numHashes, k), bands, rowsPerBand).as("a")
      .join(bandSignatures(minhashSignatures(priorDf, numHashes, k), bands, rowsPerBand).as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_prior"))
      .distinct()
    val setsNew = TextAnalysis.shingleSets(newDf, k)
      .withColumnRenamed("doc_id", "id_new").withColumnRenamed("shs", "shs_n")
    val setsPrior = TextAnalysis.shingleSets(priorDf, k)
      .withColumnRenamed("doc_id", "id_prior").withColumnRenamed("shs", "shs_p")
    val nearLosers = cands.join(setsNew, "id_new").join(setsPrior, "id_prior")
      .filter(lit(den + num) * size(array_intersect(col("shs_n"), col("shs_p"))) >=
        lit(num) * (size(col("shs_n")) + size(col("shs_p"))))
      .select(col("id_new").as("doc_id")).distinct()
    exactSurvivors.join(nearLosers, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** Serialized bloom filter over `hashCol` (a LongType hash, e.g.
    * `xxhash64`) of `keys` — empty array when `keys` is empty. Built in
    * one map-side-combinable aggregate pass; the driver holds only the
    * bitset. */
  private[operators] def bloomBytes(keys: DataFrame, hashCol: Column,
                                    bitsPerItem: Long = 20L): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.Bridge
    val n = keys.count()
    if (n == 0) Array.emptyByteArray
    else {
      val row = keys.agg(Bridge.bloomAgg(Bridge.expression(hashCol),
        n, math.max(64L, n * bitsPerItem)).as("bf")).head()
      if (row.isNullAt(0)) Array.emptyByteArray else row.getAs[Array[Byte]](0)
    }
  }

  /**
   * [[incrementalKeepers]] in the shape a 100 TB steady state needs:
   * value-identical output, but the PRIOR side — the huge one — is
   * reduced at its scan by bloom filters built over the SMALL incoming
   * batch, before any exchange:
   *
   *   - a bloom over the batch's content hashes prefilters the prior
   *     hash projection: a prior hash failing the bloom cannot equal
   *     any new hash, so dropping it cannot change the anti-join;
   *   - a bloom over the batch's band signatures prefilters the prior
   *     band-signature table the same way: a non-colliding prior band
   *     row can produce no candidate.
   *
   * Both filters are plan literals (batch-sized blooms — megabytes),
   * the same transport Spark's own runtime filters use; false
   * positives only let a few extra prior rows into the exact joins,
   * never change results. At steady state (|new| ≪ |prior|) the joins'
   * prior-side exchanges shrink from corpus scale to
   * ~(true matches + fpp·prior) rows.
   */
  def incrementalKeepersAtScale(newDf: DataFrame, priorDf: DataFrame,
                                num: Int = 1, den: Int = 2, k: Int = 3,
                                numHashes: Int = 16, bands: Int = 4,
                                rowsPerBand: Int = 4): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val newHashed = newDf.withColumn("th", md5(col("text")))
    val bandNew = bandSignatures(minhashSignatures(newDf, numHashes, k),
      bands, rowsPerBand).scopedCheckpoint()
    val thBloom = bloomBytes(newHashed.select("th").distinct(), xxhash64(col("th")))
    val sigBloom = bloomBytes(
      bandNew.select(concat_ws(":", col("band_id"), col("sig")).as("bs")).distinct(),
      xxhash64(col("bs")))
    def pre(df: DataFrame, bloom: Array[Byte], h: Column): DataFrame =
      if (bloom.isEmpty) df.limit(0)
      else df.filter(Bridge.bloomMightContain(lit(bloom), h))
    // prior hashes: bloom at the scan, BEFORE the distinct's exchange
    val priorHashes = pre(priorDf.select(md5(col("text")).as("th")),
      thBloom, xxhash64(col("th"))).distinct()
    val exactSurvivors = newHashed.join(priorHashes, Seq("th"), "left_anti")
    val bandPrior = pre(
      bandSignatures(minhashSignatures(priorDf, numHashes, k), bands, rowsPerBand),
      sigBloom, xxhash64(concat_ws(":", col("band_id"), col("sig"))))
    val cands = bandNew.as("a").join(bandPrior.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_prior"))
      .distinct()
    val setsNew = TextAnalysis.shingleSets(newDf, k)
      .withColumnRenamed("doc_id", "id_new").withColumnRenamed("shs", "shs_n")
    val setsPrior = TextAnalysis.shingleSets(priorDf, k)
      .withColumnRenamed("doc_id", "id_prior").withColumnRenamed("shs", "shs_p")
    val nearLosers = cands.join(setsNew, "id_new").join(setsPrior, "id_prior")
      .filter(lit(den + num) * size(array_intersect(col("shs_n"), col("shs_p"))) >=
        lit(num) * (size(col("shs_n")) + size(col("shs_p"))))
      .select(col("id_new").as("doc_id")).distinct()
    val survivors = exactSurvivors
      .join(nearLosers, Seq("doc_id"), "left_anti").select("doc_id")
      .scopedCheckpoint() // eager: last read of the batch signatures
    unpersistCheckpointed(bandNew)
    survivors
  }

  /**
   * The fused nightly-batch dedup: intra-batch cluster-canonical keeper
   * selection AND cross-run dedup against the prior corpus in one
   * operator — value-identical to `keepers(newDf) ∩
   * incrementalKeepers(newDf, priorDf)`, but the incoming batch is
   * MinHash-signed, banded, and shingle-set-built ONCE (the separate
   * spelling signs it twice and sets it twice). The batch-scale
   * artifacts (band signatures, shingle sets) are localCheckpoint'ed —
   * exactly the signature tables a production nightly job persists —
   * so the self-join, the cross-join, and both re-verifies read them
   * without re-deriving; the prior corpus is still scanned once for
   * its signatures and once for its content hashes.
   *
   * The survivor set (doc_ids only — batch-scale, one column) is
   * itself checkpointed eagerly and the batch-scale intermediates are
   * unpersisted before returning, so repeated nightly runs in one
   * long-lived session hold exactly one ID list per invocation in
   * executor storage, not an accumulating pile of signature tables.
   */
  def nightly(newDf: DataFrame, priorDf: DataFrame,
              num: Int = 1, den: Int = 2, k: Int = 3, numHashes: Int = 16,
              bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val bandNew = bandSignatures(minhashSignatures(newDf, numHashes, k),
      bands, rowsPerBand).scopedCheckpoint()
    val setsNew = TextAnalysis.shingleSets(newDf, k).scopedCheckpoint()
    def verified(cands: DataFrame, setsB: DataFrame): DataFrame = cands
      .join(setsNew.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shs", "shs_a"), "id_a")
      .join(setsB, "id_b")
      .filter(lit(den + num) * size(array_intersect(col("shs_a"), col("shs_b"))) >=
        lit(num) * (size(col("shs_a")) + size(col("shs_b"))))
      .select("id_a", "id_b")
    // intra-batch: self-join candidates → exact re-verify → CC → losers
    val candsIntra = bandNew.as("a").join(bandNew.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    val intraLosers = connectedComponents(verified(candsIntra,
        setsNew.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shs", "shs_b")))
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    // cross-run: new×prior candidates → re-verify; plus exact hashes
    val bandPrior = bandSignatures(minhashSignatures(priorDf, numHashes, k), bands, rowsPerBand)
    val candsCross = bandNew.as("a").join(bandPrior.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    val crossLosers = verified(candsCross,
        TextAnalysis.shingleSets(priorDf, k)
          .withColumnRenamed("doc_id", "id_b").withColumnRenamed("shs", "shs_b"))
      .select(col("id_a").as("doc_id")).distinct()
    val priorHashes = priorDf.select(md5(col("text")).as("th")).distinct()
    val survivors = newDf.withColumn("th", md5(col("text")))
      .join(priorHashes, Seq("th"), "left_anti")
      .join(intraLosers, Seq("doc_id"), "left_anti")
      .join(crossLosers, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .scopedCheckpoint() // eager: last read of the signature tables
    unpersistCheckpointed(bandNew)
    unpersistCheckpointed(setsNew)
    survivors
  }

  /**
   * Near-duplicate pairs in the full 100 TB shape: banded-LSH candidate
   * generation ([[lshCandidates]]) followed by exact Jaccard
   * re-verification of ONLY the candidate pairs — the composition the
   * MinHash/LSH machinery exists for. The re-verify is two equality
   * joins of the (small) candidate set against per-document shingle SETS
   * plus a per-row `array_intersect`; no join is ever keyed on a
   * shingle, so corpus-frequency skew cannot blow up the join (contrast
   * [[jaccardPairs]], whose inverted-index join needs the `maxDf` cap).
   * Recall is the banding curve's (pairs missing every band are missed);
   * precision is exact (candidates failing true Jaccard are dropped).
   */
  def lshNearPairs(df: DataFrame, num: Int = 1, den: Int = 2, k: Int = 3,
                   numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val cands = lshCandidates(minhashSignatures(df, numHashes, k), bands, rowsPerBand)
    val sets = TextAnalysis.shingleSets(df, k)
    cands
      .join(sets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shs", "shs_a"), "id_a")
      .join(sets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shs", "shs_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long").as("inter"),
        size(col("shs_a")).cast("long").as("na"),
        size(col("shs_b")).cast("long").as("nb"))
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
  }

  /**
   * SimHash near-duplicate pairs: 60-bit fingerprints banded into four
   * 15-bit bands; candidate pairs share ≥ 1 intact band (pigeonhole:
   * any pair within Hamming distance 3 must — higher distances are
   * found best-effort), then the exact Hamming filter `≤ maxHamming`
   * applies. Join work is bounded by band-collision counts — never
   * all-pairs.
   */
  def simhashNearPairs(df: DataFrame, maxHamming: Int = 8): DataFrame = {
    // both sides of the banded self-join replay the tokenize+SimHashAgg
    // plan — deliberately NOT materialized: the two sides run inside ONE
    // job and overlap on idle cores, and a checkpoint was measured
    // SLOWER at bench scale (3.97 → 6.00 s, r19: serializing the two
    // passes costs more wall-clock than the duplicated CPU)
    val sh = simhash(df)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b as band, shiftright(simhash, b * 15) & 32767 as v))"))
        .as("bd"))
      .select(col("doc_id"), col("simhash"), col("bd.band").as("band"), col("bd.v").as("v"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // distinct is value-identical but keeps out-of-budget pairs (the
      // bulk of band collisions on a self-similar corpus) out of the
      // dedup exchange entirely
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Banded Hamming near-pair mining over ANY 64-bit perceptual key —
   * the [[simhashNearPairs]] machinery generalized to a caller-supplied
   * `(id, h)` table (perceptual image hashes, video frame aHashes, …):
   * 4 bands × 16 bits generate candidates (two keys within Hamming 3
   * ALWAYS share a band — the banding guarantee; larger distances are
   * caught when any band happens to agree), `bit_count(xor)` verifies,
   * and the Hamming budget filters BEFORE the distinct so out-of-budget
   * band collisions never reach the dedup exchange. Returns
   * `(id_a, id_b, hamming)`, `id_a < id_b`.
   *
   * Scale shape: identical to [[simhashNearPairs]] — the self-join is
   * banded (never all-pairs), the exchange carries 8-byte keys, and
   * verification is a per-row popcount.
   */
  def hammingNearPairs64(hashed: DataFrame, maxHamming: Int = 6): DataFrame = {
    // the id table feeds FIVE plan branches (band distinct, within ×2,
    // cross fan-out ×2); callers hand in perceptual hashes whose plan
    // DECODES the media (ImageIO / WAV / AVI) — materialize the 16-B
    // (id, h) rows once so the decode never replays per branch
    val ids = hashed.select(col("id"), col("h")).scopedCheckpoint()
    // collapse-first (the span-dedup trick, at hash granularity): the
    // banded self-join and the popcount verify run over DISTINCT hash
    // values — identical hashes (exact perceptual duplicates, the bulk
    // of a duplicate-heavy corpus) never enter the candidate join, so
    // a hash held by n rows costs one band row instead of n (and its
    // within-class pairs come from one equi-join, not band collisions)
    val hashEdges = hammingHashEdges(ids.select("h").distinct(), maxHamming)
    // within-class pairs: same hash value, Hamming 0 by definition
    val within = ids.as("x").join(ids.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    // cross-class pairs: fan each verified hash edge back out to the
    // id pairs it represents (distinct hashes ⇒ hamming ≥ 1, so the
    // two branches cannot overlap)
    val cross = hashEdges
      .join(ids.select(col("h").as("ha"), col("id").as("ia")), "ha")
      .join(ids.select(col("h").as("hb"), col("id").as("ib")), "hb")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    within.union(cross)
  }

  /** Verified near-neighbor edges BETWEEN distinct 64-bit hash values:
    * 4×16-bit banded candidates over a `(h)` table of UNIQUE hashes,
    * popcount verify, budget filter before the distinct. `(ha, hb,
    * hamming)` with `ha < hb`; within-Hamming-3 pairs are guaranteed
    * caught (banding), larger distances when any band agrees. */
  private def hammingHashEdges(distinctHashes: DataFrame,
                               maxHamming: Int): DataFrame = {
    val banded = distinctHashes.select(col("h"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b as band, shiftright(h, b * 16) & 65535 as v))"))
        .as("bd"))
      .select(col("h"), col("bd.band").as("band"), col("bd.v").as("v"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
        col("a.h") < col("b.h"))
      .select(col("a.h").as("ha"), col("b.h").as("hb"),
        expr("bit_count(a.h ^ b.h)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Cluster resolution over a 64-bit perceptual key WITHOUT
   * materializing the quadratic pair set: identical hashes connect
   * through a STAR to their class representative (min id) — linear in
   * rows, connectivity-identical to the complete within-class graph —
   * and verified hash-level edges connect representatives. Connected
   * components then label every id with its component minimum, exactly
   * as [[connectedComponents]] over [[hammingNearPairs64]] would, but
   * a duplicate-heavy corpus (the 100 TB norm: re-encoded stills,
   * looped footage) costs O(rows + distinct-hash candidates) instead
   * of O(class²). Ids with a unique hash and no near neighbor carry no
   * edge and are absent from the output (the same contract as running
   * CC over the pair set).
   */
  def hammingClusters64(hashed: DataFrame, maxHamming: Int = 6): DataFrame = {
    // same multi-branch shape as [[hammingNearPairs64]] (star join,
    // edge fan-out ×2, band distinct all replay the input plan):
    // materialize the decode-backed hashes once
    val ids = hashed.select(col("id"), col("h")).scopedCheckpoint()
    val reps = ids.groupBy("h").agg(min(col("id")).as("rep"))
    val star = ids.join(reps, "h").filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val cross = hammingHashEdges(reps.select("h"), maxHamming)
      .join(reps.select(col("h").as("ha"), col("rep").as("ra")), "ha")
      .join(reps.select(col("h").as("hb"), col("rep").as("rb")), "hb")
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
    connectedComponents(star.union(cross))
  }

  /**
   * Connected components over an undirected edge list `(id_a, id_b)` —
   * the cluster-resolution step that turns near-duplicate PAIRS into
   * duplicate GROUPS (pairs alone under-delete: a~b and b~c must all
   * collapse to one survivor even when a~c shares no band). Returns
   * `(doc_id, cluster_id)` for every vertex, `cluster_id` = minimum
   * doc_id reachable in its component — a deterministic canonical
   * label independent of partitioning and iteration order.
   *
   * Algorithm: min-label hooking + pointer jumping (the Shiloach–
   * Vishkin shortcutting idea in DataFrame form; the same O(log n)
   * round bound as the large-star/small-star alternation of Kiveris et
   * al., "Connected Components in MapReduce", with a simpler exact
   * convergence test). Each round:
   *
   *   1. hooking — every vertex takes the minimum of its own label and
   *      its neighbors' labels (one equi-join labels⋈edges + a
   *      min-aggregate, shuffle on vertex id);
   *   2. shortcutting — every vertex then follows its label pointer one
   *      hop: `label(v) ← label(label(v))` (one equi-join of the hooked
   *      labels against the label table, build side unique per key).
   *
   * Labels only ever decrease and always name a vertex of the same
   * component, so at a fixpoint every edge has equal endpoints' labels
   * and the component minimum (whose label is itself) has flooded the
   * whole component — the "no label changed" test is exact. The
   * shortcut composes two known label mappings per round, so the
   * distance a minimum has traveled doubles each round (reach after
   * round r is 2^r - 1 on a path): a diameter-d component converges in
   * O(log d) rounds where pure propagation needs d.
   *
   * Scale shape: two equi-joins + one aggregate per round, all on
   * vertex-id keys (the shortcut probe side is skewed toward component
   * minima near convergence, but the build side is unique-keyed, so
   * there is no row explosion and AQE's skew split covers the rest).
   * An eager `localCheckpoint` truncates lineage each round — without
   * it the self-join doubles the logical plan every round — and it is
   * the round's ONLY action: the convergence signal rides along as a
   * `LongAccumulator` tallied in a final typed map, not a second
   * count job. (Task retries can only over-tally the accumulator,
   * never turn a nonzero tally into zero, so the `changed == 0` exit
   * test is exact.) The previous round's checkpoint blocks are
   * unpersisted as soon as the new round is materialized, so executor
   * storage holds ≤ 2 label tables however many rounds run. The
   * driver holds only the one-per-round changed tally, never vertex
   * data.
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 64): DataFrame =
    ccIterate(edges, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds it took —
    * package-private so specs can pin the O(log n) round bound. */
  private[graft] def ccIterate(edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // maxIter is loud-failure insurance, not a budget: the loop exits
    // the round after labels stop changing, so a graph that converges
    // in 5 rounds never pays for the ceiling — and with pointer
    // jumping, 64 rounds covers any graph that fits in longs; anything
    // still moving then fails the job rather than silently returning
    // split clusters
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .scopedCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).scopedCheckpoint()
    val enc3 = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaBoolean)
    val enc2 = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // hooking: pull the minimum neighbor label along every edge
      val nbr = sym.join(labels.withColumnRenamed("id", "src")
            .withColumnRenamed("label", "l"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("l")).as("nbr"))
      val hooked = labels.join(nbr, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("l1"))
      // shortcutting: l1 is always a vertex id (labels are ids and only
      // ever replaced by other labels), so the inner join is total; and
      // label(l1) <= l1 by monotonicity, so l2 IS the round's label
      val acc = sym.sparkSession.sparkContext.longAccumulator("cc-changed")
      val next = hooked
        .join(labels.select(col("id").as("l1"), col("label").as("l2")), "l1")
        .select(col("id"), col("l2").as("label"), (col("l2") < col("old")).as("chg"))
        .as(enc3)
        .map { t => if (t._3) acc.add(1L); (t._1, t._2) }(enc2)
        .toDF("id", "label")
        .scopedCheckpoint() // eager: the round's ONE action, tallying acc
      changed = acc.value
      unpersistCheckpointed(labels)
      labels = next
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    unpersistCheckpointed(sym)
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")), iter)
  }

  /** Drop the storage of a checkpointed DataFrame once a later round
    * has superseded it — delegates to [[CheckpointScope.release]] so
    * the scope registry stays in sync. */
  private[graft] def unpersistCheckpointed(df: DataFrame): Unit =
    CheckpointScope.release(df)

  /** Near-duplicate clusters in the full 100 TB shape: LSH candidates →
    * exact Jaccard re-verify ([[lshNearPairs]]) → transitive closure
    * ([[connectedComponents]]). One row per clustered document. */
  def clusters(df: DataFrame, num: Int = 1, den: Int = 2, k: Int = 3,
               numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    connectedComponents(
      lshNearPairs(df, num, den, k, numHashes, bands, rowsPerBand)
        .select("id_a", "id_b"))

  /**
   * Materialize the cluster map to a parquet table and return a reader
   * over it — the "dedup once, consume many times" shape of a real
   * corpus build: the LSH → re-verify → connected-components pipeline
   * is the expensive step, and every downstream consumer (keeper
   * selection, curation anti-joins, mixture accounting) should read the
   * written table instead of recomputing the chain. The table is tiny
   * relative to the corpus (cluster members only, two BIGINTs per row).
   */
  def clustersTable(df: DataFrame, path: String, num: Int = 1, den: Int = 2,
                    k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                    rowsPerBand: Int = 4): DataFrame = {
    clusters(df, num, den, k, numHashes, bands, rowsPerBand)
      .write.mode("overwrite").parquet(path)
    ParquetFooters.readParquet(df.sparkSession, path)
  }

  // per-JVM memo of materialized cluster tables, keyed by corpus key +
  // parameters — see the TableMemo scaladoc for the staleness contract
  // (corpusKey must change when the corpus does) and the locking shape
  private[graft] val sharedTables = new TableMemo("graft-clusters-")

  /**
   * [[clustersTable]] with per-process memoization: the first consumer
   * for a given `(corpusKey, params)` pays the full pipeline and writes
   * the table; later consumers in the same process read it back. This
   * is how the query gates model the production dedup-once shape while
   * each remains independently runnable. The memo key carries the
   * input's file-listing fingerprint ([[TableMemo.keyOf]]), so
   * rewriting the corpus behind the same path invalidates the entry;
   * `corpusKey` is a namespace (and the sole staleness carrier only for
   * file-less in-memory inputs — see [[TableMemo]]).
   */
  def sharedClusters(df: DataFrame, corpusKey: String, num: Int = 1, den: Int = 2,
                     k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                     rowsPerBand: Int = 4): DataFrame = {
    val key = s"$corpusKey|${TableMemo.keyOf(df)}|$num/$den|k=$k|h=$numHashes|b=$bands|r=$rowsPerBand"
    val path = sharedTables.getOrCreate(key) { dir =>
      clustersTable(df, dir, num, den, k, numHashes, bands, rowsPerBand)
    }
    ParquetFooters.readParquet(df.sparkSession, path)
  }

  /** Corpus survivors given a precomputed cluster map ([[clusters]] /
    * [[clustersTable]]): every document except non-canonical cluster
    * members (the cluster's minimum doc_id survives). The anti-join key
    * set is cluster members only — candidate-scale, not corpus-scale. */
  def keepersFrom(df: DataFrame, clusterMap: DataFrame): DataFrame = {
    val losers = clusterMap
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    df.join(losers, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /**
   * Cluster-canonical survivors keeping the BEST member of every
   * cluster by a caller-supplied score (ties → lowest doc_id) — the
   * keeper rule production dedup actually wants: when a document
   * cluster mixes a clean original with mangled near-copies, ship the
   * highest-quality member, not the numerically smallest id.
   * `scores` is `(doc_id, score)`; documents outside any cluster
   * survive unconditionally. Cluster members MISSING from `scores`
   * rank as if scored `Long.MinValue` (a left join, not an inner
   * join): they can only win a cluster whose every member is
   * unscored — in which case the lowest doc_id still survives,
   * matching [[keepersFrom]] — and a partially-scored cluster keeps
   * its best scored member. An inner join here would silently drop
   * ALL members of an all-unscored cluster (no winner selected, every
   * member anti-joined away) — data loss, not keeper selection.
   *
   * Scale shape: the ranking window partitions by cluster over CLUSTER
   * MEMBERS ONLY (candidate scale — near-dup families, not the
   * corpus), and the final anti-join's key set is the cluster-member
   * loser list. The corpus is touched exactly once, by the anti-join.
   */
  def keepersByScore(df: DataFrame, clusterMap: DataFrame,
                     scores: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("score").desc, col("doc_id"))
    val winners = clusterMap
      .join(scores, Seq("doc_id"), "left")
      .withColumn("score", coalesce(col("score"), lit(Long.MinValue)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id")
    val losers = clusterMap.select("doc_id")
      .join(winners, Seq("doc_id"), "left_anti")
    df.join(losers, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** Corpus survivors after transitive near-dup resolution, computing
    * the cluster map inline — see [[keepersFrom]] for the
    * materialized-table shape a real pipeline uses. */
  def keepers(df: DataFrame, num: Int = 1, den: Int = 2, k: Int = 3,
              numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    keepersFrom(df, clusters(df, num, den, k, numHashes, bands, rowsPerBand))

  /**
   * Segment the normalized token stream into fixed-length pieces of
   * `segLen` tokens: `(doc_id, seg_idx, seg)`, one row per segment,
   * the last segment possibly short. The sub-document unit of
   * [[segmentShared]]/[[segmentDedup]] — the stand-in for newline
   * splitting on a corpus whose fixture text has no line structure (a
   * real corpus swaps the segmenter for `split(text, '\n')` and the
   * dedup below is unchanged). Per-row array work + one explode, no
   * shuffle.
   */
  def segments(df: DataFrame, segLen: Int = 10): DataFrame =
    TextAnalysis.spread(df)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, cast(div(size(ws) + ${segLen - 1}, $segLen) as int) - 1),
            i -> struct(cast(i as bigint) as seg_idx,
                        concat_ws(' ', slice(ws, i * $segLen + 1, $segLen)) as seg))"""))
        .as("s"))
      .select(col("doc_id"), col("s.seg_idx").as("seg_idx"), col("s.seg").as("seg"))

  /** Segments duplicated across ≥ `minDf` distinct documents, with
    * their document frequency and the surviving (minimum) doc_id:
    * `(seg, df, keeper_doc)` — the boilerplate inventory of a corpus
    * (navigation chrome, license blocks, cookie banners). One
    * map-side-combinable aggregate keyed on the segment. */
  def segmentShared(df: DataFrame, segLen: Int = 10, minDf: Int = 2): DataFrame =
    segments(df, segLen)
      .groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("df"), min(col("doc_id")).as("keeper_doc"))
      .filter(col("df") >= minDf)

  /**
   * Cross-document duplicated-segment removal — the line-level dedup
   * of C4/CCNet/RefinedWeb ("remove every line that also appears
   * elsewhere in the corpus"), which catches the boilerplate that
   * document-level near-dup detection can't (two distinct articles
   * sharing a site's navigation chrome are NOT near-dups, but the
   * chrome must still go). A segment occurrence survives iff its
   * segment appears in fewer than `minDf` distinct documents OR this
   * document is the minimum doc_id containing it (the first
   * occurrence keeps the text readable; every other document loses
   * it). Returns one row per input document:
   * `(doc_id, n_segs, n_kept, cleaned)` with `cleaned` = surviving
   * segments rejoined in order.
   *
   * Scale shape: the segment-frequency table is one map-side-
   * combinable aggregate (distinct-segment scale, like a vocabulary);
   * occurrences join it by md5 key — build side unique per key, so
   * corpus-frequency skew cannot explode the join (the hottest
   * boilerplate segment still contributes one build row); reassembly
   * is a per-document aggregate (rows bounded by doc length /
   * segLen). Three bounded shuffles, nothing driver-side.
   */
  def segmentDedup(df: DataFrame, segLen: Int = 10, minDf: Int = 2): DataFrame = {
    val segs = segments(df, segLen).withColumn("h", md5(col("seg")))
    val stats = segs.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"), min(col("doc_id")).as("keeper_doc"))
    segs.join(stats, "h")
      .withColumn("survive", col("df") < minDf || col("doc_id") === col("keeper_doc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("survive"), 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(if(survive, struct(seg_idx, seg), null))), x -> x.seg)"),
          " ").as("cleaned"))
  }

  /**
   * Exact-substring span dedup (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better" — the ExactSubstr
   * dedup, at word-k-gram granularity): remove every MAXIMAL duplicated
   * token span from every document except the first (minimum-doc_id)
   * document containing it. Where [[segmentDedup]] needs duplicated
   * text to align on segment boundaries, this catches a copied passage
   * at ANY offset: a position is covered iff any k-gram starting within
   * the previous k positions is duplicated across ≥ `minDf` documents,
   * so overlapping duplicated grams merge into maximal spans for free.
   * Returns one row per document:
   * `(doc_id, n_tokens, n_kept, cleaned)` — `cleaned` is the surviving
   * tokens rejoined in order (the keeper document keeps its text; pure
   * intra-document repetition is [[graft.operators.Curation
   * .repetitionStats]]'s job and is deliberately not removed here).
   *
   * Scale shape — the relational analog of the paper's suffix-array
   * pass, two corpus-linear exchanges and zero quadratic joins:
   *  - EXACT-DUP COLLAPSE FIRST (see [[spanDedupChars]] for the
   *    argument): identical texts group under one md5 key, all
   *    tokenize/hash/explode/join work runs once per DISTINCT text
   *    with the group size weighting document frequency, and per-doc
   *    rows fan back out through one key join. Only a group's min-doc
   *    member can be any gram's keeper, so the kept-token rebuild has
   *    exactly two variants per text (keeper's and non-keepers'), the
   *    non-keeper variant evaluated only for groups with > 1 member
   *    (lazy CASE branch);
   *  - gram hashing is ONE md5 digest per TOKEN plus the fused
   *    [[graft.functions.PolyGrams]] rolling polynomial — O(n)
   *    multiply-add-mods per document TOTAL, instead of building and
   *    digesting a k-token string at every position (the digest work
   *    used to dominate the whole operator) or evaluating an
   *    interpreted per-position lambda;
   *  - the hashed projection is localCheckpointed ONCE and shared by
   *    its three consumers (dup inventory, dup starts, final join) —
   *    the [[nightly]] pattern; without it each consumer re-tokenizes
   *    and re-hashes the corpus. The checkpoint is registered with
   *    [[CheckpointScope]]: its blocks live until the caller has
   *    consumed the returned plan and calls
   *    [[CheckpointScope.releaseAll]] (the operator cannot unpersist
   *    what its result still reads);
   *  - the gram-frequency table aggregates per-document DISTINCT grams
   *    (`array_distinct` before the explode, so intra-doc repeats never
   *    inflate the exchange) — gram-vocabulary scale, map-side
   *    combinable;
   *  - duplicated-gram START POSITIONS come from ONE equality join of
   *    the positioned gram stream against the dup inventory, whose
   *    build side is UNIQUE per gram (the hottest boilerplate gram
   *    contributes one build row — corpus skew cannot explode the
   *    join); AQE broadcasts the inventory when it fits;
   *  - coverage is decided per row: each position binary-searches the
   *    document's sorted dup-start array via the codegen'd
   *    [[graft.functions.SortedFloor]] (`floor(ss, p) >= p-k+1`), so a
   *    d-dup-start, n-token document costs O(n log d) — no O(n·d)
   *    membership scan, no token-level corpus explode.
   */
  def spanDedup(df: DataFrame, k: Int = 5, minDf: Int = 2): DataFrame = {
    // sorted_floor must resolve inside the machinery's lambda
    // (expr-string scope); registration is idempotent and session-local
    graft.functions.GraftFunctions.register(df.sparkSession)
    val txt = spanTxt(df)
    // one representative per distinct text: tokenize + hash ONCE per
    // text; m weights document frequency, min_doc is the only member
    // that can keep any gram. Three consumers inside the machinery
    // (dup inventory, dup starts, final join): materialize the
    // tokenize+hash work exactly once.
    val reps = spanReps(txt, k).scopedCheckpoint()
    spanFanOut(txt, spanMachinery(reps, k, minDf))
  }

  /** Per-doc `(doc_id, tkey, text)` with the text-collapse key,
    * checkpointed (it is read again by the final fan-out join). */
  private def spanTxt(df: DataFrame): DataFrame =
    TextAnalysis.spread(df)
      .select(col("doc_id"), md5(col("text")).as("tkey"), col("text"))
      .scopedCheckpoint()

  /** Tokenize + one md5 per token + the fused [[graft.functions
    * .PolyGrams]] rolling gram hash, as chained aliases so each
    * evaluates once (CollapseProject won't inline a non-cheap alias
    * referenced twice). */
  private def withGramHashes(keyed: DataFrame, k: Int): DataFrame =
    gramHashesFromWs(
      keyed.withColumn("ws", TextAnalysis.tokens(col("text")))
        .filter(size(col("ws")) >= 1), k)

  /** Token hashes + fused O(n) rolling gram hash over an existing `ws`
    * column (short docs hash to empty inside) — the seam that lets the
    * approx path REBUILD gram hashes from a signal table's pass-through
    * token stream instead of re-shuffling the corpus. */
  private def gramHashesFromWs(withWs: DataFrame, k: Int): DataFrame = {
    val th = "cast(conv(substr(md5(concat('sp:', t)), 1, 15), 16, 10) as bigint)"
    withWs
      .withColumn("hs", expr(s"transform(ws, t -> $th)"))
      .withColumn("ghs", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.PolyGrams(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("hs")), k)))
  }

  /** The distinct-text representative table the span machinery runs
    * over: `(tkey, min_doc, m, ws, ghs)`. */
  private def spanReps(txt: DataFrame, k: Int): DataFrame =
    withGramHashes(
      txt.groupBy("tkey")
        .agg(min(col("doc_id")).as("min_doc"), count(lit(1)).as("m"),
          first(col("text")).as("text")), k)
      .select(col("tkey"), col("min_doc"), col("m"), col("ws"), col("ghs"))

  /** Fan per-distinct-text results back out to documents, picking the
    * keeper or non-keeper variant per doc. */
  private def spanFanOut(txt: DataFrame, allText: DataFrame): DataFrame =
    txt.join(allText, "tkey")
      .select(col("doc_id"), col("n_tokens"),
        when(col("doc_id") === col("min_doc"), col("n_kept_keep"))
          .otherwise(col("n_kept_all")).as("n_kept"),
        when(col("doc_id") === col("min_doc"), col("cleaned_keep"))
          .otherwise(col("cleaned_all")).as("cleaned"))

  /** Dup inventory → dup start positions → per-text rebuild, over a
    * CHECKPOINTED representative table (three consumers). Returns one
    * row per text: `(tkey, min_doc, n_tokens, n_kept_keep,
    * cleaned_keep, n_kept_all, cleaned_all)`. */
  private def spanMachinery(active: DataFrame, k: Int, minDf: Int): DataFrame = {
    val dup = active
      .select(col("min_doc"), col("m"), explode(expr("array_distinct(ghs)")).as("gh"))
      .groupBy("gh")
      .agg(sum(col("m")).as("df"), min(col("min_doc")).as("keeper_doc"))
      .filter(col("df") >= minDf)
    // gram rows carry min_doc (8 B, bijective with tkey — doc_ids
    // belong to exactly one text group) instead of the 33-B md5 tkey:
    // the explode→join→groupBy exchanges move the narrowest possible
    // payload; tkey rejoins from `active` after the rollup
    val dupStarts = active.select(col("min_doc"), posexplode(col("ghs")))
      .toDF("min_doc", "i", "gh")
      .join(dup, "gh")
      .groupBy("min_doc")
      .agg(
        sort_array(collect_list(col("i").cast("long"))).as("ss_all"),
        sort_array(collect_list(
          when(col("keeper_doc") =!= col("min_doc"), col("i").cast("long"))))
          .as("ss_keep"))
    def keptExpr(ss: String) =
      s"""transform(filter(sequence(0, size(ws)-1),
            p -> coalesce(sorted_floor($ss, cast(p as bigint)), cast(${-k} as bigint))
                   < cast(p - ${k - 1} as bigint)),
          p -> ws[p])"""
    val perText = active.join(dupStarts, Seq("min_doc"), "left")
      .withColumn("ss_all",
        coalesce(col("ss_all"), expr("cast(array() as array<bigint>)")))
      .withColumn("ss_keep",
        coalesce(col("ss_keep"), expr("cast(array() as array<bigint>)")))
      .withColumn("kept_keep", expr(keptExpr("ss_keep")))
      // the all-dup variant only exists for multi-member groups; the
      // CASE branch keeps single-member texts from paying the second
      // rebuild
      .withColumn("kept_all",
        when(col("m") > 1, expr(keptExpr("ss_all"))))
      .select(col("tkey"), col("min_doc"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(col("kept_keep")).cast("long").as("n_kept_keep"),
        array_join(col("kept_keep"), " ").as("cleaned_keep"),
        size(col("kept_all")).cast("long").as("n_kept_all"),
        array_join(col("kept_all"), " ").as("cleaned_all"))
    perText
  }

  /**
   * APPROXIMATE exact-substring span dedup — [[spanDedup]] with a
   * winnow prefilter (Schleimer et al.'s MOSS selection) fused into
   * the same pipeline. The exact formulation's cost on a
   * mostly-distinct corpus is dominated by carrying the full
   * token/gram arrays of EVERY text through the dup-inventory and
   * positioned-join stages; here a compact SIGNAL table — the
   * pass-through scalars plus a fingerprint array of window-MINIMA of
   * `w` consecutive polynomial gram hashes (a `least` ladder, no
   * slice allocation; the token arrays are dropped before the
   * checkpoint) — nominates CANDIDATE texts: those sharing a
   * fingerprint with another text (doc-weighted df ≥ 2) or
   * exact-duplicated outright (`m > 1`). The gram machinery is then
   * REBUILT for the candidate fraction only; everything else passes
   * through whole (`n_kept = n_tokens`) straight from the signal
   * table.
   *
   * Approximation contract (the winnowing guarantee): any duplicated
   * span of ≥ `k + w - 1` tokens contains a full fingerprint window
   * in every text carrying it, so ALL its texts are candidates and
   * the result matches [[spanDedup]] exactly for such spans —
   * including gram df and keeper assignment, which lose no containing
   * document. Duplicated spans SHORTER than `k + w - 1` tokens (k to
   * k+w-2) may be missed when a containing text selects no shared
   * fingerprint — a miss skips a removal, never invents one.
   * Candidacy over-inclusion is harmless (results equal exact
   * restricted to a superset), so the candidate threshold is fixed at
   * 2 regardless of `minDf`; `minDf` still governs the dup inventory
   * itself. Same output schema as [[spanDedup]].
   *
   * Scale shape: ONE corpus shuffle and ONE md5 tokenize pass total —
   * the signal table IS the exact machinery's input ([[spanReps]],
   * the same rows the exact twin materializes), and the winnow
   * fingerprints are the fused [[graft.functions.WindowMinima]]
   * (monotonic-deque window minima with built-in dedup, replacing the
   * interpreted `transform`+`least`-ladder+`array_distinct` chain that
   * dominated the r15 bench) over its checkpointed gram hashes,
   * recomputed per consumer as an O(n) projection. One
   * fingerprint-vocabulary aggregate (map-side combinable) then sizes
   * the exact machinery to the candidate fraction; the prefilter's
   * only cost on top of exact's own work is that aggregate plus the
   * candidacy join.
   *
   * ADAPTIVE BAIL-OUT: when the measured candidate fraction exceeds
   * `maxCandidateFrac` (two scalar counts over already-materialized
   * checkpoints — a driver decision on metadata, not data), the
   * prefilter cannot prune enough to pay for re-tokenizing the
   * candidates, so the operator falls back to the EXACT machinery
   * over all texts — results then equal [[spanDedup]] outright
   * (including sub-`k+w-1` spans) and the only overhead is the signal
   * pass. Pass `maxCandidateFrac = 1.0` to pin the pure approximate
   * semantics regardless of duplication (what the oracle gate does
   * NOT need: its fixture sits at ~11% candidates, well under the
   * default).
   */
  def spanDedupApprox(df: DataFrame, k: Int = 5, minDf: Int = 2,
                      w: Int = 4, maxCandidateFrac: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val txt = spanTxt(df)
    // the signal IS the machinery input ([[spanReps]] — ONE corpus
    // groupBy and ONE md5 tokenize pass, arrays on the one checkpoint,
    // the same rows the exact twin materializes); the winnow
    // fingerprints are the fused [[graft.functions.WindowMinima]] over
    // the checkpointed gram hashes, recomputed per consumer — the
    // rebuild-from-string shape paid the md5 token hash TWICE (signal
    // + rehydration), which the r16 bench still showed as prefilter
    // overhead at gate scale
    val sig = spanReps(txt, k).scopedCheckpoint()
    val fpsCol = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WindowMinima(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("ghs")), w))
    // two lazy fp passes (aggregate + candidacy join) — see the
    // [[spanDedupCharsApprox]] note: cheaper than checkpointing the
    // exploded fp rows
    val fpx = sig.select(col("tkey"), col("m"), explode(fpsCol).as("fp"))
    val dupFp = fpx.groupBy("fp").agg(sum(col("m")).as("fdf"))
      .filter(col("fdf") >= 2).select("fp")
    val candKeys = fpx.join(dupFp, "fp").select("tkey")
      .union(sig.filter(col("m") > 1).select("tkey"))
      .distinct()
      .scopedCheckpoint() // consumed by the candidate semi-join + anti-join
    // both counts read materialized checkpoints; frac >= 1 skips them
    if (maxCandidateFrac < 1.0 && candKeys.count() > maxCandidateFrac * sig.count()) {
      spanFanOut(txt, spanMachinery(sig, k, minDf))
    } else {
      // not re-checkpointed: both join sides are tkey-partitioned
      // checkpoints, so the machinery's consumers recompute this
      // exchange-free semi join cheaper than a second materialization
      val activeReps = sig.join(candKeys, Seq("tkey"), "left_semi")
      val allText = spanMachinery(activeReps, k, minDf).unionByName(
        sig.join(candKeys, Seq("tkey"), "left_anti")
          .select(col("tkey"), col("min_doc"),
            size(col("ws")).cast("long").as("n_tokens"),
            size(col("ws")).cast("long").as("n_kept_keep"),
            array_join(col("ws"), " ").as("cleaned_keep"),
            size(col("ws")).cast("long").as("n_kept_all"),
            array_join(col("ws"), " ").as("cleaned_all")))
      spanFanOut(txt, allText)
    }
  }

  /**
   * Character-level exact-substring duplicate-coverage — the byte-
   * granularity complement of [[spanDedup]]: where word k-grams miss
   * copies that differ in punctuation or token boundaries ("fox, jumps"
   * vs "fox jumps" tokenize differently, so no word gram matches), this
   * grams over the PUNCTUATION- AND WHITESPACE-STRIPPED character
   * stream (`[a-z0-9]` of the normalized text), so any duplicated
   * passage ≥ k cleaned characters is caught regardless of separator
   * variants — the spirit of Lee et al. 2022's byte-level ExactSubstr.
   * Because cleaned-character positions don't map back to removable
   * token spans, this variant REPORTS coverage instead of rewriting
   * text — the duplicate-content score RefinedWeb-style pipelines gate
   * on: one row per document with ≥ 1 cleaned character,
   * `(doc_id, n_chars, n_dup_chars)`, where a position counts as
   * duplicated iff some duplicated (df ≥ `minDf`) k-gram covers it and
   * the document is not that gram's keeper (minimum doc_id).
   *
   * Scale shape goes beyond [[spanDedup]]'s (shared-once
   * localCheckpoint, unique build side per gram) — char positions are
   * ~6× word positions, so this path earns three tightenings that cut
   * the 1 M-doc probe from 126 s to single digits, all EXACT:
   *
   *  - EXACT-DUP COLLAPSE FIRST (what a production pipeline does before
   *    any expensive near-dup pass): identical cleaned texts group
   *    under one md5 key, gram hashing/explode/join run once per
   *    DISTINCT text, and document frequency weights each text by its
   *    group size. Per-gram keeper = min doc_id = min over groups'
   *    min-docs, and only a group's own min-doc member can be any
   *    gram's keeper (every other member exceeds its group min, which
   *    bounds the keeper from above) — so one conditional collect
   *    yields both the keeper's and the non-keepers' start lists, and
   *    per-doc results fan back out with one cheap key join. Worst
   *    case (all texts distinct) degrades to the ungrouped plan plus
   *    one corpus-size groupBy.
   *  - hashing fuses ALL the per-character work into one expression:
   *    [[graft.functions.AsciiPolyGrams]] runs the [[spanGramHash]]
   *    polynomial straight over the string's bytes, skipping the
   *    split-to-char-array and ascii-code-array materializations
   *    (value-identical for the `[a-z0-9]*` input by construction);
   *  - coverage is counted in O(dup starts) per text instead of
   *    O(n log d): each duplicated start `s` covers `[s, s+k-1]`
   *    (always inside the document — a gram needs k following chars),
   *    so the union's size is `k` for the last sorted start plus
   *    `min(k, next − s)` for every earlier one — the same number the
   *    per-position count yields, without enumerating positions.
   */
  def spanDedupChars(df: DataFrame, k: Int = 20, minDf: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val txt = charTxt(df)
    // one representative row per distinct cleaned text, carrying the
    // group's size (df weight) and min doc (keeper candidate)
    val reps = charReps(txt, k).scopedCheckpoint()
    charFanOut(txt, charMachinery(reps, k, minDf))
  }

  /** Per-doc `(doc_id, tkey, clean)` over the `[a-z0-9]`-only stream,
    * checkpointed (re-read by the fan-out join). */
  private def charTxt(df: DataFrame): DataFrame =
    TextAnalysis.spread(df)
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "[^a-z0-9]", "").as("clean"))
      .filter(length(col("clean")) >= 1)
      .withColumn("tkey", md5(col("clean")))
      .select(col("doc_id"), col("tkey"), col("clean"))
      .scopedCheckpoint()

  /** Distinct-cleaned-text representatives with the fused char-gram
    * hash: `(tkey, min_doc, m, n, ghs)`. */
  private def charReps(txt: DataFrame, k: Int): DataFrame =
    txt.groupBy("tkey")
      .agg(min(col("doc_id")).as("min_doc"), count(lit(1)).as("m"),
        first(col("clean")).as("clean"))
      .withColumn("ghs", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.AsciiPolyGrams(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("clean")), k)))
      .select(col("tkey"), col("min_doc"), col("m"),
        length(col("clean")).as("n"), col("ghs"))

  /** Fan per-distinct-text coverage back out to documents. */
  private def charFanOut(txt: DataFrame, perText: DataFrame): DataFrame =
    txt.join(perText, "tkey")
      .select(col("doc_id"), col("n_chars"),
        when(col("doc_id") === col("min_doc"), col("dup_keep"))
          .otherwise(col("dup_all")).as("n_dup_chars"))

  /** Dup inventory → dup starts → interval-union coverage, over a
    * CHECKPOINTED char representative table (three consumers). Returns
    * `(tkey, min_doc, n_chars, dup_all, dup_keep)`. */
  private def charMachinery(active: DataFrame, k: Int, minDf: Int): DataFrame = {
    val dup = active
      .select(col("min_doc"), col("m"), explode(expr("array_distinct(ghs)")).as("gh"))
      .groupBy("gh")
      .agg(sum(col("m")).as("df"), min(col("min_doc")).as("keeper_doc"))
      .filter(col("df") >= minDf)
    // per TEXT: sorted duplicated starts for non-keeper members (all
    // duplicated grams) and for the group's min-doc member (grams it
    // does not keep). Gram rows carry min_doc (8 B, bijective with
    // tkey) instead of the 33-B md5 string — narrowest payload through
    // the explode→join→groupBy exchanges; tkey rejoins from `active`.
    val starts = active.select(col("min_doc"), posexplode(col("ghs")))
      .toDF("min_doc", "i", "gh")
      .join(dup, "gh")
      .groupBy("min_doc")
      .agg(
        sort_array(collect_list(col("i").cast("long"))).as("ss_all"),
        sort_array(collect_list(
          when(col("keeper_doc") =!= col("min_doc"), col("i").cast("long"))))
          .as("ss_keep"))
    // interval-union size of the sorted starts' [s, s+k-1] covers
    def cover(ss: String) =
      s"""cast(case when size($ss) = 0 then 0 else
            aggregate(zip_with(slice($ss, 1, size($ss) - 1),
                               slice($ss, 2, size($ss) - 1),
                        (a, b) -> least(b - a, cast($k as bigint))),
              cast($k as bigint), (acc, x) -> acc + x)
          end as bigint)"""
    active.join(starts, Seq("min_doc"), "left")
      .withColumn("ss_all",
        coalesce(col("ss_all"), expr("cast(array() as array<bigint>)")))
      .withColumn("ss_keep",
        coalesce(col("ss_keep"), expr("cast(array() as array<bigint>)")))
      .select(col("tkey"), col("min_doc"), col("n").cast("long").as("n_chars"),
        expr(cover("ss_all")).as("dup_all"),
        expr(cover("ss_keep")).as("dup_keep"))
  }

  /**
   * APPROXIMATE char-level duplicate-coverage — [[spanDedupChars]]
   * with the same fused winnow prefilter [[spanDedupApprox]] applies
   * at word granularity: the signal table IS the exact machinery's
   * input ([[charReps]] — ONE corpus groupBy, gram hashes on the one
   * checkpoint), and the window-minimum fingerprints are the fused
   * [[graft.functions.WindowMinima]] over it, recomputed per consumer
   * (two O(n) projections over materialized blocks — cheaper than a
   * second materialization or an [[graft.functions.AsciiPolyGrams]]
   * re-hash, so the prefilter's only cost on top of exact's own work
   * is the fingerprint aggregate and the candidacy join). Candidates =
   * texts sharing a fingerprint with doc-weighted df ≥ 2, or
   * exact-duplicated cleaned text `m > 1`;
   * non-candidates pass through with `n_dup_chars = 0`. Exact for
   * duplicated char spans ≥ `k + w - 1` cleaned characters; shorter
   * duplicated spans may be under-counted (coverage only ever drops,
   * never rises). The same adaptive bail-out falls back to the exact
   * machinery when candidates exceed `maxCandidateFrac` of distinct
   * texts.
   */
  def spanDedupCharsApprox(df: DataFrame, k: Int = 20, minDf: Int = 2,
                           w: Int = 4, maxCandidateFrac: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val txt = charTxt(df)
    // signal pass: ONE corpus groupBy, and the signal IS the machinery
    // input — charReps' gram-hash array rides the single checkpoint,
    // and the winnow fingerprints are the fused [[graft.functions
    // .WindowMinima]] over it, recomputed on demand by each consumer
    // (two O(n) projections over materialized blocks beat a second
    // materialization + an AsciiPolyGrams re-hash: the r16 bench still
    // showed the chars prefilter 1.4× its exact twin with the
    // rebuild-from-string shape; this one adds only the fingerprint
    // aggregate and the candidacy join on top of exact's own work)
    val sig = charReps(txt, k).scopedCheckpoint()
    val fpsCol = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WindowMinima(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("ghs")), w))
    // two lazy fp passes (aggregate + candidacy join) measured CHEAPER
    // than materializing the exploded fp table once: the fp rows are
    // ~1/w of the gram rows, so a checkpoint's write+read I/O exceeds
    // one recompute of the O(n) window-minima projection (r18 bench,
    // 40k-doc sparse fixture: 13.3 s two-pass vs 15.4 s checkpointed)
    val fpx = sig.select(col("tkey"), col("m"), explode(fpsCol).as("fp"))
    val dupFp = fpx.groupBy("fp").agg(sum(col("m")).as("fdf"))
      .filter(col("fdf") >= 2).select("fp")
    val candKeys = fpx.join(dupFp, "fp").select("tkey")
      .union(sig.filter(col("m") > 1).select("tkey"))
      .distinct()
      .scopedCheckpoint()
    // both counts read materialized checkpoints; frac >= 1 skips them
    if (maxCandidateFrac < 1.0 && candKeys.count() > maxCandidateFrac * sig.count()) {
      charFanOut(txt, charMachinery(sig, k, minDf))
    } else {
      // NOT re-checkpointed: the machinery's consumers recompute this
      // semi join from the two already-materialized checkpoints (both
      // hash-partitioned on tkey — no exchange), which measures cheaper
      // than a second full materialization of the gram arrays
      val activeReps = sig.join(candKeys, Seq("tkey"), "left_semi")
      val allText = charMachinery(activeReps, k, minDf).unionByName(
        sig.join(candKeys, Seq("tkey"), "left_anti")
          .select(col("tkey"), col("min_doc"), col("n").cast("long").as("n_chars"),
            lit(0L).as("dup_all"), lit(0L).as("dup_keep")))
      charFanOut(txt, allText)
    }
  }

  /**
   * 60-bit SimHash over the distinct word set: per bit position, words
   * vote +1/-1 by their hash bit; the fingerprint sets bits with a
   * positive vote. Near-dups differ in few bits (Hamming distance).
   * Computed in ONE aggregation pass by the custom
   * [[graft.functions.SimHashAgg]] counter-buffer aggregate (map-side
   * combinable — no 60× bit explode), value-identical to the bit-vote
   * definition the DuckDB oracle spells out relationally.
   */
  def simhash(df: DataFrame, bits: Int = 60): DataFrame =
    // per-row array_distinct == global distinct on (doc_id, w) because
    // doc_id identifies the row — but costs no shuffle (see
    // TextAnalysis.shingles for the same trade)
    TextAnalysis.spread(df).select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("w"))
      .select(col("doc_id"), h60(col("w"), 0).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.GraftFunctions.simhash_agg(col("h"), bits).as("simhash"))
}
