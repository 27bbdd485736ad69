package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.PointStore
import graft.zorder.IntRange

/**
 * Plan-quality assertions: the physical plans the engine relies on at
 * scale actually materialize — predicate pushdown to Parquet (the
 * reference's RangeFilter analog, SURVEY §4 P3), column pruning (P4),
 * distributed top-k for kNN, and broadcast joins on small dimensions.
 */
class PlanQualitySpec extends SparkSpec {

  test("range filters reach the Parquet scan (PushedFilters) with pruned schema") {
    val pts = PointStore.points(
      spark.read.parquet(sf("sf0.01") + "/part.parquet"),
      col("p_partkey"), col("p_size"), expr("cast(floor(p_retailprice) as int)"))
    val q = PointStore.rangeQuery(pts, IntRange(10, 20), IntRange(900, 950))
      .select("id")
    val scan = q.queryExecution.executedPlan.toString
    // raw predicates pushed to the reader
    assert(scan.contains("PushedFilters: [") && scan.contains("GreaterThanOrEqual(p_size"), scan)
    // column pruning: only the three source columns are read
    assert(scan.contains("ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>"), scan)
  }

  test("kNN plans as distributed top-k (TakeOrderedAndProject), not a global sort") {
    val pts = PointStore.points(
      spark.read.parquet(sf("sf0.01") + "/part.parquet"),
      col("p_partkey"), col("p_size"), expr("cast(floor(p_retailprice) as int)"))
    // the rounds knn runs are the plans that do the work: when one
    // answers, the returned frame is a local relation
    val (_, plans) = plansDuring(PointStore.knn(pts, 25, 950, 10))
    assert(plans.nonEmpty)
    for (plan <- plans) {
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(!plan.contains("SortExec"), plan)
    }
    // a round whose k-th lies beyond its ball returns the final scan
    // unexecuted: four corners at distance² 200 from the query, outside
    // the radius-10 round's ball
    import spark.implicits._
    val corners = PointStore.points(Seq((1L, 10, 10), (2L, -10, 10), (3L, 10, -10), (4L, -10, -10))
      .toDF("pid", "px", "py"), col("pid"), col("px"), col("py"))
    val fallback = PointStore.knn(corners, 0, 0, 2, initialRadius = 10)
    val plan = fallback.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortExec"), plan)
    assert(fallback.select("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("small-dimension joins broadcast (no shuffle of the big side's join key)") {
    val plan = graft.SparkEntry.queries("revenue_by_nation")(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("aggregations use map-side partial aggregation") {
    val plan = graft.SparkEntry.queries("q1_agg")(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    // partial_ marks the map-side combine before the exchange
    assert(plan.contains("partial_"), plan)
  }

  test("dedup and ANN plans never degenerate to nested-loop or cartesian joins") {
    // every similarity/dedup join must stay an equality join on its
    // blocking key (shingle, band signature, LSH bucket, IVF cell) —
    // a nested-loop fallback would be the all-pairs blowup at 100 TB
    for (q <- Seq("dedup_near_pairs", "lsh_candidates", "simhash_near_pairs",
                  "ann_lsh_topk", "ann_ivf_topk", "emb_near_pairs", "knn_join_emb",
                  "semantic_incremental", "dedup_multimodal", "split_leakage",
                  "ann_ivfpq_rerank_topk", "image_near_dup", "frame_near_dup",
                  "spatial_join_count")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
  }

  test("scoring/span operators: equality joins only, broadcast vocabulary, top-k sample") {
    // span dedup, LM scoring and importance weighting all join a
    // corpus-scale stream against a vocabulary/inventory-scale table —
    // never all-pairs, and the vocabulary side broadcasts
    for (q <- Seq("span_dedup", "span_dedup_chars", "lm_score", "importance_weights",
                  "importance_sample")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
    val lmQ = graft.SparkEntry.queries("lm_score")(spark, sf("sf0.001"))
    val lm = lmQ.queryExecution.executedPlan.toString
    assert(lm.contains("BroadcastHashJoin"), lm)
    // the bigram probability table is corpus-vocabulary scale: exactly
    // ONE mandatory broadcast hint in the plan (the unigram prefix
    // table) — the bigram join must be left to AQE's size check, which
    // may or may not broadcast it (a forced hint OOMs at 100 TB)
    val lmHints = lmQ.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(lmHints.size == 1, s"expected only the unigram hint:\n$lmHints")
    val iw = graft.SparkEntry.queries("importance_weights")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(iw.contains("BroadcastHashJoin"), iw)
    // the resampling consumer is a bounded top-k, not a global sort —
    // same shape for the BPE merge-candidate rollup
    for (q <- Seq("importance_sample", "bpe_merges")) {
      val p = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), s"$q: $p")
    }
  }

  test("pipeline_corpus re-verifies near-dups on candidate pairs, not shingles") {
    // the composed pipeline must take the LSH shape: candidates from
    // band-signature equality joins, exact Jaccard as array_intersect on
    // the candidate pairs — no join anywhere keyed on a shingle column
    val plan = graft.SparkEntry.queries("pipeline_corpus")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty, plan)
    assert(!joinLines.exists(_.matches(".*\\bsh#\\d+.*")),
      "join keyed on a shingle:\n" + joinLines.mkString("\n"))
  }

  test("shingle/token pipelines never shuffle the EXPLODED corpus") {
    // the expensive exchange is the one above the explode (every
    // shingle/token is several times the source bytes); an exchange of
    // raw doc rows BELOW the explode (the small-input spread) is fine.
    // Plan strings print top-down, so "above the Generate line" =
    // downstream of the explode.
    def postExplodeExchanges(plan: String): Int = {
      val lines = plan.linesIterator.toSeq
      val gen = lines.lastIndexWhere(_.contains("Generate"))
      assert(gen >= 0, plan)
      lines.take(gen).count(_.contains("Exchange"))
    }
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    // shingles: nothing downstream of the explode shuffles
    val shPlan = graft.operators.TextAnalysis.shingles(docs)
      .queryExecution.executedPlan.toString
    assert(postExplodeExchanges(shPlan) == 0, shPlan)
    // simhash: the only post-explode exchange is the groupBy(doc_id)
    // aggregate (carrying one 60-counter buffer per doc, not tokens)
    val simPlan = graft.operators.Dedup.simhash(docs)
      .queryExecution.executedPlan.toString
    assert(postExplodeExchanges(simPlan) == 1, simPlan)
  }

  test("per-row curation operators are exchange-free; cap/histogram shuffle exactly once") {
    // redaction, repetition scoring and hash-sampling are pure per-row
    // projections/filters — any Exchange would mean the operator stopped
    // scaling linearly
    for (q <- Seq("pii_redact", "repetition_stats", "sample_stratified")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q:\n$plan")
    }
    // the per-source cap (one bounded top-n aggregate), the histogram
    // (one aggregate) and the shard assignment (one per-shard window)
    // are entitled to exactly one shuffle on their group key
    for (q <- Seq("source_cap", "token_histogram", "shard_assign")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      val n = plan.linesIterator.count(_.contains("Exchange"))
      assert(n == 1, s"$q has $n exchanges:\n$plan")
    }
    // the mixture report: one corpus aggregate + the share window over
    // the strata-count AGGREGATE (a metadata-scale single partition)
    val mix = graft.SparkEntry.queries("mixture_report")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val nMix = mix.linesIterator.count(_.contains("Exchange"))
    assert(nMix <= 2, s"mixture_report has $nMix exchanges:\n$mix")
  }

  test("decontamination broadcasts the eval side and never sort-merges on a shingle") {
    // the corpus side must meet the (tiny) eval shingle set via a
    // broadcast hash lookup — a SortMergeJoin would shuffle the whole
    // exploded corpus on the shingle key, the exact exchange the module
    // is designed to avoid
    val plan = graft.SparkEntry.queries("decontam_overlap")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("span decontamination: broadcast eval side, window partitioned by doc") {
    val plan = graft.SparkEntry.queries("decontam_spans")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the position/offset window must be keyed (per-document partitions,
    // never the single-partition global-window trap)
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, plan)
    assert(windowLines.forall(_.contains("doc_id")),
      "window not partitioned by doc_id:\n" + windowLines.mkString("\n"))
  }

  test("BPE encode and language ID never shuffle on a key (round-robin spread only)") {
    // spread()'s RoundRobin repartition is allowed (it moves no data to
    // a specific reducer — just widens parallelism for per-row work);
    // a hash or range exchange would mean the ranking left the row
    def keyedExchanges(p: String): Seq[String] =
      p.linesIterator.filter(l => l.contains("Exchange") &&
        (l.contains("hashpartitioning") || l.contains("rangepartitioning"))).toSeq
    val lid = graft.SparkEntry.queries("lang_id")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(keyedExchanges(lid).isEmpty, s"lang_id keyed shuffle:\n$lid")
    // bpe_encode's plan is projection-only AFTER the (gated separately)
    // training rounds; pin the encode operator itself
    val enc = graft.operators.TextAnalysis.bpeEncode(
      spark.read.parquet(sf("sf0.001") + "/documents.parquet"),
      Seq(("a", "b"), ("ab", "c")))
      .queryExecution.executedPlan.toString
    assert(keyedExchanges(enc).isEmpty, s"bpe_encode keyed shuffle:\n$enc")
    // unigram encode has the same contract: the vocabulary bakes into
    // the fused Viterbi DP expression, so application is a pure
    // projection — no keyed exchange anywhere
    val uenc = graft.operators.TextAnalysis.unigramEncode(
      spark.read.parquet(sf("sf0.001") + "/documents.parquet"),
      Seq(("a", 3L), ("b", 2L), ("ab", 5L)))
      .queryExecution.executedPlan.toString
    assert(keyedExchanges(uenc).isEmpty, s"unigram_encode keyed shuffle:\n$uenc")
  }

  test("bm25 document retrieval: corpus joins are broadcast-hash, never sort-merge") {
    // default (broadcast-queries) path: the posting explode must meet
    // the pruned vocabulary AND the query terms via BroadcastHashJoin —
    // a SortMergeJoin would mean the corpus shuffled on the term key
    val plan = graft.SparkEntry.queries("bm25_doc_topk")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled on term:\n$plan")
  }

  test("bloom decontamination probes the filter before the exchange") {
    // the at-scale path must carry the bloom probe (might_contain) as a
    // plain filter on the corpus side so only bloom-positive shingles
    // enter the re-verify join's exchange
    val plan = graft.SparkEntry.queries("decontam_bloom")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    // and it never degenerates to a nested-loop/cartesian shape
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // (dedup_incremental_bloom checkpoints its final ID list, so its
    // returned plan is a materialized scan — its bloom probes are pinned
    // value-side in DedupSpec instead)
  }

  test("packOffsets shuffles once on shard; quantizeInt8 is exchange-free") {
    val pack = graft.SparkEntry.queries("pack_offsets")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val nPack = pack.linesIterator.count(_.contains("Exchange"))
    assert(nPack == 1, s"pack_offsets has $nPack exchanges:\n$pack")
    val q = graft.SparkEntry.queries("emb_quantize")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!q.contains("Exchange"), q)
  }

  test("incremental dedup keeps the LSH join shape against the prior corpus") {
    // candidates must come from band-signature equality joins and the
    // re-verify from array_intersect over candidate pairs — no
    // cartesian/nested-loop fallback, no join keyed on a shingle
    val plan = graft.SparkEntry.queries("dedup_incremental")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(!joinLines.exists(_.matches(".*\\bsh#\\d+.*")),
      "join keyed on a shingle:\n" + joinLines.mkString("\n"))
  }

  test("tfidf broadcasts the vocabulary; winnow explode never feeds a raw-fingerprint shuffle") {
    // the df table joins back by broadcast — a SortMergeJoin on term
    // would shuffle every (doc, term) pair on a stopword-skewed key
    val tf = graft.SparkEntry.queries("tfidf_topk")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(tf.contains("BroadcastHashJoin"), tf)
    // winnow fingerprints: per-row arrays, one explode, zero exchanges
    // above it (the only allowed exchange is the small-input spread
    // BELOW the explode)
    val wf = graft.operators.TextAnalysis.winnowFingerprints(
        spark.read.parquet(sf("sf0.001") + "/documents.parquet"))
      .queryExecution.executedPlan.toString
    val lines = wf.linesIterator.toSeq
    val gen = lines.lastIndexWhere(_.contains("Generate"))
    assert(gen >= 0, wf)
    assert(lines.take(gen).count(_.contains("Exchange")) == 0, wf)
  }

  test("composed dedup/release pipelines never fall back to nested-loop or cartesian joins") {
    for (q <- Seq("pipeline_nightly", "pipeline_release", "winnow_pairs")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
  }

  test("content-gate filters evaluate on materialized signals, never re-inlining the tokenizer") {
    // without the observe barrier, pushdown inlines split() into the
    // bigram lambda's element accesses — O(tokens²) re-tokenization per
    // row (measured 20× on the sf0.1 gate). The filter must sit above
    // CollectMetrics and reference only the materialized signal columns.
    val gated = graft.operators.Curation.contentSignals(
        spark.read.parquet(sf("sf0.001") + "/documents.parquet"))
      .filter(col("n_tokens") >= 30 && col("quality_e3") >= 500 && col("rep_e3") <= 300)
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("CollectMetrics"), plan)
    val filterLines = plan.linesIterator.filter(_.contains("Filter")).toSeq
    val gateLine = filterLines.find(_.contains("n_tokens"))
    assert(gateLine.isDefined, plan)
    assert(!gateLine.get.contains("split("), s"tokenizer inlined into the gate filter:\n$plan")
  }

  test("html extraction is exchange-free; perceptron scoring shuffles " +
    "exactly once on the document key") {
    // the whole markup→text chain is per-row regexp/replace work — one
    // codegen'd project over the scan
    for (q <- Seq("html_extract", "html_links")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q:\n$plan")
    }
    // scoring: explode → per-doc margin aggregate; the model rides as
    // a literal array, so there is no second (join) exchange
    val sc = graft.operators.Perceptron.score(
        spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"),
        Array.fill[Long](graft.operators.Perceptron.Buckets + 1)(1L))
      .queryExecution.executedPlan.toString
    val n = sc.linesIterator.count(_.contains("Exchange"))
    assert(n == 1, s"perceptron score has $n exchanges:\n$sc")
    assert(!sc.contains("Join"), s"model must not join:\n$sc")
  }

  test("sketch plans: map-side partial fold before the register/counter " +
    "shuffle; heavy-hitter probe broadcasts the counter table") {
    // the whole point of a sketch: the exchange after partial agg
    // carries at most m (or d·w) cells per partition, never the corpus
    val reg = graft.SparkEntry.queries("hll_registers")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(reg.contains("partial_max"), reg)
    val cnt = graft.SparkEntry.queries("cms_counters")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(cnt.contains("partial_"), cnt)
    val hh = graft.SparkEntry.queries("cms_heavy_hitters")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(hh.contains("BroadcastHashJoin"), hh)
    assert(!hh.contains("CartesianProduct"), hh)
    // fusion composes two retrievers — no cartesian anywhere in the
    // combined plan (the exact-ANN scorer's broadcast NLJ over the
    // query side is its documented brute-force baseline shape)
    val fu = graft.SparkEntry.queries("hybrid_rrf_topk")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!fu.contains("CartesianProduct"), fu)
  }

  test("round-12 additions: TakeOrdered sample, broadcast fences, single-shuffle MMR") {
    // weightedSample selects k-of-corpus via per-partition heaps — a
    // global SortExec here would be the full-corpus sort trap
    val ws = graft.SparkEntry.queries("weighted_sample")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(ws.contains("TakeOrderedAndProject"), ws)
    assert(!ws.contains("SortExec"), ws)
    // outlier flagging joins the 5-row fence model back broadcast —
    // the fact side must not shuffle for the comparison pass
    val oe = graft.SparkEntry.queries("outlier_events")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(oe.contains("BroadcastHashJoin"), oe)
    assert(!oe.contains("SortMergeJoin"), oe)
    // the sliding RANGE frame is one window operator, not a self-join
    val es = graft.SparkEntry.queries("events_sliding")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(es.contains("RunningWindowFunction") || es.contains("Window"), es)
    assert(!es.contains("Join"), es)
    // MMR: the greedy runs in one mapGroups after the qid exchange —
    // candidate building broadcasts, so no sort-merge join anywhere
    val mm = graft.SparkEntry.queries("mmr_rerank_topk")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(mm.contains("MapGroups"), mm)
    assert(!mm.contains("SortMergeJoin") && !mm.contains("CartesianProduct"), mm)
  }

  test("round-12 analytics battery: broadcast query/model sides, no cartesian, " +
    "single-window SCD2") {
    // phrase search: the query-ordinal side broadcasts into the
    // postings scan — the corpus explode must never sort-merge
    val ps = graft.SparkEntry.queries("phrase_search")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(ps.contains("BroadcastHashJoin"), ps)
    assert(!ps.contains("SortMergeJoin") && !ps.contains("CartesianProduct"), ps)
    // fuzzy linkage: deletion-neighborhood blocking is an equi-join —
    // a CartesianProduct/BroadcastNestedLoop here means blocking broke
    val fl = graft.SparkEntry.queries("fuzzy_link")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!fl.contains("CartesianProduct") && !fl.contains("NestedLoop"), fl)
    // PMI: the top-N vocabulary is a TakeOrdered + broadcast filter;
    // the only sort-merge allowed is the doc_id self-join
    val pm = graft.SparkEntry.queries("pmi_pairs")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(pm.contains("TakeOrderedAndProject"), pm)
    assert(pm.contains("BroadcastHashJoin"), pm)
    assert(!pm.contains("CartesianProduct"), pm)
    // gap fill: the hour grid comes from a broadcast 1-row bounds
    // aggregate — the fact table is scanned exactly twice (agg + types)
    val gf = graft.SparkEntry.queries("ts_gapfill")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(gf.contains("BroadcastNestedLoopJoin") || gf.contains("BroadcastHashJoin"), gf)
    assert(!gf.contains("CartesianProduct"), gf)
    // SCD2: every window + the segment rollup shares ONE exchange on
    // the key — count the shuffles
    val sc = graft.SparkEntry.queries("scd2_history")(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val exchanges = sc.toString.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"SCD2 shuffled $exchanges times:\n$sc")
    // distance join: the grid decomposition is an equi-join on the
    // cell key — a cartesian/nested-loop here means the grid broke
    val dj = graft.SparkEntry.queries("distance_join")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!dj.contains("CartesianProduct") && !dj.contains("NestedLoop"), dj)
    // skyline: the bucket running-min table broadcasts back; the only
    // full-width window runs over the pruned candidates
    val sk = graft.SparkEntry.queries("skyline")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(sk.contains("BroadcastHashJoin"), sk)
    assert(!sk.contains("CartesianProduct"), sk)
  }

  test("zorder expression stays inside WholeStageCodegen in the store pipeline") {
    val pts = PointStore.points(
      spark.read.parquet(sf("sf0.01") + "/part.parquet"),
      col("p_partkey"), col("p_size"), expr("cast(floor(p_retailprice) as int)"))
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // codegen stage marker
    assert(plan.contains("zorder"), plan)
  }

  test("round-13 additions: partial-agg leaf histogram, TakeOrdered KMV, " +
    "equi-join-only components") {
    // the q-digest's ONLY corpus-scale stage: the leaf histogram must
    // partial-aggregate map-side (the exchange carries ≤ Universe
    // cells per partition, never the corpus)
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select(expr("cast(round(value*100) as bigint)").as("cents"))
    val lc = graft.operators.QuantileSketch.leafCounts(ev, "cents")
      .queryExecution.executedPlan.toString
    assert(lc.contains("partial_count"), lc)
    // KMV bottom-k: per-partition top-k merge, not a global sort of
    // the vocabulary (the only SortExec allowed is the k-row rank
    // window AFTER the TakeOrdered)
    val km = graft.SparkEntry.queries("kmv_sketch")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(km.contains("TakeOrderedAndProject"), km)
    // the distinct dedups map-side BEFORE its exchange (a HashAggregate
    // on each side — keyed dedup has no partial_ function marker)
    assert(km.linesIterator.count(_.contains("HashAggregate(keys=[h")) >= 2, km)
    // first-class CC: every round is an equi-join on vertex ids — a
    // cartesian/nested-loop would be the all-pairs trap
    val cc = graft.SparkEntry.queries("cc_components")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!cc.contains("CartesianProduct") && !cc.contains("NestedLoop"), cc)
    // rewritten phrase search: candidate and verification sides
    // broadcast; the corpus is never exchanged (no corpus-keyed
    // sort-merge join anywhere)
    val ps = graft.SparkEntry.queries("phrase_search")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(ps.contains("BroadcastHashJoin"), ps)
    assert(!ps.contains("SortMergeJoin") && !ps.contains("CartesianProduct"), ps)
    // Q5 join chain: region/nation/supplier sides broadcast; no
    // cartesian; the only shuffles belong to the fact-key joins + agg
    val q5 = graft.SparkEntry.queries("q5_local_revenue")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(q5.contains("BroadcastHashJoin"), q5)
    assert(!q5.contains("CartesianProduct"), q5)
  }

  test("round-15 additions: broadcast k-anon lattice, rollup in one pass, " +
    "equi-join LPA, codegen wordpiece encode, blocked containment") {
    // k-anonymity: the generalization lattice is cohort-scale and must
    // BROADCAST to the rows (three BroadcastHashJoins, no sort-merge),
    // and the whole lattice comes from ONE Expand+rollup aggregation
    val ka = graft.SparkEntry.queries("k_anonymity")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(ka.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, ka)
    assert(!ka.contains("SortMergeJoin"), ka)
    assert(ka.contains("Expand"), ka)
    // LPA: a round's neighbor-label join is an equi-join and the
    // argmax an aggregate with map-side partials (partial_max), never
    // a window sort; the full query plans cartesian-free
    val sym = spark.range(0, 10).select(col("id").as("src"),
      ((col("id") + 1) % 10).as("dst"))
    val lbl = sym.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
    val round = graft.operators.LinkGraph.lpaRound(sym, lbl)
      .queryExecution.executedPlan.toString
    assert(round.contains("partial_max"), round)
    assert(!round.contains("Window") && !round.contains("CartesianProduct"), round)
    val lpa = graft.SparkEntry.queries("lpa_communities")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!lpa.contains("CartesianProduct") && !lpa.contains("NestedLoop"), lpa)
    // wordpiece encode: the greedy walk is one fused expression inside
    // WholeStageCodegen; the only exchange is the per-doc rollup
    val wpDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val encDf = graft.operators.TextAnalysis.wordpieceEncode(wpDocs,
      Seq("a", "b", "ab"))
    encDf.collect() // materialize so AQE finalizes the codegen stages
    val encS = encDf.queryExecution.executedPlan.toString
    // the greedy walk runs inside a codegen stage (the *(n) marker on
    // the projection line carrying the fused expression)
    assert(encS.linesIterator.exists(l =>
      l.contains("wordpiece_stats") && l.contains("*(")), encS)
    // the only exchanges are the deliberate round-robin spread and the
    // per-doc rollup — no key-shuffle sneaks into the walk itself
    assert(encS.linesIterator.filter(_.contains("Exchange")).forall(l =>
      l.contains("RoundRobinPartitioning") || l.contains("hashpartitioning(doc_id")), encS)
    // containment pairs: same blocked equality-join shape as the
    // Jaccard twin — no cartesian, no nested loop
    val cp = graft.SparkEntry.queries("dedup_containment")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!cp.contains("CartesianProduct") && !cp.contains("NestedLoop"), cp)
    // bounded Bellman-Ford: relaxation joins are equi-joins with the
    // min-relabel as a partial-agg aggregate (same discipline as LPA)
    val bf = graft.SparkEntry.queries("cheapest_path")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!bf.contains("CartesianProduct") && !bf.contains("NestedLoop"), bf)
    // temporal reachability: the time-respect predicate must ride the
    // src equi-join (post-join filter), never degrade it to a
    // cartesian/nested-loop theta join
    val tr = graft.SparkEntry.queries("temporal_reach")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!tr.contains("CartesianProduct") && !tr.contains("NestedLoop"), tr)
    // correlated scalar subqueries must DECORRELATE to grouped joins on
    // the correlation key — a per-row subquery re-execution (or a
    // cartesian) would be the O(n²) trap at scale
    val cs = graft.SparkEntry.queries("sql_correlated")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!cs.contains("CartesianProduct") && !cs.contains("NestedLoop"), cs)
    assert(cs.contains("HashAggregate"), cs)
    assert(cs.linesIterator.exists(l =>
      l.contains("Join") && l.contains("o_custkey")), cs)
  }

  test("round-16 additions: tombstone read is a broadcast anti-join on the store side") {
    import java.nio.file.Files
    import spark.implicits._
    // takedown sets are tiny relative to the store: the logical-delete
    // read must BROADCAST the marker side into a LeftAnti hash join —
    // a sort-merge (or worse, a shuffle of the 100-TB store on the
    // marker key) would make every read pay the takedown's cost
    val dir = Files.createTempDirectory("graft-plan-del").toString + "/store"
    val rows = (0L until 1000L).map(i => (i, (i % 32).toInt, (i / 32).toInt, 0L))
    val df = PointStore.points(rows.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq")))
    PointStore.write(df, dir, 2)
    val store = PointStore.open(spark, dir)
    store.delete(Seq((5L, 5, 0, 1L)).toDF("id", "x", "y", "put_seq"))
    val plan = store.live(Seq("put_seq")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    // and the seq comparison rides the hash join as its non-equi
    // condition — it must not demote the join to nested-loop
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    store.drop()

    // EXISTS / NOT EXISTS must decorrelate to semi/anti joins — a
    // per-row subquery (cartesian / nested-loop) is the O(n²) trap;
    // the non-equi correlated predicate rides the semi join's condition
    val ex = graft.SparkEntry.queries("sql_exists")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(ex.contains("LeftSemi") && ex.contains("LeftAnti"), ex)
    assert(!ex.contains("CartesianProduct") && !ex.contains("BroadcastNestedLoopJoin"), ex)
  }

  test("round-16 additions: range-delete predicate pushes to the scan; " +
      "kNN join truncates map-side; lateral plans as a join") {
    import java.nio.file.Files
    import spark.implicits._
    // a RANGE delete compiles its markers into plain x/y/seq
    // comparisons — they must reach the parquet scan as PushedFilters
    // (row groups inside the dead region prune by footer stats); a
    // join-shaped read would shuffle the store against a 3-row marker
    val dir = Files.createTempDirectory("graft-plan-rdel").toString + "/store"
    val rows = (0L until 1000L).map(i => (i, (i % 32).toInt, (i / 32).toInt, 0L))
    val df = PointStore.points(rows.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq")))
    PointStore.write(df, dir, 2)
    val store = PointStore.open(spark, dir)
    store.deleteRange(Seq((4, 9, 2, 11, 1L))
      .toDF("xmin", "xmax", "ymin", "ymax", "put_seq"))
    val plan = store.live(Seq("put_seq")).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan) // predicate, not a join
    assert(plan.contains("PushedFilters: [Or("), plan) // non-empty, at the scan
    store.drop()

    // the spatial kNN join must truncate per-key candidate lists in the
    // PARTIAL aggregate (a size-k priority queue map-side) and reuse
    // that aggregation's partitioning for the rank window — one
    // exchange total after the grid join, no sort of the full fan-out
    val pts = (0L until 500L).map(i => (i, (i * 7 % 97).toInt, (i * 13 % 89).toInt))
      .toDF("id", "x", "y")
    val kj = graft.operators.SpatialJoin.knnWithinJoin(pts, 9L, 3)
    val kjPlan = kj.queryExecution.executedPlan.toString
    assert(kjPlan.contains("ObjectHashAggregate") || kjPlan.contains("SortAggregate"), kjPlan)
    assert(kjPlan.contains("collect_top_k"), kjPlan)
    val exchanges = "Exchange hashpartitioning\\(id_a".r
      .findAllIn(kjPlan).length
    assert(exchanges <= 1, s"$exchanges id_a exchanges:\n$kjPlan")

    // LATERAL top-k-per-group must plan as a real join after
    // decorrelation — never a per-outer-row subquery execution
    val lat = graft.SparkEntry.queries("sql_lateral")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!lat.contains("CartesianProduct"), lat)
    assert(lat.contains("Join") || lat.contains("join"), lat)
  }

  test("round-17: a snapshot read's seq bound reaches the parquet scan as a PushedFilter") {
    // snapshotAsOf spells its cut through the lexLe expansion, NOT
    // struct(seq) <= struct(bound) (which is untranslatable to a source
    // filter — measured empty PushedFilters): a time-travel read to
    // "yesterday" must prune row groups written after the bound by
    // put_seq footer stats, or at 100 TB it degenerates to a full scan
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-plan-snap").toString + "/store"
    val rows = (0L until 1000L).map(i => (i, (i % 32).toInt, (i / 32).toInt, i / 500L))
    val df = PointStore.points(rows.toDF("pid", "px", "py", "put_seq"),
      col("pid"), col("px"), col("py"), Seq(col("put_seq")))
    PointStore.write(df, dir, 2)
    val store = PointStore.open(spark, dir)
    val snap = store.snapshotAsOf(Seq("put_seq"), Seq(lit(0L)))
    val plan = snap.queryExecution.executedPlan.toString
    assert(plan.contains("LessThanOrEqual(put_seq,0)"), plan)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(snap.count() === 500L)
    store.drop()
  }
}
