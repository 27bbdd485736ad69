package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Exact phrase search over the document corpus via a POSITIONAL
 * inverted index — the retrieval companion to [[TextAnalysis.bm25DocTopK]]
 * (bag-of-words ranking) for queries where token ORDER matters:
 * quoted-phrase search, exact-quote decontamination probes, citation
 * mining.
 *
 * Algorithm (the classic positional-postings intersection, folded into
 * one join + one aggregate): explode documents into positioned
 * postings `(doc, p, term)` and each query phrase into ordinals
 * `(query, i, term)`; every posting matching the query's i-th term
 * votes for anchor `p − i` (the phrase's would-be start), and an
 * anchor collecting ALL `len` distinct ordinals is an occurrence.
 * Length-agnostic — a 2-token and a 12-token phrase run the same plan.
 *
 * Scale shape — RAREST-TERM ANCHORING: a df pass over the query
 * vocabulary (map-side broadcast semi-match, |query vocab|-bounded
 * rollup) picks each query's minimum-df ordinal; candidates are the
 * postings of the RAREST term only — for a stopword-heavy phrase like
 * "of the district court" the candidates are the "district" postings,
 * not the "of"/"the" flood a uniform-ordinal join would shuffle.
 * Verification never touches postings again: each candidate carries
 * its phrase array to its document and is confirmed by ONE array-slice
 * equality against the document's token run (all remaining ordinals
 * checked in place — no per-ordinal expansion, no corpus shuffle
 * anywhere; the final rollup input is the candidate set, not Σ df).
 * The corpus is never exchanged: two scans (df, candidates) plus a
 * tokenize-only pass for verification. For an ALL-stopword phrase the
 * rarest term is still corpus-frequent and the candidate broadcast is
 * the binding constraint.
 */
object Search {

  /**
   * Occurrences of each query phrase in each document.
   *
   * `queries`: `(query_id, phrase)`; `docs`: `(doc_id, text)`. Both
   * sides tokenize with the engine's canonical whitespace tokenizer
   * ([[TextAnalysis.tokens]]), so a phrase matches exactly when its
   * normalized token run appears contiguously in the document.
   *
   * Output: `(query_id, doc_id, n_occ, first_pos)` — one row per
   * matching (query, document), `first_pos` the 0-based token offset
   * of the earliest occurrence. The result is position-set-determined,
   * so it is independent of WHICH ordinal anchors — rarest-term
   * anchoring changes the plan, never the answer.
   *
   * NOT lazy: the broadcast-vs-shuffle decision for the verification
   * join needs the candidate-count estimate, so constructing the
   * returned DataFrame runs two eager Spark jobs (the query-side
   * checkpoint and the Σ df(rarest) aggregate) — both query-log-scale,
   * never corpus-scale. Callers that only want the plan should not
   * call this.
   */
  def phraseOccurrences(queries: DataFrame, docs: DataFrame): DataFrame = {
    import CheckpointScope.Scoped
    // the query side (query-log scale) is materialized once so the
    // df/rarest/verification subplans don't re-derive it per broadcast
    val qarr = queries.select(col("query_id"),
      TextAnalysis.tokens(col("phrase")).as("qs")).scopedCheckpoint()
    val qtok = qarr.select(col("query_id"),
      posexplode(col("qs")).as(Seq("i", "term")))
    val toks = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "term")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("term"))
    // pass 1: posting counts for the query vocabulary (map-side semi-
    // match via broadcast; the rollup is |query vocab|-bounded)
    val dfs = toks.join(broadcast(qtok.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    // the anchoring ordinal: minimum df, ties to the lowest ordinal; a
    // term absent from the corpus ranks first (df 0) and correctly
    // produces zero candidates. Metadata-scale (one row per query);
    // checkpointed so the candidate-count probe below doesn't re-run
    // the df scan the final plan needs anyway.
    val rarest = qtok.join(dfs, Seq("term"), "left")
      .select(col("query_id"), col("i"), col("term"),
        coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("query_id")
      .agg(min_by(struct(col("i"), col("term"), col("df")),
        struct(col("df"), col("i"))).as("m"))
      .select(col("query_id"), col("m.i").as("i0"), col("m.term").as("t0"),
        col("m.df").as("df0"))
      .scopedCheckpoint()
    // pass 2: candidates — one per posting of each query's rarest term;
    // anchor is the phrase's would-be start (< 0 can never verify)
    val cand = toks.join(broadcast(rarest.select("query_id", "i0", "t0")),
        toks("term") === col("t0"))
      .select(col("query_id"), col("doc_id"),
        (col("p") - col("i0")).as("anchor"))
      .filter(col("anchor") >= 0)
    // verification: no positional re-join — each candidate carries its
    // phrase token array to its document and is confirmed by ONE
    // array-slice equality against the document's token run (the
    // remaining ordinals checked in-place, no per-ordinal expansion).
    // The candidate set is EXACTLY Σ df(rarest term) rows — known ahead
    // of time from the (checkpointed, metadata-scale) rarest table — so
    // the broadcast hint is gated: an all-stopword phrase whose rarest
    // term is still corpus-frequent degrades to a shuffle join on
    // doc_id instead of OOMing the driver.
    val estCand = rarest.agg(coalesce(sum(col("df0")), lit(0L))).first().getLong(0)
    val withPhrase = cand.join(qarr.hint("broadcast"), "query_id")
    val darr = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
    val joined =
      if (estCand <= MaxBroadcastCandidates) darr.join(withPhrase.hint("broadcast"), "doc_id")
      else darr.join(withPhrase, "doc_id")
    joined
      .filter(expr("slice(ws, cast(anchor + 1 as int), size(qs)) = qs"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"), min(col("anchor")).as("first_pos"))
  }

  /** Candidate-row ceiling for the broadcast verification path: below
    * it the candidate set (~40 B/row plus the phrase arrays) fits a
    * driver-built broadcast comfortably; above it (a stopword-anchored
    * query flood) the verify join degrades to a doc_id shuffle. */
  private val MaxBroadcastCandidates = 2000000L
}
