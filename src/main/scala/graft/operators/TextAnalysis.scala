package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType, StructField, StructType}
import graft.operators.CheckpointScope.Scoped

/**
 * Text-analysis operators for LLM-data pipelines over a `(doc_id, text)`
 * relation: normalization, token/quality statistics, heuristic language
 * identification, and document fingerprinting.
 *
 * Everything is built from codegen'd builtin expressions (no UDFs) and
 * is embarrassingly parallel — per-row projections only, no shuffle —
 * so it scales linearly to 100 TB document stores.
 *
 * Determinism policy: all derived metrics are integers (counts,
 * integer-scaled ratios) so the DuckDB oracle comparison is bit-exact.
 */
object TextAnalysis {

  /** Canonical text form: lowercased, trimmed. */
  def normalized(text: Column): Column = lower(trim(text))

  /**
   * Ensure enough partitions for the heavy per-row expansion that
   * follows (shingling, hashing). At scale the file scan's splits
   * already provide parallelism and this is a NO-OP; a small or
   * single-file input (one parquet row group cannot split) would
   * otherwise serialize the whole corpus's expansion onto one core.
   * When it fires it shuffles RAW doc rows — strictly cheaper than the
   * corpus-wide exploded-shingle exchange this module deliberately
   * avoids (every token/shingle is several times the source bytes).
   */
  private[operators] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(2, target / 2)) df
    else df.repartition(target)
  }

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalized(text), "\\s+")

  /**
   * Explode array column `arr` into one row per DISTINCT element with
   * its within-array occurrence count: `(carry…, valueName, tf)`. Cost
   * is O(n log n) per row — sort a copy, find run starts, emit one
   * struct per run — replacing the O(distinct·n) idiom
   * `transform(array_distinct(a), v -> size(filter(a, x -> x = v)))`,
   * whose worst case (distinct ≈ n, true for bigrams over normal text)
   * is quadratic in document length.
   *
   * Layout notes: the sorted copy and the run-start index array are
   * separate multiply-referenced aliases, so CollapseProject keeps each
   * evaluated once per row; the run-start predicate uses
   * `greatest(i-1, 0)` and the run-length `if` guards the `st[j+1]`
   * access, so no index expression can fall outside the array under
   * ANSI evaluation. PRECONDITION: `arr` is non-empty on every row
   * (`sequence(0, -1)` counts downward) — every caller's tokenizer
   * guarantees ≥ 1 element (`split` never returns an empty array).
   */
  private[operators] def tfExplode(df: DataFrame, arr: String,
                                   carry: Seq[String], valueName: String): DataFrame = {
    val c = carry.map(col)
    df.withColumn("__ss", expr(s"array_sort($arr)"))
      .withColumn("__st", expr(
        "filter(sequence(0, size(__ss)-1), i -> i = 0 or __ss[i] != __ss[greatest(i-1, 0)])"))
      .select(c :+ explode(expr(
        s"""transform(sequence(0, size(__st)-1),
            j -> struct(__ss[__st[j]] as $valueName,
                        cast(if(j = size(__st)-1, size(__ss), __st[j+1]) - __st[j] as bigint) as tf))""")).as("__p"): _*)
      .select(c :+ col(s"__p.$valueName").as(valueName) :+ col("__p.tf").as("tf"): _*)
  }

  /**
   * Per-document statistics + quality score:
   * token count, distinct-token count, normalized char length,
   * punctuation count, a BPE-flavored subword estimate (`ceil(chars/4)` —
   * the common ~4-chars-per-token rule of thumb), and
   * `quality_e3` = lexical diversity (distinct/total tokens) ×1000 —
   * a standard crude quality signal (near-0 for degenerate repetition).
   */
  def stats(df: DataFrame): DataFrame =
    df.select(col("doc_id"), normalized(col("text")).as("norm"))
      .withColumn("ws", split(col("norm"), "\\s+"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        size(regexp_extract_all(col("norm"), lit("[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("n_punct"),
        expr("cast(div(length(norm) + 3, 4) as bigint)").as("bpe_est"),
        expr("cast(div(cast(size(array_distinct(ws)) as bigint) * 1000, size(ws)) as bigint)")
          .as("quality_e3"))

  /** Cavnar–Trenkle profile size (ranks 1..40; also the out-of-place
    * penalty for grams absent from a language profile). */
  val LangProfileSize = 40
  /** Number of top document grams compared against each profile. */
  val LangDocTopK = 30

  /**
   * Per-language reference samples for the Cavnar–Trenkle profiles:
   * the language's most common function words (standard public
   * stopword inventories), letters and single spaces only so the
   * derived grams embed safely as plan/SQL literals. `ru` exercises a
   * non-Latin (Cyrillic) script end to end.
   */
  private[operators] val langSamples: Seq[(String, String)] = Seq(
    "de" -> ("der die das und ist nicht ein eine mit von zu auf dem den im er sie es wir ihr sind war haben werden " +
      "auch als bei nach aber aus durch wenn nur noch wie alle schon mehr sehr kann muss dann unter gegen hier"),
    "en" -> ("the of and to in is was he for it with as his on be at by had not are but from or have an they which " +
      "one you were all her she there would their we him been has when who will more no if out so said what"),
    "es" -> ("de la que el en y a los del se las por un para con no una su al lo como mas pero sus le ya o este si " +
      "porque esta entre cuando muy sin sobre tambien me hasta hay donde quien desde todo nos durante"),
    "fr" -> ("de la et le les des en un du une que est pour qui dans a par plus pas au sur ne se ce il sont son avec " +
      "comme mais ou nous tout vous leur bien sans peut cette ses dont aussi elle fait deux encore"),
    "it" -> ("di e il la che in a per un non sono con si da come lo anche le dei piu nel alla della suo gli una dal " +
      "ma io questo aveva lui tutto molto era quando loro ancora sua fatto essere fare due anni"),
    "ru" -> ("и в не на я быть он с что а по это она этот к но они мы как из у который то за свой весь год от так о " +
      "для ты же все тот мочь вы человек такой его только или еще бы себя один уже"),
    // unsegmented script: repetition encodes the character frequency
    // rank (the profile builder counts occurrences), so the top grams
    // are the most common hanzi — which is what matches running
    // (space-free) Chinese text
    "zh" -> ("的的的的的的 一一一一一 是是是是 不不不不 了了了 人人人 我我我 在在在 有有有 他他 这这 中中 大大 " +
      "来来 上上 国国 个个 到到 说说 们们 为为 子子 和和 你你 地地 出出 道道 也也 时时 年年 得 就 那 要 下 " +
      "以 生 会 自 着 去 之 过 家 学 对 可 她 里 后 小"))

  /**
   * The Cavnar–Trenkle rank profile of a sample: count every 1..3-gram
   * of the space-padded, whitespace-collapsed, lowercased sample, rank
   * by (count desc, gram asc), keep the top [[LangProfileSize]]. Pure
   * driver-side Scala over BMP text (UTF-16 units == codepoints there),
   * shared verbatim by the operator, the SQL-oracle generator, and the
   * specs — rank literals, not a cross-engine sort.
   */
  private[graft] def langProfileOf(sample: String): Seq[(String, Int)] = {
    val clean = " " + sample.trim.toLowerCase.replaceAll("\\s+", " ") + " "
    val grams = for {
      n <- 1 to 3
      i <- 0 to clean.length - n
    } yield clean.substring(i, i + n)
    grams.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (g, c) => (-c, g) }
      .take(LangProfileSize)
      .zipWithIndex.map { case ((g, _), i) => (g, i + 1) }
  }

  private[graft] def langProfiles: Seq[(String, Seq[(String, Int)])] =
    langSamples.map { case (l, s) => l -> langProfileOf(s) }

  /**
   * N-gram language identification (Cavnar & Trenkle 1994, "N-Gram-
   * Based Text Categorization"): rank the document's 1..3-gram
   * frequencies, compare the top [[LangDocTopK]] against each
   * language's [[LangProfileSize]]-gram rank profile by out-of-place
   * distance (Σ |doc rank − profile rank|, absent grams costing the
   * full profile size), and pick the minimum-distance language
   * (lexicographic tie-break).
   *
   * Spark shape: ZERO SHUFFLE. The profiles are PLAN LITERALS
   * (per-language `map(gram → rank)` built from [[langSamples]] with
   * Column literals), and the document's gram ranking never leaves its
   * row: the 1..3-gram array is sorted, run-length counted, and the
   * top [[LangDocTopK]] `(count desc, gram asc)` grams picked by one
   * struct sort — all higher-order functions in a single projection
   * (the [[tfExplode]] sort-and-find-runs trade: O(n log n) per row
   * instead of a corpus-scale `(doc_id, gram)` exchange, which
   * measured 91 s at the 1 M-doc probe vs ~14 s for this shape). The
   * distance evaluation against every profile is a second projection —
   * no join against a profile table, no per-language pass. The
   * driver's synthetic corpus shares one English-ish vocabulary across
   * its `lang` labels, so the gate (correctly) reports what the TEXT
   * looks like; the multilingual spec classifies real de/en/es/fr/it/ru
   * samples.
   */
  def langId(df: DataFrame): DataFrame = {
    val clean = concat(lit(" "),
      regexp_replace(normalized(col("text")), "\\s+", " "), lit(" "))
    // n = 1..3 grams; the length guard keeps sequence() ascending on
    // degenerate short strings
    val gramsExpr = expr(
      """flatten(transform(sequence(1, 3), n ->
           case when length(c) >= n
             then transform(sequence(1, length(c) - n + 1), i -> substr(c, i, n))
             else cast(array() as array<string>) end))""")
    // within-row ranking: sort grams, find run starts, negate run
    // lengths into structs whose ascending sort IS (count desc, gram
    // asc), slice the top K
    val ranked = spread(df).select(col("doc_id"), clean.as("c"))
      .select(col("doc_id"), array_sort(gramsExpr).as("sg"))
      .withColumn("rs", expr(
        "filter(sequence(0, size(sg) - 1), i -> i = 0 or sg[i] != sg[i-1])"))
      .withColumn("re", expr(
        "concat(slice(rs, 2, size(rs) - 1), array(size(sg)))"))
      .select(col("doc_id"), expr(
        s"""transform(
              slice(array_sort(zip_with(rs, re,
                     (s, e) -> struct(s - e as nc, element_at(sg, s + 1) as g))),
                1, $LangDocTopK),
              t -> t.g)""").as("gs"))
    val dists = langProfiles.map { case (lang, prof) =>
      val profMap = map(prof.flatMap { case (g, r) =>
        Seq(lit(g), lit(r)) }: _*)
      struct(
        aggregate(
          zip_with(col("gs"), sequence(lit(1), size(col("gs"))),
            (g, i) => coalesce(abs(i - try_element_at(profMap, g)),
              lit(LangProfileSize))),
          lit(0), (acc, x) => acc + x).as("dist"),
        lit(lang).as("lang"))
    }
    // rejection: when even the best profile misses ≥ 90% of the
    // maximum possible distance (every gram absent costs
    // LangProfileSize), the text is outside all profiled languages —
    // report `unknown` rather than the lexicographic tie winner
    val best = least(dists: _*)
    ranked.select(col("doc_id"),
      when(best.getField("dist") * 10 >=
             size(col("gs")) * LangProfileSize * 9, "unknown")
        .otherwise(best.getField("lang")).as("lang_pred"))
  }

  /** Whitespace-insensitive content fingerprint (whole-document):
    * md5 of the whitespace-collapsed normalized text. For the
    * partial-overlap-robust local fingerprints, see
    * [[winnowFingerprints]]. */
  def fingerprint(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      md5(regexp_replace(normalized(col("text")), "\\s+", " ")).as("fp"))

  /** Subword-piece pre-tokenization count — the BPE-flavored token
    * estimate real pipelines budget with (a whitespace token like
    * "state-of-the-art" is several model tokens). Pieces follow the
    * GPT-2-style pre-tokenizer classes on normalized text: an optional
    * leading space then a letter run, a digit run, or a punctuation
    * run. The alternation's branches are disjoint on their first
    * non-space character, so leftmost-first (java.util.regex) and
    * RE2 (DuckDB) agree on every match — the count is engine-exact,
    * unlike a float chars/4 heuristic. Pure per-row regexp, no shuffle.
    * Returns `(doc_id, n_pieces, n_distinct_pieces)`. */
  def tokenPieces(df: DataFrame): DataFrame = {
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"
    val pieces = regexp_extract_all(normalized(col("text")), lit(pat), lit(0))
    df.select(col("doc_id"),
      size(pieces).cast("long").as("n_pieces"),
      size(array_distinct(pieces)).cast("long").as("n_distinct_pieces"))
  }

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS scheme —
   * the rolling-hash local fingerprint): hash every word-k-gram, slide
   * a window of `w` consecutive gram hashes, keep each window's
   * MINIMUM, emit the distinct survivors as `(doc_id, fp)` rows. Two
   * documents sharing any sufficiently long passage are guaranteed to
   * share fingerprints (any k+w-1-token overlap contains a full
   * window), while only ~1/w of grams survive — the index that powers
   * partial-overlap detection (quotation mining, license/boilerplate
   * spotting) at a fraction of the full shingle index's size.
   *
   * All hashes are md5-derived 60-bit integers, so the DuckDB oracle
   * reproduces the selection bit-for-bit. Per-row array work + one
   * explode, shuffle-free — same scale shape as [[shingles]], with the
   * same distinct-before-explode trade.
   */
  def winnowFingerprints(df: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val gram = (0 until k).map(j => s"ws[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    val gramHash =
      s"cast(conv(substr(md5(concat('wn:', $gram)), 1, 15), 16, 10) as bigint)"
    spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= k + w - 1)
      .select(col("doc_id"),
        expr(s"transform(sequence(0, size(ws)-$k), i -> $gramHash)").as("gs"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, size(gs)-${w - 1}), j -> array_min(slice(gs, j, $w))))"))
        .as("fp"))
  }

  /**
   * Fixed-size token-window chunking with overlap — the standard
   * training-data preprocessing step: windows of `window` tokens every
   * `stride` tokens (overlap = window - stride). Pure per-row
   * higher-order-function work, shuffle-free, one output row per chunk:
   * `(doc_id, chunk_idx, chunk_text, n_tokens)`.
   */
  def chunk(df: DataFrame, window: Int = 50, stride: Int = 40): DataFrame =
    df.select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(ws) - 1, $stride),
            s -> struct(cast(div(s, $stride) as int) as idx,
                        slice(ws, s + 1, $window) as toks))""")).as("ch"))
      .select(col("doc_id"), col("ch.idx").as("chunk_idx"),
        array_join(col("ch.toks"), " ").as("chunk_text"),
        size(col("ch.toks")).cast("long").as("n_tokens"))

  /**
   * Per-document top-k distinctive terms by an integer TF-IDF surrogate:
   * `score_e6 = tf * 10^6 / df` (truncating integer division — monotone
   * in the tf/df ratio, exact in every engine; no float log in the gate
   * path). Returns `(doc_id, term, tf, df, score_e6, rank)`, rank 1..k
   * by (score desc, term asc) — the keyword-extraction step of corpus
   * indexing/labeling pipelines.
   *
   * Scale shape, in order of appearance:
   *  - term frequencies are computed PER ROW ([[tfExplode]] —
   *    O(n log n) sort + run-length scan per document), so the
   *    corpus-wide (doc, term) exchange a groupBy would need never
   *    happens;
   *  - document frequency is one map-side-combinable aggregate — the
   *    exchange carries each partition's distinct terms, vocabulary
   *    scale, not corpus scale;
   *  - the df table joins back by BROADCAST (a word vocabulary is
   *    millions of rows — megabytes — even at corpus sizes where
   *    documents are petabytes; if a tokenizer ever produced a
   *    non-broadcastable vocabulary, drop the hint and let AQE pick a
   *    skew-aware shuffle join);
   *  - per-document top-k is the bounded [[graft.operators.Curation
   *    .sourceCap]]-style `CollectTopK` aggregate — each partition
   *    reduces a document to ≤ k candidate structs BEFORE the one
   *    shuffle on doc_id; no per-document sort, no window. The struct
   *    sorts by (-score, term), so "largest score first, term
   *    tie-break" is the plain ascending struct order.
   */
  def tfidfTopK(df: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val pairs = tfExplode(
      spread(df).select(col("doc_id"), tokens(col("text")).as("ws")),
      "ws", Seq("doc_id"), "term")
    val dfreq = pairs.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = pairs.join(broadcast(dfreq), "term")
      .withColumn("score_e6", expr("div(tf * cast(1000000 as bigint), df)"))
    val topN = Bridge.collectTopK(
      Bridge.expression(struct((-col("score_e6")).as("ns"), col("term").as("term"),
        col("tf").as("tf"), col("df").as("df"))), k, reverse = true)
    scored.groupBy("doc_id").agg(sort_array(topN).as("ts"))
      .select(col("doc_id"), posexplode(col("ts")))
      .select(col("doc_id"), col("col.term").as("term"), col("col.tf").as("tf"),
        col("col.df").as("df"), (-col("col.ns")).as("score_e6"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  // BM25 operating point (Robertson-Spärck Jones), exact rationals in
  // e4 fixed point — single source of truth for engine AND oracle:
  // k1 = 1.2, b = 0.75, k1+1 = 2.2
  val Bm25K1E4 = 12000L
  val Bm25K1p1E4 = 22000L
  val Bm25BE4 = 7500L

  /**
   * BM25 top-k terms per document — the retrieval scorer [[tfidfTopK]]
   * approximates: saturated term frequency (diminishing returns past
   * the first occurrences) and document-length normalization, all in
   * exact integer arithmetic:
   *
   *  - `idf2 = length(bin(N // df)) − 1` = `floor(log2(N/df))` — the
   *    log2-QUANTIZED idf, computed without floating point through the
   *    binary-representation length (`bin` exists in both engines). A
   *    term in every document gets idf2 = 0 and drops out — the
   *    stopword-suppression behaviour the raw tf/df ratio lacks;
   *  - `score_e6 = idf2 · (tf·(k1+1)·1e6) // (tf·1e4 + (k1·norm_e4)//1e4)`
   *    with `norm_e4 = (1−b)·1e4 + (b·1e4·dl) // avgdl` — the classic
   *    saturation/normalization denominator in e4 fixed point;
   *    `avgdl = Σdl // N` (truncated corpus mean). Max intermediate
   *    `tf·22000·1e6` stays inside a Long for documents to ~4×10^8
   *    tokens.
   *
   * Scale shape: identical to [[tfidfTopK]] — per-row tf explode, a
   * vocabulary-scale df aggregate broadcast back, one corpus-scale
   * (2-number) stats broadcast, bounded CollectTopK per document.
   */
  /** The BM25 corpus projection both rankers share and the postings
    * store ([[PostingsStore]]) materializes: the per-(term, doc)
    * posting rows `(term, doc_id, dl, tf)` plus the 1-row corpus-stats
    * PARTIAL `(n_docs, dl_sum)`. The partial is MERGEABLE — streamed
    * per-batch partials sum to exactly the batch build's numbers, and
    * [[bm25Stats]] derives `avgdl` with ONE truncating division over
    * the summed totals, so online and offline stores serve identical
    * scores. Tokenization runs exactly once here — a served ranker
    * consumes the SAME rows from parquet instead. */
  private[operators] def bm25Corpus(df: DataFrame): (DataFrame, DataFrame) =
    (bm25PairsFrom(bm25Docs(df)), bm25PartialFrom(bm25Docs(df)))

  /** [[bm25Corpus]] split at the tokenized-docs stage. The partial MUST
    * come from docs, never from pairs: a zero-token document has no
    * pairs row but still counts in `n_docs` (r19 ADVICE). NOTE: a
    * caller-side docs cache covering both derivations was implemented
    * in r20 and measured SLOWER than letting the partial re-tokenize
    * (+0.3–0.9 s/key across the store build/append keys — caching the
    * full token arrays costs more than the scalar rollup pass it
    * saves); the store paths persist only the pairs. */
  private[operators] def bm25Docs(df: DataFrame): DataFrame =
    spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))

  private[operators] def bm25PartialFrom(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("dl_sum"))

  private[operators] def bm25PairsFrom(docs: DataFrame): DataFrame =
    tfExplode(docs, "ws", Seq("doc_id", "dl"), "term")

  /** Fold corpus-stats partials into the `(n_docs, avgdl)` row the
    * scorers consume — with its driver-side twin [[bm25StatsOf]], the
    * only place the truncating avgdl division happens (so N merged
    * partials replay the one-shot number). An empty corpus (`n_docs`
    * 0, e.g. every document taken down) has a null `avgdl`, as a corpus
    * with no partial rows does, so every score is null and a serve
    * returns no rows. */
  private[operators] def bm25Stats(partials: DataFrame): DataFrame =
    partials.agg(sum("n_docs").as("n_docs"),
      expr("div(sum(dl_sum), nullif(sum(n_docs), 0))").as("avgdl"))

  /** [[bm25Stats]]' row from `(n_docs, dl_sum)` partial rows already on
    * the driver, with no query planned: summed null-skipping like
    * Spark's `sum`, and `avgdl` the same truncating `div`, null when
    * `n_docs` is null or 0. */
  private[operators] def bm25StatsOf(partials: Seq[Row]): Row = {
    def total(i: Int): Option[Long] = {
      val xs = partials.flatMap(r => Option(r.getAs[java.lang.Long](i)))
      Option.when(xs.nonEmpty)(xs.map(_.longValue).sum)
    }
    val (nDocs, dlSum) = (total(0), total(1))
    val avgdl = for (n <- nDocs if n != 0; dl <- dlSum) yield dl / n
    Row(nDocs.map(Long.box).orNull, avgdl.map(Long.box).orNull)
  }

  def bm25TopK(df: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val (pairs, partial) = bm25Corpus(df)
    val stats = bm25Stats(partial)
    val dfreq = pairs.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = pairs.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score_e6", expr(
        s"""(length(bin(div(n_docs, df))) - 1) *
            div(tf * $Bm25K1p1E4 * 1000000,
                tf * 10000 + div($Bm25K1E4 * ((10000 - $Bm25BE4) + div($Bm25BE4 * dl, avgdl)), 10000))"""))
    val topN = Bridge.collectTopK(
      Bridge.expression(struct((-col("score_e6")).as("ns"), col("term").as("term"),
        col("tf").as("tf"), col("df").as("df"))), k, reverse = true)
    scored.groupBy("doc_id").agg(sort_array(topN).as("ts"))
      .select(col("doc_id"), posexplode(col("ts")))
      .select(col("doc_id"), col("col.term").as("term"), col("col.tf").as("tf"),
        col("col.df").as("df"), (-col("col.ns")).as("score_e6"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /**
   * Document-retrieval BM25 — the user-facing search/eval-decontam
   * companion of [[bm25TopK]] (which ranks terms WITHIN a document):
   * for each query in `queries` (`query_id`, `qtext`), the top-k
   * documents by summed per-term BM25 score, exact in the same e4/e6
   * fixed point so the DuckDB oracle is a direct replay. A document
   * scores Σ over the query's DISTINCT terms of
   * `idf2 · saturated_tf_norm` ([[bm25TopK]]'s per-(term, doc) score);
   * zero-score contributions (terms in every document, idf2 = 0) are
   * dropped BEFORE aggregation, so a document matching only stopwords
   * is absent rather than ranked at zero — and their corpus-scale
   * posting lists never enter the join. Ties break by ascending
   * `doc_id` (pinned in both engines).
   *
   * Returns `(query_id, doc_id, n_terms, score_e6, rank)` with
   * `n_terms` = how many query terms contributed.
   *
   * Scale shape: the corpus is NEVER shuffled on the default path —
   * the query table is query-log-scale: collected once, its distinct
   * terms prefilter the postings and ride into the broadcast
   * query-term-scale df table as a `term → query_ids` literal (a batch
   * above [[InlineQueryBytes]] broadcasts as rows instead), and the
   * 2-number corpus stats are plan literals. The only corpus-side
   * exchanges are the df count of the query terms and the
   * `(query_id, doc_id)` partial-aggregated sum,
   * bounded by the surviving posting lists of the query terms, then a
   * bounded CollectTopK per query (k·partitions rows to the driver
   * merge). A store serve whose kept postings row groups fit the read
   * budget has neither: its scans run as one task
   * ([[graft.plans.SmallStoreReads]]), leaving the df broadcast
   * and the result as its two jobs. For a query table too large to
   * broadcast (batch eval decontamination with tens of millions of
   * queries), pass
   * `broadcastQueries = false`: the term join becomes a shuffle on the
   * term key — both sides already idf-filtered — with identical
   * results (spec-pinned).
   */
  def bm25DocTopK(queries: DataFrame, df: DataFrame, k: Int = 10,
                  broadcastQueries: Boolean = true): DataFrame = {
    val (pairs, partial) = bm25Corpus(df)
    bm25DocTopKFrom(queries, pairs, bm25Stats(partial), k, broadcastQueries)
  }

  /** [[bm25DocTopKFrom]] with its stats row collected from `stats`. */
  private[operators] def bm25DocTopKFrom(queries: DataFrame, pairs: DataFrame,
      stats: DataFrame, k: Int, broadcastQueries: Boolean): DataFrame =
    bm25DocTopKFrom(queries, pairs, stats.collect()(0), k, broadcastQueries)

  /** Above this many bytes of `(term, query_id)` entries a query batch
    * is not inlined as a plan literal — every task would carry it — and
    * the entries broadcast instead. */
  private[operators] val InlineQueryBytes = 64L << 10

  /** [[bm25DocTopK]] over an ALREADY-MATERIALIZED corpus projection —
    * the serve path of [[PostingsStore]]: `pairs`/`stats` come from
    * parquet instead of a tokenize pass, everything downstream is the
    * identical scoring plan (so store-served results are bit-equal to
    * from-scratch by construction — gated end-to-end anyway by
    * `postings_equiv`). `stats` is the `(n_docs, avgdl)` row, two longs;
    * by default the query batch is collected when the serve is built,
    * and a local one costs no job. */
  private[operators] def bm25DocTopKFrom(queries: DataFrame, pairs: DataFrame,
      stats: Row, k: Int, broadcastQueries: Boolean): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    // the corpus stats as literals: no stats join, no broadcast
    val Seq(nDocs, avgdl) = (0 to 1).map(i => Bridge.column(Literal.create(stats.get(i), LongType)))
    // positive-idf vocabulary joins FIRST: stopword posting lists (the
    // corpus-scale ones) drop map-side, so neither the broadcast-hash
    // probe nor the non-broadcast term shuffle ever carries them
    def dfreqPos(p: DataFrame): DataFrame = p.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"), nDocs.as("n_docs"), avgdl.as("avgdl"))
      .filter(expr("div(n_docs, df) >= 2"))
    val q = queries.select(col("query_id"), array_distinct(tokens(col("qtext"))).as("terms"))
    // the query batch, collected ONCE: a (query_id, term) entry per
    // distinct term of each query, duplicate ids kept (a projection over
    // a local relation folds at optimization: no job)
    val entries = Option.when(broadcastQueries)(q.collect().toSeq.flatMap(r =>
      Option(r.getSeq[String](1)).toSeq.flatten.map(t => Row(r.get(0), t))))
    val matched = entries.filter(_.map(_.getString(1).length + 8L).sum <= InlineQueryBytes) match {
      case Some(es) =>
        // the query terms prefilter the postings: df per term is
        // invariant under restricting to a term subset, and on a
        // term-range-clustered store the pushed IN skips whole files;
        // the batch collect yields the terms, so it costs no collect of
        // its own. `term → query_ids` is one map literal exploded over
        // the (query-term-sized) df side instead of a broadcast join —
        // explode_outer, because a generator's inferred not-null filter
        // would be pushed below the df aggregate onto every posting
        // row; every df term is a key, so no null row arises
        val byTerm = es.groupBy(_.getString(1)).map { case (t, rs) => t -> rs.map(_.get(0)) }
        val ids = Bridge.column(Literal.create(byTerm, MapType(StringType,
          ArrayType(q.schema(0).dataType, containsNull = true), valueContainsNull = false)))
        val p = pairs.filter(col("term").isInCollection(byTerm.keys))
        p.join(broadcast(dfreqPos(p).withColumn("query_id", explode_outer(ids(col("term"))))), "term")
      case None =>
        // above the budget, the same collected rows broadcast; without
        // `broadcastQueries` the query side is never collected
        val qterms = entries.fold(q.select(col("query_id"), explode(col("terms")).as("term")))(es =>
          broadcast(queries.sparkSession.createDataFrame(es.asJava,
            StructType(Seq(q.schema(0), StructField("term", StringType))))))
        pairs.join(broadcast(dfreqPos(pairs)), "term").join(qterms, "term")
    }
    val scored = matched
      .withColumn("score_e6", expr(
        s"""(length(bin(div(n_docs, df))) - 1) *
            div(tf * $Bm25K1p1E4 * 1000000,
                tf * 10000 + div($Bm25K1E4 * ((10000 - $Bm25BE4) + div($Bm25BE4 * dl, avgdl)), 10000))"""))
      .filter(col("score_e6") > 0)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("score_e6").as("score_e6"))
    val topN = Bridge.collectTopK(
      Bridge.expression(struct((-col("score_e6")).as("ns"), col("doc_id").as("doc_id"),
        col("n_terms").as("n_terms"))), k, reverse = true)
    scored.groupBy("query_id").agg(sort_array(topN).as("ds"))
      .select(col("query_id"), posexplode(col("ds")))
      .select(col("query_id"), col("col.doc_id").as("doc_id"),
        col("col.n_terms").as("n_terms"), (-col("col.ns")).as("score_e6"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /**
   * Passage-overlap pairs over the winnowing index: documents sharing
   * at least `minShared` winnow fingerprints ([[winnowFingerprints]]) —
   * quotation/boilerplate mining, the partial-overlap relation n-gram
   * Jaccard misses when the shared passage is a small fraction of
   * either document. Inverted-index equality join on the fingerprint
   * with the same `maxDf` skew cap as [[Dedup.jaccardPairs]]:
   * boilerplate fingerprints shared by more than `maxDf` documents are
   * excluded from the join (they would contribute O(df²) rows), so join
   * work is bounded by maxDf² per capped fingerprint — and the index
   * itself is ~1/w the size of a full shingle index.
   */
  def winnowPairs(df: DataFrame, k: Int = 5, w: Int = 4,
                  minShared: Int = 3, maxDf: Int = 100): DataFrame = {
    val fps = winnowFingerprints(df, k, w)
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf).select("fp")
    val shared = fps.join(keep, "fp")
    shared.as("a").join(shared.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The stopword markers of the Gopher rules ("must contain ≥ 2 of
    * ..."), shared verbatim with the DuckDB oracle. */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher-style document-quality rule battery (Rae et al. 2021's
   * repetition-free content filters, the de-facto standard pretraining
   * gate set), computed in ONE tokenization pass as exact integers:
   *
   *  - `n_words` — word count (rule: 50 ≤ n ≤ 100 000);
   *  - `mean_wordlen_e3` — mean word length ×1000 (rule: 3–10 chars);
   *  - `alpha_e3` — fraction of words containing an alphabetic
   *    character ×1000 (rule: ≥ 800);
   *  - `symbol_e3` — hash/ellipsis symbol-to-word ratio ×1000
   *    (rule: ≤ 100);
   *  - `n_stopwords` — occurrences of the [[GopherStopWords]] markers
   *    (rule: ≥ 2);
   *  - `dupline_e3` — duplicate-line fraction ×1000 (rule: ≤ 300),
   *    lines = `segLen`-token segments (the [[graft.operators.Dedup
   *    .segments]] stand-in for newline splitting on fixtures without
   *    line structure — a real corpus swaps in `split(text, '\n')` and
   *    the rule is unchanged); a "duplicate" occurrence is any beyond a
   *    segment's first, i.e. `(n_segs - n_distinct_segs) / n_segs`;
   *  - `bullet_e3` — fraction of lines starting with a bullet marker
   *    (`-`, `*`, `•`) ×1000 (rule: ≤ 900);
   *  - `ellipsis_e3` — fraction of lines ending with `...` ×1000
   *    (rule: ≤ 300);
   *  - `pass` — 1 iff every rule holds.
   *
   * Pure per-row array arithmetic (the segment view is derived from the
   * SAME tokens array — still one tokenization pass), no shuffle,
   * trailing `observe` barrier so a consumer's `pass = 1` filter
   * evaluates on the materialized signals instead of re-inlining the
   * tokenizer per lambda element access (see [[graft.operators.Curation
   * .contentSignals]] for the O(tokens²) trap this prevents).
   */
  def gopherQuality(df: DataFrame,
                    minWords: Int = 50, maxWords: Int = 100000,
                    segLen: Int = 5): DataFrame = {
    val stopArr = GopherStopWords.map(w => s"'$w'").mkString("array(", ", ", ")")
    spread(df)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      // segs is referenced by three rule expressions below, so
      // CollapseProject keeps it a separate projection (computed once)
      .withColumn("segs", expr(
        s"""transform(sequence(0, cast(div(size(ws) + ${segLen - 1}, $segLen) as int) - 1),
            i -> concat_ws(' ', slice(ws, i * $segLen + 1, $segLen)))"""))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("""cast(div(aggregate(ws, cast(0 as bigint), (acc, x) -> acc + length(x)) * 1000,
                        size(ws)) as bigint)""").as("mean_wordlen_e3"),
        expr("""cast(div(cast(size(filter(ws, x -> x rlike '[a-z]')) as bigint) * 1000,
                        size(ws)) as bigint)""").as("alpha_e3"),
        expr("""cast(div(cast(size(filter(ws, x -> contains(x, '#') or contains(x, '...'))) as bigint) * 1000,
                        size(ws)) as bigint)""").as("symbol_e3"),
        expr(s"cast(size(filter(ws, x -> array_contains($stopArr, x))) as bigint)")
          .as("n_stopwords"),
        expr("""cast(div(cast(size(segs) - size(array_distinct(segs)) as bigint) * 1000,
                        size(segs)) as bigint)""").as("dupline_e3"),
        expr("""cast(div(cast(size(filter(segs, s -> startswith(s, '-') or startswith(s, '*')
                          or startswith(s, '•'))) as bigint) * 1000,
                        size(segs)) as bigint)""").as("bullet_e3"),
        expr("""cast(div(cast(size(filter(segs, s -> endswith(s, '...'))) as bigint) * 1000,
                        size(segs)) as bigint)""").as("ellipsis_e3"))
      .withColumn("pass",
        when(col("n_words").between(minWords, maxWords) &&
          col("mean_wordlen_e3").between(3000, 10000) &&
          col("alpha_e3") >= 800 && col("symbol_e3") <= 100 &&
          col("n_stopwords") >= 2 && col("dupline_e3") <= 300 &&
          col("bullet_e3") <= 900 && col("ellipsis_e3") <= 300, 1).otherwise(0))
      .observe("gopher_quality", count(lit(1)).as("n_docs"))
  }

  /**
   * Bigram-language-model document score — the integer-exact stand-in
   * for CCNet-style perplexity filtering (Wenzek et al. 2020): score a
   * document by how predictable its bigrams are under the corpus's own
   * bigram LM. For each bigram `w1 w2`,
   * `prob_e6 = 10^6 * count(w1 w2) / count(w1 ·)` (truncating integer
   * division — monotone in the conditional probability, exact in every
   * engine); a document's `lm_score_e6` is the tf-weighted mean of its
   * bigrams' `prob_e6` (again truncating). High = boilerplate-predictable,
   * low = unusual/noisy — the two tails a perplexity gate cuts.
   *
   * Scale shape (mirrors [[tfidfTopK]]):
   *  - per-document bigram term frequencies are computed PER ROW
   *    ([[tfExplode]] — O(n log n), which matters here: distinct
   *    bigrams ≈ n for normal text, so the filter-count idiom would be
   *    quadratic per document), and the corpus-scale (doc, bigram)
   *    occurrence exchange never happens;
   *  - the bigram count table is one map-side-combinable aggregate
   *    (bigram-vocabulary scale), and the prefix-count table folds over
   *    it (unigram scale — genuinely broadcastable, hinted);
   *  - the bigram probability table is NOT broadcast-hinted: distinct
   *    bigram TYPES grow near-linearly with corpus size (10⁹–10¹⁰ rows,
   *    tens of GB, at the 100 TB design point), so the join back on `b`
   *    is a plain shuffle equality join — AQE still broadcasts it when
   *    it actually fits;
   *  - the final per-document mean is a map-side-combinable aggregate
   *    whose exchange carries one row per document.
   * Overflow headroom: `c2 * 10^6` stays under 2^63 until a single
   * bigram occurs ~9·10^12 times — beyond a 100 TB corpus's hottest
   * bigram ("of the" in ~10^13 English tokens is the order where a
   * `1e3` scale or a 128-bit decimal takes over; documented, not hit).
   *
   * Returns `(doc_id, n_bigrams, lm_score_e6)`; documents with fewer
   * than two tokens have no bigram and are excluded.
   */
  def lmScore(df: DataFrame): DataFrame = {
    val pairs = tfExplode(
      spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"),
          expr("transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1]))").as("bs")),
      "bs", Seq("doc_id"), "b")
    val c2 = pairs.groupBy("b").agg(sum("tf").as("c2"))
    val c1 = c2.groupBy(expr("split(b, ' ')[0]").as("w1")).agg(sum("c2").as("c1"))
    val probs = c2.join(broadcast(c1), expr("split(b, ' ')[0]") === col("w1"))
      .select(col("b"), expr("div(c2 * cast(1000000 as bigint), c1)").as("prob_e6"))
    // no broadcast hint: the bigram table is corpus-vocabulary scale
    // (see scale-shape note above); AQE picks broadcast when it fits
    pairs.join(probs, "b")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        expr("cast(div(sum(tf * prob_e6), sum(tf)) as bigint)").as("lm_score_e6"))
  }

  /**
   * DSIR-flavored importance weights (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling"): score every raw
   * document by how much its hashed-n-gram feature distribution looks
   * like a TARGET domain relative to the RAW corpus. Features are
   * hashed token buckets (`buckets` of them, md5-derived so the oracle
   * reproduces the assignment bit-for-bit); the per-bucket importance
   * ratio is `ratio_e6 = 10^6 * (target_count + 1) / (raw_count + 1)`
   * (add-one smoothing keeps target-absent buckets finite and integer
   * division keeps it engine-exact); a document's `weight_e6` is the
   * tf-weighted ARITHMETIC mean ratio over its tokens — an
   * integer-exact stand-in for DSIR's sum of log-ratios (a geometric
   * mean), each per-bucket ratio monotone in its own log-ratio, but the
   * document-level aggregate need NOT preserve DSIR's document
   * ordering; aggregate a fixed-point log approximation instead if rank
   * fidelity to the paper matters. The
   * target membership predicate is the caller's (`targetPred`, applied
   * to the document's token ARRAY so the tokenizer runs once, e.g. a
   * quality gate) — resampling then takes the top weights
   * ([[graft.operators.Curation]] has the budget/sample machinery).
   *
   * Scale shape: per-document bucket term frequencies are computed PER
   * ROW (no corpus-scale occurrence exchange); the raw and target
   * bucket tables are ONE map-side-combinable aggregate each over at
   * most `buckets` rows — broadcast scale by construction, unlike a
   * word vocabulary — joined back by broadcast; the per-document mean's
   * exchange carries one row per document.
   *
   * Returns `(doc_id, n_tokens, weight_e6)` for every document with at
   * least one token.
   */
  def importanceWeights(df: DataFrame, targetPred: Column => Column,
                        buckets: Int = 1024): DataFrame = {
    val bucket =
      s"pmod(cast(conv(substr(md5(concat('iw:', t)), 1, 15), 16, 10) as bigint), $buckets)"
    val pairs = tfExplode(
      spread(df)
        .select(col("doc_id"), tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), targetPred(col("ws")).as("is_target"),
          expr(s"transform(ws, t -> $bucket)").as("fs")),
      "fs", Seq("doc_id", "is_target"), "f")
    val raw = pairs.groupBy("f").agg(sum("tf").as("raw_cnt"))
    val tgt = pairs.filter(col("is_target")).groupBy("f").agg(sum("tf").as("tgt_cnt"))
    val ratios = raw.join(tgt, Seq("f"), "left")
      .select(col("f"),
        expr("div((coalesce(tgt_cnt, cast(0 as bigint)) + 1) * cast(1000000 as bigint), raw_cnt + 1)")
          .as("ratio_e6"))
    pairs.join(broadcast(ratios), "f")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        expr("cast(div(sum(tf * ratio_e6), sum(tf)) as bigint)").as("weight_e6"))
  }

  /**
   * BPE first-merge candidate inventory — the opening step of
   * byte-pair-encoding tokenizer training (Sennrich et al. 2016): count
   * every adjacent character pair across the corpus, weighted by word
   * frequency, and rank the merge candidates. (Full BPE iterates:
   * merge the winner, recount, repeat — each round is this same
   * aggregate over a rewritten symbol table; this operator is the
   * corpus-scale primitive, exposed for the first round where all
   * symbols are single characters.)
   *
   * Scale shape: ONE corpus-scale exchange (the word-frequency groupBy,
   * map-side combinable, vocabulary-scale after combine); pair
   * extraction then runs over DISTINCT words only — a 100 TB corpus has
   * ~10⁸ distinct words regardless of token count, so the per-word
   * char-pair explode never touches corpus-scale data; the pair rollup
   * is alphabet²-bounded and the top-k is `TakeOrderedAndProject`.
   * Returns `(pair, total)`, the k heaviest candidates.
   */
  def bpeMergeCandidates(df: DataFrame, k: Int = 20): DataFrame =
    spread(df).select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w)-1), i -> concat(substr(w, i, 1), substr(w, i+1, 1)))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wc").as("total"))
      .orderBy(col("total").desc, col("pair")).limit(k)

  /**
   * FULL iterative BPE training (Sennrich et al. 2016), `rounds`
   * merges: each round counts adjacent symbol pairs over the
   * frequency-weighted vocabulary, applies the heaviest pair (greedy
   * left-to-right, non-overlapping — the textbook walk), and recounts
   * over the rewritten symbol table. Returns one row per round:
   * `(round, lhs, rhs, merged, total)`. Tie-break is total-desc then
   * (lhs, rhs) ascending — deterministic and mirrored by the oracle.
   *
   * Scale shape — the [[graft.operators.Similarity]] `ivfRefine` loop
   * shape: the LOOP is driver-bounded (`rounds` iterations, one small
   * `limit(1).collect()` each — the chosen pair, never data); the WORK
   * per round is one distributed vocabulary-scale aggregate (pair
   * counts over DISTINCT words, map-side combinable, alphabet²-bounded
   * after the rollup) plus one narrow projection rewriting the symbol
   * arrays, localCheckpointed so round N+1's plan does not replay
   * rounds 1..N. The corpus is touched exactly once (the word-frequency
   * groupBy); every later round runs over the ~10⁸-distinct-words
   * vocabulary regardless of corpus size.
   *
   * The greedy merge is a fold: append each symbol, or replace the
   * accumulator's tail when it equals `lhs` and the incoming symbol
   * equals `rhs`. The fold IS the textbook walk: a just-merged tail
   * equals `lhs+rhs`, which can never equal `lhs` (`rhs` is nonempty),
   * so a merge output never chains into a second merge at the same
   * position. Built with Column lambdas, not SQL text — symbols come
   * from corpus data and must not be string-escaped into a plan.
   */
  /**
   * The trained merge LIST for `df` — [[bpeTrain]]/[[bpeTrainBytes]]
   * collected to the driver in round order, memoized per content
   * fingerprint (trainer config in the key): a tokenizer is a
   * train-once consume-everywhere artifact, so a session's second
   * encode pass over the same corpus replays the merges without
   * re-running the training loop (the [[TableMemo]] compute-once
   * policy; un-fingerprintable in-memory inputs retrain per call).
   */
  def bpeMerges(df: DataFrame, rounds: Int = 8,
                specials: Seq[String] = Seq.empty,
                byteMode: Boolean = false): Seq[(String, String)] =
    TableMemo.value("bpeMerges", df, s"$rounds|${specials.mkString(",")}|$byteMode") {
      (if (byteMode) bpeTrainBytes(df, rounds, specials) else bpeTrain(df, rounds))
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }

  def bpeTrain(df: DataFrame, rounds: Int = 8): DataFrame =
    bpeTrainLoop(df.sparkSession,
      spread(df).select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .select(expr("filter(split(w, ''), c -> c != '')").as("syms"), col("wc")),
      rounds)

  /**
   * [[bpeTrain]] over the GPT-2-style BYTE alphabet: every word
   * decomposes into its UTF-8 bytes (two-hex-char symbols, a closed
   * 256-entry base vocabulary), so mixed-script corpora train without
   * any character ever falling outside the alphabet. Words equal to a
   * `specials` entry are excluded from the statistics entirely — a
   * reserved token contributes no pairs and can never be split or
   * merged into. Same loop, same driver-bounded scale shape.
   */
  def bpeTrainBytes(df: DataFrame, rounds: Int = 8,
                    specials: Seq[String] = Seq.empty): DataFrame =
    bpeTrainLoop(df.sparkSession,
      spread(df).select(explode(tokens(col("text"))).as("w"))
        .filter(!isSpecialCol(col("w"), specials))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .select(byteSymsCol(col("w")).as("syms"), col("wc")),
      rounds)

  private def bpeTrainLoop(spark: org.apache.spark.sql.SparkSession,
                           vocab0: DataFrame, rounds: Int): DataFrame = {
    var vocab = vocab0.scopedCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(syms)-1), i -> struct(syms[i-1] as l, syms[i] as r))"))
          .as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum("wc").as("total"))
        .orderBy(col("total").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        merges += ((r, a, b, a + b, best(0).getLong(2)))
        val prev = vocab
        vocab = vocab.select(applyMergeCol(col("syms"), a, b).as("syms"),
          col("wc")).scopedCheckpoint() // eager: prev is safe to drop now
        Dedup.unpersistCheckpointed(prev)
      }
    }
    // the result is the driver-side merge list — no plan reads the
    // final symbol table either (the ccIterate convention: ≤ 1
    // checkpointed table resident at any time, 0 after return)
    Dedup.unpersistCheckpointed(vocab)
    import spark.implicits._
    merges.toSeq.toDF("round", "lhs", "rhs", "merged", "total")
  }

  /**
   * Apply a trained BPE merge list ([[bpeTrain]]'s output order) to the
   * corpus — the TOKENIZE step that consumes the training loop's
   * artifact: every word starts as characters and replays each merge in
   * sequence (the same greedy left-to-right fold, same
   * merged-tail-never-chains argument). Returns per document
   * `(doc_id, n_words, n_pieces)` — the real token count a pipeline
   * budgets with under ITS OWN tokenizer, where [[tokenPieces]]
   * approximates a fixed external one.
   *
   * Scale shape: ZERO SHUFFLE — the merge list is driver-bounded and
   * baked into one fused codegen expression
   * ([[graft.functions.BpePieceCount]]), so encoding is a pure per-row
   * projection: one compiled O(merges · word length) int scan per word,
   * embarrassingly parallel at any corpus size. (The round-11 spelling —
   * R nested `aggregate` higher-order folds — was plan-equivalent but
   * ran interpreted, ~R boxed tree evaluations per symbol.)
   */
  /** One greedy left-to-right merge pass over a symbol array as a fold:
    * append each symbol, or replace the accumulator's tail when it
    * equals `a` and the incoming symbol equals `b` (a just-merged tail
    * can never re-match `a`, so no double merge at one position).
    * Column lambdas, never SQL text — symbols come from corpus data. */
  private def applyMergeCol(syms: Column, a: String, b: String): Column =
    org.apache.spark.sql.functions.aggregate(
      syms, array().cast("array<string>"), (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - lit(1)), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** The word's UTF-8 bytes as two-hex-char symbols (`"68"`, `"D0"`) —
    * both engines render hex uppercase, so the alphabet is
    * oracle-identical. Words are non-empty (tokens() never yields
    * `""`), so the sequence bound is always ≥ 1. */
  private def byteSymsCol(w: Column): Column = {
    val hs = hex(encode(w, "UTF-8"))
    transform(sequence(lit(1), (length(hs) / 2).cast("int")),
      i => hs.substr(i * 2 - 1, lit(2)))
  }

  /** Is `w` one of the reserved special tokens? (plan-literal OR chain —
    * special lists are tokenizer-config-sized) */
  private def isSpecialCol(w: Column, specials: Seq[String]): Column =
    specials.foldLeft(lit(false))((acc, sp) => acc || (w === lit(sp)))

  /** The fused piece counter: one compiled O(len·R) scan per word
    * ([[graft.functions.BpePieceCount]]) — value-identical to replaying
    * [[applyMergeCol]] per merge, which stays as the training-loop
    * spelling (vocabulary-scale, not corpus-scale). */
  private def pieceCount(w: Column, mergeList: Seq[(String, String)],
                         byteMode: Boolean): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BpePieceCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(w),
        mergeList, byteMode))

  def bpeEncode(df: DataFrame, mergeList: Seq[(String, String)]): DataFrame = {
    def agg(e: Column, init: Column,
            merge: (Column, Column) => Column): Column =
      org.apache.spark.sql.functions.aggregate(e, init, merge)
    spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        agg(col("ws"), lit(0),
          (acc, w) => acc + pieceCount(w, mergeList, byteMode = false))
          .cast("long").as("n_pieces"))
  }

  /**
   * [[bpeEncode]] with the byte fallback and reserved special tokens —
   * the two properties a production tokenizer needs on 100 TB of
   * uncurated text: NO character can drop (every word decomposes into
   * the closed 256-symbol byte alphabet before merges replay, so
   * mixed-script and emoji input tokenizes instead of vanishing), and
   * special tokens (document separators, instruction markers) count as
   * exactly ONE piece each and bypass the merge machinery entirely.
   * Returns `(doc_id, n_words, n_special, n_pieces)`; `n_pieces`
   * includes one piece per special occurrence. Scale shape unchanged:
   * zero shuffle, plan-literal folds.
   */
  def bpeEncodeBytes(df: DataFrame, mergeList: Seq[(String, String)],
                     specials: Seq[String] = Seq.empty): DataFrame = {
    def agg(e: Column, init: Column,
            merge: (Column, Column) => Column): Column =
      org.apache.spark.sql.functions.aggregate(e, init, merge)
    spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        agg(col("ws"), lit(0),
          (acc, w) => acc + when(isSpecialCol(w, specials), lit(1)).otherwise(lit(0)))
          .cast("long").as("n_special"),
        agg(col("ws"), lit(0),
          (acc, w) => acc + when(isSpecialCol(w, specials), lit(1))
            .otherwise(pieceCount(w, mergeList, byteMode = true)))
          .cast("long").as("n_pieces"))
  }

  // ---- unigram-LM (SentencePiece-style) tokenizer ---------------------

  /**
   * Deterministic unigram-LM tokenizer training (Kudo 2018's
   * SentencePiece algorithm in its Viterbi-EM / hard-EM form, made
   * EXACT-INTEGER so a SQL oracle replays it bit-for-bit — the same
   * determinism trade the BPE chain and the q-digest make):
   *
   *  1. SEED: vocabulary = the full character alphabet (never pruned —
   *     closure guarantees every word stays segmentable) plus the
   *     `seedN` heaviest substrings of length 2..`maxPieceLen`,
   *     frequency-weighted over the DISTINCT-word table, ties by
   *     (total desc, piece asc).
   *  2. E-step (one per round): segment every distinct word with the
   *     integer Viterbi ([[graft.functions.UnigramViterbiPieces]] —
   *     fewest pieces, ties to the largest count sum; the exact-integer
   *     surrogate of max-likelihood, see the expression's scaladoc) and
   *     count frequency-weighted piece USAGE — the Viterbi-EM "expected"
   *     counts, deterministic where true EM's fractional expectations
   *     are not.
   *  3. M-step + PRUNE: multi-char pieces keep the top `keepSizes(t)`
   *     by (usage desc, piece asc) with usage as their new count;
   *     characters always survive with count max(usage, 1).
   *
   * Scale shape — the [[bpeTrainLoop]] discipline exactly: the corpus
   * is exchanged ONCE (the word-frequency groupBy, map-side combinable,
   * vocabulary-scale after combine); seeding and every E-step run over
   * distinct words only (a 100 TB corpus has ~10⁸ distinct words
   * regardless of token count); the driver holds the vocabulary alone
   * (seedN + alphabet entries — tokenizer-config scale). Returns the
   * final `(piece, cnt)` vocabulary.
   */
  def unigramTrain(df: DataFrame, seedN: Int = 40, maxPieceLen: Int = 4,
                   keepSizes: Seq[Int] = Seq(24, 16)): DataFrame = {
    val spark = df.sparkSession
    val vocab = unigramVocabulary(df, seedN, maxPieceLen, keepSizes)
    import spark.implicits._
    vocab.sortBy(_._1).toDF("piece", "cnt")
  }

  /** The trained unigram vocabulary as a driver list, memoized per
    * content fingerprint like [[bpeMerges]] (train once, encode
    * everywhere; un-fingerprintable in-memory inputs retrain). */
  def unigramVocabulary(df: DataFrame, seedN: Int = 40, maxPieceLen: Int = 4,
                        keepSizes: Seq[Int] = Seq(24, 16)): Seq[(String, Long)] =
    TableMemo.value("unigramVocabulary", df, s"$seedN|$maxPieceLen|${keepSizes.mkString(",")}")(
      unigramTrainLoop(df, seedN, maxPieceLen, keepSizes))

  /** Binary UTF-8 lexicographic `<` — the collation Spark's `orderBy`
    * and DuckDB both use (Java `String.compareTo` compares UTF-16 code
    * units and disagrees for supplementary-plane characters). Delegates
    * to the engine's own `UTF8String.binaryCompare`, so driver-side
    * tie-breaks match plan-side ordering BY CONSTRUCTION. */
  private def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  private def unigramTrainLoop(df: DataFrame, seedN: Int, maxPieceLen: Int,
                               keepSizes: Seq[Int]): Seq[(String, Long)] = {
    val words = spread(df).select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc")).scopedCheckpoint()
    // alphabet: weighted per-character totals (always kept — closure)
    val alpha = words
      .select(col("wc"), explode(expr("filter(split(w, ''), c -> c != '')")).as("p"))
      .groupBy("p").agg(sum("wc").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // seeds: every substring occurrence of length 2..maxPieceLen over
    // distinct words, weighted by word frequency; guard the inner
    // sequence against short words (sequence(1, 0) counts DOWN)
    val subExpr =
      s"""flatten(transform(sequence(2, $maxPieceLen), l ->
            if(length(w) >= l,
               transform(sequence(1, length(w) - l + 1), st -> substr(w, st, l)),
               cast(array() as array<string>))))"""
    val seeds = words.select(col("wc"), explode(expr(subExpr)).as("p"))
      .groupBy("p").agg(sum("wc").as("cnt"))
      .orderBy(col("cnt").desc, col("p")).limit(seedN)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    var vocab: Seq[(String, Long)] = (alpha ++ seeds).sortBy(_._1)
    for (keepK <- keepSizes) {
      val usage = words.select(col("wc"),
          explode(org.apache.spark.sql.graftbridge.Bridge.column(
            graft.functions.UnigramViterbiPieces(
              org.apache.spark.sql.graftbridge.Bridge.expression(col("w")),
              vocab, maxPieceLen))).as("p"))
        .groupBy("p").agg(sum("wc").as("u"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val (chars, multi) = vocab.partition { case (p, _) =>
        p.codePointCount(0, p.length) == 1 }
      // tie-break in UTF-8 BYTE order, not Java's UTF-16 code-unit
      // order: the engine's orderBy and the DuckDB oracle both compare
      // strings as binary UTF-8, and the two orders diverge for
      // supplementary-plane pieces (astral emoji sort after U+FFFF in
      // UTF-8 but between surrogates in UTF-16)
      val keptMulti = multi
        .map { case (p, _) => (p, usage.getOrElse(p, 0L)) }
        .sortWith { case ((p1, u1), (p2, u2)) =>
          if (u1 != u2) u1 > u2 else utf8Lt(p1, p2) }.take(keepK)
      val newChars = chars.map { case (p, _) =>
        (p, math.max(1L, usage.getOrElse(p, 0L))) }
      vocab = (newChars ++ keptMulti).sortBy(_._1)
    }
    Dedup.unpersistCheckpointed(words)
    vocab
  }

  /**
   * Apply a trained unigram vocabulary to the corpus — per document
   * `(doc_id, n_words, n_pieces)` under the optimal integer-Viterbi
   * segmentation. Same zero-shuffle shape as [[bpeEncode]]: the
   * vocabulary bakes into one fused codegen expression
   * ([[graft.functions.UnigramPieceCount]]), encoding is a pure
   * per-row projection — O(len · maxPieceLen) int work per word.
   */
  def unigramEncode(df: DataFrame, vocab: Seq[(String, Long)],
                    maxPieceLen: Int = 4): DataFrame = {
    def pc(w: Column): Column =
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.UnigramPieceCount(
          org.apache.spark.sql.graftbridge.Bridge.expression(w),
          vocab, maxPieceLen))
    spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        org.apache.spark.sql.functions.aggregate(col("ws"), lit(0),
          (acc, w) => acc + pc(w)).cast("long").as("n_pieces"))
  }

  /** Distinct word-k-shingles per document: `(doc_id, sh)`. Documents
    * shorter than k tokens are dropped (no k-shingle exists).
    *
    * Dedup happens per-row with `array_distinct` BEFORE the explode:
    * since `doc_id` identifies the row, this is value-identical to a
    * global `.distinct()` on `(doc_id, sh)` but shuffle-free — the
    * corpus-wide exchange a post-explode distinct would cost feeds five
    * downstream gated queries, so at 100 TB this is the difference
    * between zero and one full-corpus shuffle. */
  def shingles(df: DataFrame, k: Int = 3): DataFrame = {
    val body = (0 until k).map(j => s"ws[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    // the shingle expression is exploded DIRECTLY rather than routed
    // through shingleSets' named array column: a named Generate input
    // makes InferFiltersFromGenerate clone the whole expression into an
    // inferred filter, where projection collapse inlines `ws` and the
    // tokenizer re-runs per element access — an O(tokens²) plan. With
    // the expression inline the rule (correctly) declines to infer.
    spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        explode(expr(s"array_distinct(transform(sequence(0, size(ws)-$k), i -> $body))")).as("sh"))
  }

  /** Per-document distinct k-shingle SET as one array row `(doc_id, shs)`
    * — the un-exploded twin of [[shingles]], used when a consumer needs
    * whole sets (e.g. exact Jaccard re-verification of LSH candidate
    * pairs) rather than an inverted index. */
  def shingleSets(df: DataFrame, k: Int = 3): DataFrame = {
    val body = (0 until k).map(j => s"ws[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    spread(df).select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        expr(s"array_distinct(transform(sequence(0, size(ws)-$k), i -> $body))").as("shs"))
  }

  // ---- WordPiece: likelihood-scored merges + greedy longest match ----

  /** Quantization scale of the WordPiece merge score (see
    * [[wordpieceTrain]]): selection maximizes
    * `floor(n·Scale / (c(l)·c(r)))` — an exact-integer total order both
    * engines replay bit-identically. */
  val WpScale: Long = 1000000000000L

  /**
   * WordPiece training (Schuster & Nakajima 2012; the merge-based
   * spelling popularized by BERT's tokenizer and HuggingFace
   * `tokenizers`): identical merge machinery to [[bpeTrain]] — char
   * symbols, greedy left-to-right merge application — but the round's
   * winning pair maximizes the LIKELIHOOD score `n(l,r) / (c(l)·c(r))`
   * (pair count over the product of its parts' counts) instead of the
   * raw pair count, so a pair of already-rare symbols can beat a pair
   * of ubiquitous ones. The score is quantized to
   * `floor(n·WpScale / (c(l)·c(r)))` with ties broken by `(lhs, rhs)`
   * in binary UTF-8 order — a fully specified integer selection rule
   * the DuckDB oracle replays exactly (floats would tie-break
   * differently at equal ratios). `n ≤ min(c(l), c(r))` so the
   * quantized score never exceeds `WpScale`.
   *
   * Output: `(round, lhs, rhs, merged, score_q, total)` — the merge
   * list plus the selection evidence.
   *
   * Scale shape: per round, TWO alphabet-bounded aggregates (pair
   * tallies and symbol tallies — both have at most
   * `(alphabet+rounds)²` groups regardless of corpus size) collect to
   * the driver, where the argmax runs in exact BigInt; the corpus-side
   * symbol table rewrites once per round through the same checkpointed
   * fold as BPE. Driver state is merge-list-scale — the
   * [[bpeTrainLoop]] budget argument verbatim.
   */
  def wordpieceTrain(df: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    wordpieceMerges(df, rounds)
      .toDF("round", "lhs", "rhs", "merged", "score_q", "total")
  }

  /** The memoized training pass behind [[wordpieceTrain]] and
    * [[wordpieceVocab]]: the collected merge list is model-scale
    * (≤ `rounds` rows), so caching it on the corpus content key means
    * a session where the train gate and the encode gate see the same
    * corpus trains ONCE — previously each call re-ran the full
    * per-round aggregate loop. */
  private def wordpieceMerges(df: DataFrame, rounds: Int)
      : Seq[(Int, String, String, String, Long, Long)] =
    TableMemo.value("wordpieceMerges", df, s"$rounds")(wordpieceMergesCore(df, rounds))

  private def wordpieceMergesCore(df: DataFrame, rounds: Int)
      : Seq[(Int, String, String, String, Long, Long)] = {
    var vocab = spread(df).select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(expr("filter(split(w, ''), c -> c != '')").as("syms"), col("wc"))
      .scopedCheckpoint()
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long, Long)]()
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val pairs = vocab.filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(syms)-1), i -> struct(syms[i-1] as l, syms[i] as r))"))
          .as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum("wc").as("n")).collect()
      if (pairs.isEmpty) exhausted = true
      else {
        val symCount = vocab.select(col("wc"), explode(col("syms")).as("s"))
          .groupBy("s").agg(sum("wc").as("c")).collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap
        val scored = pairs.map { row =>
          val l = row.getString(0); val rr = row.getString(1); val n = row.getLong(2)
          val sq = (BigInt(n) * WpScale / (BigInt(symCount(l)) * BigInt(symCount(rr)))).toLong
          (sq, l, rr, n)
        }
        val best = scored.reduceLeft { (a, b) =>
          if (a._1 != b._1) { if (a._1 > b._1) a else b }
          else if (a._2 != b._2) { if (utf8Lt(a._2, b._2)) a else b }
          else if (utf8Lt(a._3, b._3)) a else b
        }
        val (sq, l, rr, n) = best
        merges += ((r, l, rr, l + rr, sq, n))
        val prev = vocab
        vocab = vocab.select(applyMergeCol(col("syms"), l, rr).as("syms"),
          col("wc")).scopedCheckpoint() // eager: prev is safe to drop now
        Dedup.unpersistCheckpointed(prev)
      }
    }
    Dedup.unpersistCheckpointed(vocab)
    merges.toSeq
  }

  /** The encode vocabulary [[wordpieceTrain]]'s artifact induces:
    * training-corpus alphabet plus merged pieces, MINUS any piece
    * containing an ASCII digit (numbers route to `[UNK]`, the
    * BERT-style closed-alphabet convention — and the hook that makes
    * the UNK path testable on a digit-free prose corpus). Both the
    * alphabet and the merge list are model-scale collects. */
  def wordpieceVocab(df: DataFrame, rounds: Int = 8): Seq[String] =
    TableMemo.value("wordpieceVocab", df, s"$rounds") {
      val merged = wordpieceMerges(df, rounds).map(_._4)
      val alpha = spread(df).select(explode(tokens(col("text"))).as("w"))
        .select(explode(expr("filter(split(w, ''), c -> c != '')")).as("ch"))
        .distinct().collect().map(_.getString(0)).toSeq
      (alpha ++ merged).distinct
        .filterNot(_.exists(ch => ch >= '0' && ch <= '9'))
    }

  /**
   * Apply a WordPiece vocabulary to the corpus — greedy
   * longest-match-first segmentation per word
   * ([[graft.functions.WordPieceStats]]), per document
   * `(doc_id, n_words, n_pieces, n_unk)` where an unmatchable word
   * counts one `[UNK]` piece. Same zero-shuffle shape as [[bpeEncode]]:
   * the vocabulary bakes into one fused codegen expression, encoding is
   * a pure per-row projection, and the only exchange is the final
   * per-document rollup.
   */
  def wordpieceEncode(df: DataFrame, vocab: Seq[String]): DataFrame = {
    val maxLen = if (vocab.isEmpty) 1
      else vocab.map(p => p.codePointCount(0, p.length)).max
    def st(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.WordPieceStats(
          org.apache.spark.sql.graftbridge.Bridge.expression(w), vocab, maxLen))
    spread(df).select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), st(col("w")).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("s.np").cast("long")).as("n_pieces"),
        sum(when(col("s.unk"), lit(1L)).otherwise(lit(0L))).as("n_unk"))
  }
}
