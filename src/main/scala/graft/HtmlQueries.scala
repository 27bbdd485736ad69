package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Html, LinkGraph, Urls}

/**
 * HTML-extraction gates. The fixture page is CONSTRUCTED in-query from
 * `documents` by one dialect-neutral expression (`||` concat and
 * `replace` parse identically in Spark and DuckDB), so both engines
 * agree on the input bytes; the extraction itself runs through
 * [[graft.operators.Html]]'s shared generators — the gate therefore
 * pins the whole markup→text chain (block removal, tag strip, entity
 * decode, squeeze) bit-identically against the oracle.
 */
object HtmlQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** The deterministic synthetic page graph the PageRank gates share:
    * a quadratic map (in-degree variation), an affine permutation, and
    * hub edges (every page links one of the first 25 — the nav-page
    * shape). */
  private def fixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.select(col("doc_id"))
      .crossJoin(d.agg((max(col("doc_id")) + 1).as("n")))
    base.select(col("doc_id").as("src"),
        ((col("doc_id") * col("doc_id") + 7) % col("n")).as("dst"))
      .unionByName(base.select(col("doc_id").as("src"),
        ((col("doc_id") * 31 + 7) % col("n")).as("dst")))
      .unionByName(base.select(col("doc_id").as("src"),
        (col("doc_id") % 25).as("dst")))
  }

  /** The [[LinkGraph.components]] fixture: a deliberately DISCONNECTED
    * graph — per-50-block affine-permutation cycles plus a short chain
    * (see the `cc_components` gate comment). */
  private def ccEdges(s: SparkSession, dir: String): DataFrame =
    ccPriorEdges(s, dir).unionByName(ccChainEdges(s, dir))

  /** The cc fixture split for the INCREMENTAL gate: the per-50-block
    * affine cycles are the PRIOR graph (7 components per block)… */
  private[graft] def ccPriorEdges(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id").as("src"),
      expr("div(doc_id, 50) * 50 + (7 * (doc_id % 50) + 3) % 50").as("dst"))

  /** …and the short chains are the NEW batch — each merges several of
    * a block's prior components, so the incremental fold must both
    * merge across supernodes and relabel untouched members. */
  private[graft] def ccChainEdges(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(expr("doc_id % 50 BETWEEN 1 AND 9"))
      .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))

  /** [[fixtureEdges]] densified on its EVEN half by two intra-block-of-25
    * maps — gives the k-core gate a genuine dense-kernel-vs-tendril
    * split (the uniform base graph peels all-or-nothing). */
  private def kcoreEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") % 2 === 0)
    fixtureEdges(s, dir)
      .unionByName(d.select(col("doc_id").as("src"),
        expr("div(doc_id, 25) * 25 + (doc_id * 7 + 3) % 25").as("dst")))
      .unionByName(d.select(col("doc_id").as("src"),
        expr("div(doc_id, 25) * 25 + (doc_id * 11 + 5) % 25").as("dst")))
  }

  /**
   * A deterministic page per document: head with title + style block,
   * a comment, nav links, the body text with injected entities, a
   * script block with a `>` comparison (must vanish entirely), and a
   * per-document outbound link. Block bodies are `<`-free and the
   * comment dash-free — the documented deterministic-regex subset.
   */
  val FixtureHtmlSql: String =
    """'<html><head><title>Doc ' || doc_id || ' [' || source || ']</title>""" +
      """<style>body { margin: 0; }</style></head><body>""" +
      """<!-- fixture page --><nav><a href="https://example.com/">home</a> """ +
      """<a href="https://example.com/about">about</a></nav>""" +
      """<h1>Doc ' || doc_id || '</h1><p>' || """ +
      """replace(text, 'data', '&quot;data&quot; &amp; more') || """ +
      """'</p><script>var n = 2 > 1;</script>""" +
      """<a href="https://docs.example.com/' || source || '/' || doc_id || """ +
      """'">source page</a></body></html>'"""

  /**
   * Messy-URL fixture: 7 registered domains, cycling explicit ports
   * (default and non-default), `WWW.` + mixed-case authorities, and a
   * rotating tail — tracking params mid-query, tracking params first,
   * fragments, bare trailing slashes — every normalization the
   * canonicalizer claims to perform.
   */
  val UrlFixtureSql: String =
    """'HTTPS://WWW.Example' || (doc_id % 7) || '.COM' ||""" +
      """ CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END ||""" +
      """ '/Doc/' || doc_id ||""" +
      """ CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '/?utm_source=feed&q=' || doc_id""" +
      """ WHEN 1 THEN '?fbclid=xyz&p=2' WHEN 2 THEN '/#sec' || doc_id ELSE '/' END"""

  /** The [[LinkGraph.labelPropagation]] fixture: dense 25-blocks (three
    * intra-block affine maps, degree ≈ 6) bridged into one connected
    * ring by each block's first vertex — community structure CC cannot
    * see (one component) and LPA recovers (one community per block,
    * ± the handful of bridge vertices). */
  private def lpaEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.select(col("doc_id"))
      .crossJoin(d.agg((max(col("doc_id")) + 1).as("n")))
    d.select(col("doc_id").as("src"),
        expr("div(doc_id, 25) * 25 + (doc_id * 7 + 3) % 25").as("dst"))
      .unionByName(d.select(col("doc_id").as("src"),
        expr("div(doc_id, 25) * 25 + (doc_id * 11 + 5) % 25").as("dst")))
      .unionByName(d.select(col("doc_id").as("src"),
        expr("div(doc_id, 25) * 25 + (doc_id * 13 + 1) % 25").as("dst")))
      .unionByName(base.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("src"),
          ((col("doc_id") + 25) % col("n")).as("dst")))
  }

  private val LpaRounds = 6

  /** The [[LinkGraph.temporalReach]] fixture: the same three maps as
    * [[weightedEdges]] but carrying TIMESTAMPS — the two affine maps
    * fire early-to-mid (per-source deterministic), the hub edges run
    * on a REVERSED clock (late for low ids, early for high), so many
    * static paths are time-blocked and the earliest-arrival labels
    * genuinely differ from hop reachability. */
  private def temporalEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.select(col("doc_id"))
      .crossJoin(d.agg((max(col("doc_id")) + 1).as("n")))
    base.select(col("doc_id").as("src"),
        ((col("doc_id") * col("doc_id") + 7) % col("n")).as("dst"),
        (col("doc_id") % 40 * 10).as("t"))
      .unionByName(base.select(col("doc_id").as("src"),
        ((col("doc_id") * 31 + 7) % col("n")).as("dst"),
        (col("doc_id") % 25 * 16 + 5).as("t")))
      .unionByName(base.select(col("doc_id").as("src"),
        (col("doc_id") % 25).as("dst"),
        (lit(400) - col("doc_id") % 40 * 10).as("t")))
  }

  /** The [[LinkGraph.cheapestPaths]] fixture: the two affine maps of
    * [[fixtureEdges]] carrying deterministic 1..9 / 1..5 weights, plus
    * w=3 hub edges into the first 25 vertices (short weighted detours
    * around expensive direct edges — the paths hop-BFS cannot rank). */
  private def weightedEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.select(col("doc_id"))
      .crossJoin(d.agg((max(col("doc_id")) + 1).as("n")))
    base.select(col("doc_id").as("src"),
        ((col("doc_id") * col("doc_id") + 7) % col("n")).as("dst"),
        (col("doc_id") % 9 + 1).as("w"))
      .unionByName(base.select(col("doc_id").as("src"),
        ((col("doc_id") * 31 + 7) % col("n")).as("dst"),
        (col("doc_id") % 5 + 1).as("w")))
      .unionByName(base.select(col("doc_id").as("src"),
        (col("doc_id") % 25).as("dst"), lit(3L).as("w")))
  }

  lazy val gates: Seq[Gate] = Seq(
    // markup → visible text: title, cleaned body, outbound-link count.
    // The entity round trip is load-bearing: the fixture injects
    // &quot;/&amp; forms that must decode to literal "/& in the output.
    Gate("html_extract", (s, dir) =>
      Html.extract(docs(s, dir)
          .withColumn("html", expr(FixtureHtmlSql))
          .select("doc_id", "html"))
        .select(col("doc_id"), col("title"),
          col("text").as("clean_text"), col("n_links")),
      s"""WITH h AS (SELECT doc_id, $FixtureHtmlSql AS html FROM documents)
SELECT doc_id, ${Html.titleSql("html")} AS title,
  ${Html.stripSql("html", duck = true)} AS clean_text,
  CAST(len(${Html.linksSql("html")}) AS BIGINT) AS n_links
FROM h"""),
    // the outbound-link edge list (URL-level dedup / domain caps start
    // here): one row per href occurrence, duplicates preserved
    Gate("html_links", (s, dir) =>
      Html.links(docs(s, dir)
        .withColumn("html", expr(FixtureHtmlSql))
        .select("doc_id", "html")),
      s"""WITH h AS (SELECT doc_id, $FixtureHtmlSql AS html FROM documents)
SELECT doc_id, unnest(${Html.linksSql("html")}) AS href FROM h"""),
    // normalization over the messy-URL fixture: canonical form (case
    // split between authority and path, port/www/tracking/fragment
    // handling), host, registered domain, raw path — per-row,
    // exchange-free
    Gate("url_canonical", (s, dir) =>
      Urls.parse(docs(s, dir)
          .withColumn("url", expr(UrlFixtureSql))
          .select("doc_id", "url"))
        .select("doc_id", "canonical", "host", "domain", "path"),
      s"""WITH u AS (SELECT doc_id, $UrlFixtureSql AS url FROM documents)
SELECT doc_id, ${Urls.canonicalSql("url", duck = true)} AS canonical,
  ${Urls.hostSql("url", duck = true)} AS host,
  ${Urls.domainSql("url", duck = true)} AS domain,
  ${Urls.pathSql("url")} AS path
FROM u"""),
    // per-domain link analytics (the input to domain caps/blocklists):
    // one shuffle on the domain key
    Gate("domain_stats", (s, dir) =>
      Urls.domainStats(docs(s, dir)
        .withColumn("href", expr(UrlFixtureSql))
        .select("doc_id", "href")),
      s"""WITH u AS (SELECT doc_id, $UrlFixtureSql AS href FROM documents),
p AS (SELECT doc_id, ${Urls.domainSql("href", duck = true)} AS domain,
    ${Urls.canonicalSql("href", duck = true)} AS canonical FROM u)
SELECT domain, CAST(count(*) AS BIGINT) AS n_links,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT canonical) AS BIGINT) AS n_targets
FROM p WHERE domain <> '' GROUP BY domain"""),
    // link-graph centrality (integer PageRank, 5 power iterations)
    // over a deterministic synthetic page graph: a quadratic map
    // (in-degree variation), an affine permutation, and hub edges
    // (every page links one of the first 25 — the nav-page shape).
    // Every iteration is integer-exact, so the final fixed-point ranks
    // hash-match the oracle's unrolled replay.
    Gate("pagerank", (s, dir) => LinkGraph.pageRank(fixtureEdges(s, dir), iters = 5),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz),
${LinkGraph.oracleCore(iters = 5)}
SELECT v, rank FROM p5"""),
    // per-vertex triangle counts over the same (undirected) graph —
    // degree-ordered wedge closure, each triangle enumerated once from
    // its lowest-(deg,id) corner; the orientation's O(√m) out-degree
    // bound is what keeps hub vertices from a wedge blowup at scale
    Gate("triangle_count", (s, dir) => LinkGraph.triangles(fixtureEdges(s, dir)),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz),
${LinkGraph.trianglesOracleCore}
SELECT v, count(*) AS n_tri FROM
  (SELECT u AS v FROM tri UNION ALL SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri)
GROUP BY v"""),
    // the same graph with every 5th page's out-edges removed (REAL
    // dangling vertices — they still appear as destinations), damped
    // dangling mass redistributed uniformly each round
    Gate("pagerank_dangling", (s, dir) =>
      LinkGraph.pageRank(fixtureEdges(s, dir).filter(col("src") % 5 =!= 0),
        iters = 5, redistributeDangling = true),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (SELECT * FROM (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz)
  WHERE src % 5 <> 0),
${LinkGraph.oracleCore(iters = 5, dangling = true)}
SELECT v, rank FROM p5"""),
    // convergence probe on the dangling graph: L1 rank movement of the
    // final iteration — the early-stop threshold quantity
    Gate("pagerank_delta", (s, dir) =>
      LinkGraph.pageRankDelta(fixtureEdges(s, dir).filter(col("src") % 5 =!= 0),
        iters = 5, redistributeDangling = true),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (SELECT * FROM (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz)
  WHERE src % 5 <> 0),
${LinkGraph.oracleCore(iters = 5, dangling = true)}
SELECT CAST(sum(abs(a.rank - b.rank)) AS BIGINT) AS l1_delta
FROM p5 a JOIN p4 b ON b.v = a.v"""),
    // HITS hubs & authorities over the same graph: the nav pages
    // (dst = doc_id % 25) should surface as the top authorities, the
    // pages linking them as hubs — integer-exact per iteration, so the
    // fixed-point scores hash-match the oracle's unrolled replay
    Gate("hits_scores", (s, dir) => LinkGraph.hits(fixtureEdges(s, dir), iters = 5),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz),
${LinkGraph.hitsOracleCore(iters = 5)}
SELECT a.v, a.auth, h.hub FROM a5 a JOIN h5 h ON h.v = a.v"""),
    // k-core decomposition (k=5) over the fixture graph DENSIFIED on
    // its even half (two intra-block-of-25 maps): the densified block
    // structure survives the peel while ~1/6 of the vertices — the
    // sparse odd tendrils — peel away over several rounds. The engine
    // iterates to the TRUE fixpoint; the oracle unrolls 9 peel rounds
    // (fixture converges in 7 at every sf — extra rounds are no-ops)
    Gate("kcore", (s, dir) => LinkGraph.kCore(kcoreEdges(s, dir), k = 5),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 7 + 3) % 25 AS dst
    FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 11 + 5) % 25 AS dst
    FROM documents WHERE doc_id % 2 = 0),
${LinkGraph.kCoreOracleCore(k = 5, rounds = 9)}
SELECT v, CAST(d AS BIGINT) AS deg FROM
  (SELECT v, count(*) AS d FROM
    (SELECT a AS v FROM ke9 UNION ALL SELECT b AS v FROM ke9) GROUP BY v)
WHERE d >= 5"""),
    // k-truss (k=3, 3 bounded peel rounds) over the same densified
    // graph — the EDGE-analog of the k-core and the sharper kernel
    // signal: every surviving edge must sit in >= 1 triangle of the
    // surviving subgraph, so high-degree but triangle-poor structure
    // (the quadratic-map tendrils) peels even where kcore keeps it
    Gate("ktruss", (s, dir) => LinkGraph.kTruss(kcoreEdges(s, dir), k = 3, rounds = 3),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 7 + 3) % 25 AS dst
    FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 11 + 5) % 25 AS dst
    FROM documents WHERE doc_id % 2 = 0),
${LinkGraph.kTrussOracleCore(k = 3, rounds = 3)}
SELECT e.a, e.b, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
FROM kt3 e LEFT JOIN ts3 s ON s.u = e.a AND s.v = e.b"""),
    // the peel's convergence trace: (round, peeled, surviving) per
    // round — the caller-visible signal that `rounds` sufficed (last
    // round peels 0) or truncated the peel
    Gate("ktruss_peel", (s, dir) =>
      LinkGraph.kTrussPeelTrace(kcoreEdges(s, dir), k = 3, rounds = 3),
      // per-round edge-set cardinalities of the same unrolled peel:
      // peeled(i) = |kt(i-1)| - |kt(i)|
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 7 + 3) % 25 AS dst
    FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 11 + 5) % 25 AS dst
    FROM documents WHERE doc_id % 2 = 0),
${LinkGraph.kTrussOracleCore(k = 3, rounds = 3)},
c0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kt0),
c1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kt1),
c2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kt2),
c3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kt3)
SELECT CAST(1 AS BIGINT) AS round, c0.n - c1.n AS peeled, c1.n AS surviving FROM c0, c1
UNION ALL SELECT CAST(2 AS BIGINT), c1.n - c2.n, c2.n FROM c1, c2
UNION ALL SELECT CAST(3 AS BIGINT), c2.n - c3.n, c3.n FROM c2, c3"""),
    // first-class connected components over a DISCONNECTED fixture:
    // affine-permutation cycles per 50-block (x → 7x+3 mod 50, cycle
    // lengths 4/4/2) plus a 9-edge chain merging the first ten
    // vertices' cycles — 7 components per block (70 at sf0.01, 700 at
    // sf0.1). Min-label relaxation floods each component in ≤ 7
    // rounds at every sf; the oracle unrolls 10 (extras are no-ops)
    // while the engine pointer-jumps to the same fixpoint
    Gate("cc_components", (s, dir) => LinkGraph.components(ccEdges(s, dir)),
      s"""WITH edges AS (
  SELECT doc_id AS src, (doc_id // 50) * 50 + (7 * (doc_id % 50) + 3) % 50 AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, doc_id - 1 AS dst FROM documents WHERE doc_id % 50 BETWEEN 1 AND 9),
${LinkGraph.ccOracleCore(rounds = 10)}
SELECT v, label AS component FROM cc10"""),
    // INCREMENTAL fold: prior labels from the block cycles alone, then
    // the chain batch merges components via supernode contraction —
    // the oracle is the FULL-UNION recompute, so equality proves the
    // incremental path exact (and it never re-floods the prior edges)
    Gate("cc_incremental", (s, dir) =>
      LinkGraph.incrementalComponents(ccChainEdges(s, dir),
        LinkGraph.components(ccPriorEdges(s, dir))),
      // the FULL-UNION recompute — the incremental fold must equal it
      // exactly (same edges CTE as cc_components: prior cycles + chains)
      s"""WITH edges AS (
  SELECT doc_id AS src, (doc_id // 50) * 50 + (7 * (doc_id % 50) + 3) % 50 AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, doc_id - 1 AS dst FROM documents WHERE doc_id % 50 BETWEEN 1 AND 9),
${LinkGraph.ccOracleCore(rounds = 10)}
SELECT v, label AS component FROM cc10"""),
    // synchronous label-propagation communities (6 fixed rounds) over
    // the bridged-block fixture — the graph is ONE component, so the
    // ~n/25 recovered communities are structure CC cannot express
    Gate("lpa_communities", (s, dir) =>
      LinkGraph.labelPropagation(lpaEdges(s, dir), LpaRounds),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 7 + 3) % 25 AS dst FROM documents
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 11 + 5) % 25 AS dst FROM documents
  UNION ALL SELECT doc_id AS src, (doc_id // 25) * 25 + (doc_id * 13 + 1) % 25 AS dst FROM documents
  UNION ALL SELECT doc_id AS src, (doc_id + 25) % sz.n AS dst FROM documents, sz WHERE doc_id % 25 = 0),
${LinkGraph.lpaOracleCore(rounds = LpaRounds)}
SELECT label AS community, count(*) AS n_members, min(v) AS min_v,
  CAST(sum(v) AS BIGINT) AS v_sum
FROM lp$LpaRounds GROUP BY 1"""),
    // TrustRank: teleport only to the 25 nav pages (the curated trust
    // seeds) — rank flows outward from them; pages far from the hub
    // neighborhood decay geometrically. Integer-exact per iteration,
    // unrolled-CTE oracle like pagerank
    Gate("trustrank", (s, dir) =>
      LinkGraph.personalizedPageRank(fixtureEdges(s, dir),
        docs(s, dir).filter(col("doc_id") < 25).select(col("doc_id").as("v")),
        iters = 5),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz),
${LinkGraph.personalizedOracleCore(iters = 5, seedPred = "v < 25")}
SELECT v, rank FROM pp5"""),
    // bounded-frontier BFS from the trust seeds (crawl-depth audit):
    // hop distances within 8 rounds — the fixture's affine-permutation
    // edges give it a LONG reachability tail (full closure takes 74+
    // rounds), so the gate pins the bounded semantic maxHops shares
    // with a real crawl scheduler; the oracle unrolls exactly 8 rounds
    Gate("seed_distance", (s, dir) =>
      LinkGraph.seedDistance(fixtureEdges(s, dir),
        docs(s, dir).filter(col("doc_id") < 25).select(col("doc_id").as("v")),
        maxHops = 8),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst FROM documents, sz),
${LinkGraph.seedDistanceOracleCore(rounds = 8, seedPred = "v < 25")}
SELECT v, dist FROM sd8"""),
    // earliest-arrival reachability over TEMPORAL edges: an edge is
    // traversable only at-or-after arrival at its source, so chains
    // through late-then-early edges are blocked — the semantics static
    // reachability (seed_distance's fixture) cannot express
    Gate("temporal_reach", (s, dir) =>
      LinkGraph.temporalReach(temporalEdges(s, dir),
        docs(s, dir).filter(col("doc_id") < 5).select(col("doc_id").as("v")),
        t0 = 0L, rounds = 6),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst, doc_id % 40 * 10 AS t FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst, doc_id % 25 * 16 + 5 AS t FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst, 400 - doc_id % 40 * 10 AS t FROM documents, sz),
${LinkGraph.temporalReachOracleCore(rounds = 6, seedPred = "v < 5", t0 = 0L)}
SELECT v, arr FROM tr6"""),
    // bounded Bellman-Ford: cheapest cost over paths of <= 8 edges
    // from the seed set, exact integer weights — the WEIGHTED
    // companion to seed_distance (a longer-hop cheaper path can
    // improve a label after insertion, which hop-BFS forbids)
    Gate("cheapest_path", (s, dir) =>
      LinkGraph.cheapestPaths(weightedEdges(s, dir),
        docs(s, dir).filter(col("doc_id") < 5).select(col("doc_id").as("v")),
        rounds = 8),
      s"""WITH sz AS (SELECT max(doc_id) + 1 AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id * doc_id + 7) % sz.n AS dst, doc_id % 9 + 1 AS w FROM documents, sz
  UNION ALL SELECT doc_id AS src, (doc_id * 31 + 7) % sz.n AS dst, doc_id % 5 + 1 AS w FROM documents, sz
  UNION ALL SELECT doc_id AS src, doc_id % 25 AS dst, 3 AS w FROM documents, sz),
${LinkGraph.cheapestPathsOracleCore(rounds = 8, seedPred = "v < 5")}
SELECT v, cost FROM cp8"""),
    // CAPSTONE composition — the whole web-ingest chain as ONE query:
    // markup → href extraction → messy-URL canonicalization →
    // registered-domain edge list → dense id assignment (domain-
    // vocabulary-scale window) → integer PageRank → named ranks.
    // Every stage is the already-gated operator; the oracle replays
    // the full chain through the same shared SQL generators
    Gate("pipeline_webgraph", (s, dir) => {
      val d = docs(s, dir)
      val pages = d.withColumn("html", expr(FixtureHtmlSql))
        .select("doc_id", "html")
      val hrefs = Html.links(pages)
        .unionByName(d.select(col("doc_id"), expr(UrlFixtureSql).as("href")))
      val tgt = Urls.parse(hrefs, "href")
        .filter(col("domain") =!= "")
        .select(col("doc_id"), col("domain").as("dst_dom"))
      val edgesNamed = tgt.select(
        expr("concat('example', cast(doc_id % 7 as string), '.com')").as("src_dom"),
        col("dst_dom"))
      val doms = edgesNamed.select(col("src_dom").as("dom"))
        .unionByName(edgesNamed.select(col("dst_dom").as("dom"))).distinct()
      val ids = doms.withColumn("vid",
        row_number().over(Window.orderBy(col("dom"))).cast("long"))
      val e = edgesNamed
        .join(broadcast(ids.select(col("dom").as("src_dom"), col("vid").as("src"))),
          "src_dom")
        .join(broadcast(ids.select(col("dom").as("dst_dom"), col("vid").as("dst"))),
          "dst_dom")
        .select("src", "dst")
      LinkGraph.pageRank(e, iters = 5)
        .join(broadcast(ids), col("v") === col("vid"))
        .select(col("dom").as("domain"), col("rank"))
    },
      s"""WITH h AS (SELECT doc_id, $FixtureHtmlSql AS html FROM documents),
hl AS (SELECT doc_id, unnest(${Html.linksSql("html")}) AS href FROM h),
uh AS (SELECT doc_id, href FROM hl
  UNION ALL SELECT doc_id, $UrlFixtureSql AS href FROM documents),
tg AS (SELECT doc_id, ${Urls.domainSql("href", duck = true)} AS dst_dom FROM uh),
en AS (SELECT 'example' || (doc_id % 7) || '.com' AS src_dom, dst_dom
  FROM tg WHERE dst_dom <> ''),
doms AS (SELECT DISTINCT dom FROM
  (SELECT src_dom AS dom FROM en UNION ALL SELECT dst_dom FROM en)),
ids AS (SELECT dom, CAST(row_number() OVER (ORDER BY dom) AS BIGINT) AS vid FROM doms),
edges AS (SELECT s.vid AS src, t.vid AS dst
  FROM en JOIN ids s ON s.dom = en.src_dom JOIN ids t ON t.dom = en.dst_dom),
${LinkGraph.oracleCore(iters = 5)}
SELECT i.dom AS domain, p.rank FROM p5 p JOIN ids i ON i.vid = p.v""")
  )
}
