package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Fusion, Similarity, TextAnalysis}

/**
 * Hybrid-retrieval gate: BM25 document ranks (lexical) fused with
 * exact inner-product ANN ranks (semantic) by Reciprocal Rank Fusion
 * ([[graft.operators.Fusion]]). Queries are the bm25_doc_topk fixture
 * ids (every 29th document); the same ids select the query vectors on
 * the embedding side, so both retrievers answer the same query set.
 * The oracle nests both retrievers' existing replay SQL as derived
 * tables — fusion correctness is gated END TO END through the full
 * lexical and semantic chains, not against re-stated rank lists.
 */
object FusionQueries {

  private val K = 10

  lazy val gates: Seq[Gate] = Seq(
    Gate("hybrid_rrf_topk", (s, dir) => {
      val d = TextQueries.retDocs(s, dir)
      val qs = d
        .select(col("doc_id").as("query_id"),
          format_string("ta%d tb%d %s", col("doc_id") % 61, col("doc_id") % 13,
            element_at(TextAnalysis.tokens(col("text")), 1)).as("qtext"))
        .filter(col("query_id") % 29 === 0)
      val lex = TextAnalysis.bm25DocTopK(qs, d, K)
        .select("query_id", "doc_id", "rank")
      val e = Similarity.intEmbeddings(s.read.parquet(s"$dir/embeddings.parquet"))
      val sem = Similarity.ipTopK(e, e.filter(col("vec_id") % 29 === 0), K)
        .select(col("qid").as("query_id"), col("nid").as("doc_id"), col("rank"))
      Fusion.rrfFuse(Seq(lex, sem), Fusion.RrfK, K)
    },
      s"""WITH lex AS (SELECT query_id, doc_id, rank
  FROM (${Gate.sql(TextQueries.gates, "bm25_doc_topk")})),
sem AS (SELECT query_id, doc_id, rank FROM (
  WITH ${EmbeddingQueries.intCte},
  sp AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
      CAST(sum(a.ev * b.ev) AS BIGINT) AS dot
    FROM iex a JOIN iex b ON a.i = b.i AND b.vec_id <> a.vec_id
    WHERE a.vec_id % 29 = 0 GROUP BY 1, 2)
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
      row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, doc_id) AS rank
    FROM sp)
  WHERE rank <= $K)),
u AS (SELECT query_id, doc_id, ${Fusion.RrfScaleE6} // (${Fusion.RrfK} + rank) AS contrib FROM lex
  UNION ALL
  SELECT query_id, doc_id, ${Fusion.RrfScaleE6} // (${Fusion.RrfK} + rank) FROM sem),
f AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_e6,
    CAST(count(*) AS BIGINT) AS n_lists
  FROM u GROUP BY query_id, doc_id)
SELECT query_id, doc_id, rrf_e6, n_lists, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id) AS rn FROM f)
WHERE rn <= $K""")
  )
}
