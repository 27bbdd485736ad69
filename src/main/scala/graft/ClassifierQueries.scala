package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Perceptron

/**
 * Learned-classifier gates: the distributed perceptron (iterative
 * parameter mixing) trains IN the engine — shard-local online folds in
 * deterministic doc_id order, exact integer mixing — and the DuckDB
 * oracle replays the identical training doc-by-doc with per-epoch
 * recursive CTEs, so both the learned weights and every document's
 * margin/prediction are hash-match gated. The fixture task targets
 * documents mentioning a reference term over hashed bag-of-words —
 * the same shape as the reference-corpus quality filters production
 * curation stacks run (WebText/Wikipedia-style classifiers); the
 * trainer genuinely learns it (spec-pinned accuracy well above the
 * majority class).
 */
object ClassifierQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  lazy val gates: Seq[Gate] = Seq(
    // the learned model itself: 129 integer weights (128 hash buckets +
    // bias) after 10 mixing epochs
    Gate("perceptron_train", (s, dir) =>
      Perceptron.model(s, Perceptron.ipmTrain(docs(s, dir))),
      s"""${Perceptron.oracleCore()}
SELECT CAST(r.range - 1 AS BIGINT) AS bucket, m.w[r.range] AS wgt
FROM mix${Perceptron.Epochs} m, range(1, ${N + 1}) r"""),
    // the model APPLIED: per-document integer margin, sign prediction,
    // label and correctness — the filter stage a curation pipeline
    // would gate admission on
    Gate("perceptron_score", (s, dir) =>
      Perceptron.score(docs(s, dir), Perceptron.ipmTrain(docs(s, dir))),
      s"""${Perceptron.oracleCore()},
sc AS (SELECT d.doc_id, d.y,
    CAST(list_sum(list_transform(range(1, ${N + 1}), i -> m.w[i] * d.x[i])) AS BIGINT) AS margin
  FROM vecs d, mix${Perceptron.Epochs} m)
SELECT doc_id, margin,
  CASE WHEN margin > 0 THEN 1 ELSE -1 END AS pred,
  CAST(y AS INT) AS label,
  CASE WHEN (CASE WHEN margin > 0 THEN 1 ELSE -1 END) = y THEN 1 ELSE 0 END AS correct
FROM sc""")
  )

  private val N = Perceptron.Buckets + 1
}
