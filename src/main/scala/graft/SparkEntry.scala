package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One oracle-gated query: `run(session, sfDir)` answers over the driver
  * tables under `sfDir`, and `oracleSql` is the equivalent ANSI SQL that
  * DuckDB runs over the same parquet tables (registered as views named
  * after their files) to gate that answer. */
final case class Gate(key: String, run: (SparkSession, String) => DataFrame, oracleSql: String)

object Gate {
  /** The oracle SQL of gate `key` in `gates`, for a gate whose oracle is
    * another gate's. */
  def sql(gates: Seq[Gate], key: String): String =
    gates.find(_.key == key).getOrElse(throw new NoSuchElementException(key)).oracleSql
}

/** Driver contract: every gate by key, its `(session, sfDir)` run, and
  * its DuckDB oracle SQL. Gates are declared per domain (PointQueries,
  * …); this object concatenates them into one registry. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * kNN over part-derived points — part.parquet carries no nano
    * timestamps, so this runs under any session config. */
  def entry(spark: SparkSession): DataFrame =
    queries("knn")(spark, "/root/testdata/sf0.001")

  /** Each domain's gate list. */
  def domains: Seq[Seq[Gate]] = Seq(PointQueries.gates, RelationalQueries.gates,
    TextQueries.gates, EmbeddingQueries.gates, MultimodalQueries.gates,
    StreamingQueries.gates, SqlQueries.gates, CurationQueries.gates,
    HtmlQueries.gates, ClassifierQueries.gates, SketchQueries.gates,
    FusionQueries.gates, AnalyticsQueries.gates)

  /** The registry; a key declared twice fails it. */
  lazy val gates: Seq[Gate] = {
    val all = domains.flatten
    val repeated = all.groupBy(_.key).collect { case (k, gs) if gs.size > 1 => k }
    require(repeated.isEmpty, s"gate keys declared more than once: ${repeated.mkString(", ")}")
    all
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.key -> g.run).toMap

  def oracleSql: Map[String, String] =
    gates.map(g => g.key -> g.oracleSql).toMap
}
