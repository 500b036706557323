package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the per-domain operator batteries; every entry
  * with SQL-expressible semantics has a matching DuckDB oracle in
  * [[oracleSql]] (same column names, total ORDER BY, decimal-exact sums so
  * the cross-engine hash comparison is well-defined).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The §3.3 analytics pipeline: clean → VADER → TF-IDF → LDA → analysis.
    * Goes through [[queries]], so it runs on any caller's session. */
  def entry(spark: SparkSession): DataFrame =
    queries("nlp_analysis")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each first
    * installs the custom functions its session lacks: the caller may have
    * built the session without `GraftExtensions`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    battery.map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) => plans.GraftExtensions.install(s); q(s, dir) }
    }

  private def battery: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.Relational2.queries ++
      operators.Relational3.queries ++
      operators.Graph.queries ++
      operators.EventWindows.queries ++
      operators.ScalarFns.queries ++
      operators.TextAnalysis.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.Retrieval.queries ++
      operators.Embeddings.queries ++
      operators.Analytics.queries ++
      operators.Multimodal.queries ++
      operators.Preference.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracle ++
      operators.Relational2.oracle ++
      operators.Relational3.oracle ++
      operators.Graph.oracle ++
      operators.EventWindows.oracle ++
      operators.ScalarFns.oracle ++
      operators.TextAnalysis.oracle ++
      operators.Dedup.oracle ++
      operators.Similarity.oracle ++
      operators.Retrieval.oracle ++
      operators.Embeddings.oracle ++
      operators.Multimodal.oracle ++
      operators.Preference.oracle
}
