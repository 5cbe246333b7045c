package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The accumulated 4-rule fraud report — the reference's headline
    * output (trsh_rep_fraud_sync.sql).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q20_fraud_report")(spark, "/root/testdata/sf0.001")

  /** The query modules, folded into [[queries]] and [[oracleSql]]. */
  val modules: Seq[graft.queries.QuerySet] = {
    import graft.queries._
    Seq(CoreQueries, ScdQueries, FraudQueries, DedupQueries, TextQueries,
      OlapQueries, ExtendedQueries, PipelineQueries, AnalyticsQueries,
      CorpusQueries, PrivacyQueries, CurationQueries, SignalQueries,
      ValidationQueries, AuditQueries, NoveltyQueries, PqQueries,
      RiskQueries, MarketQueries, ServingQueries, OpsQueries, SeriesQueries,
      InfoQueries)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.foldLeft(Map.empty[String, (SparkSession, String) => DataFrame])(_ ++ _.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.foldLeft(Map.empty[String, String])(_ ++ _.oracle)

  /** Release every cache-tracker-owned persisted intermediate and
    * session memo ([[graft.util.CacheTracker.releaseAll]]). End-of-sweep
    * hygiene for the long-lived harness mains (Bench/Verify) and any
    * caller moving between corpora — results already computed are
    * unaffected; un-executed lazy plans recompute.
    */
  def releaseAllCaches(): Unit = graft.util.CacheTracker.releaseAll()
}
