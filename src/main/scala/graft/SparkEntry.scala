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

  /** A query's qNN prefix ("q01" for "q01_pricing_summary"): the key of
    * Bench's stdout line and the name BenchSome takes.
    */
  def shortName(name: String): String = name.takeWhile(_ != '_')

  /** The registry entries named by `shorts` (qNN prefixes), in the order
    * given. Fails before anything runs if two queries share a prefix or
    * if a name matches no query, naming the offenders.
    */
  def byShortName(shorts: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val byShort = queries.toSeq.groupBy { case (name, _) => shortName(name) }
    val dups = byShort.collect { case (short, qs) if qs.size > 1 => short }
    require(dups.isEmpty, s"duplicate qNN prefixes: ${dups.toSeq.sorted.mkString(", ")}")
    val unknown = shorts.filterNot(byShort.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    shorts.map(byShort(_).head)
  }

  /** Release every cache-tracker-owned persisted intermediate and
    * session memo ([[graft.util.CacheTracker.releaseAll]]). End-of-sweep
    * hygiene for the long-lived harness mains (Bench/Verify) and any
    * caller moving between corpora — results already computed are
    * unaffected; un-executed lazy plans recompute.
    */
  def releaseAllCaches(): Unit = graft.util.CacheTracker.releaseAll()
}
