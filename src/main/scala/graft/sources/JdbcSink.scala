package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC write-back — the missing half of the reference's warehouse
  * surface. The reference's DWH IS a Postgres database it writes into
  * (`database.py:44-66` — `insert` via executemany + commit/rollback;
  * `etl.py:96-125` — mart rows and `trsh_meta_etl_run_log` inserts);
  * [[JdbcSource]] covers the pulls, this covers the pushes, so a
  * consumer reading the fraud report out of an RDBMS keeps working
  * after migrating the pipeline.
  *
  * Scale posture:
  *  - **Bounded connection fan-out.** Every task opens a connection; a
  *    100 TB DataFrame with 10⁵ partitions would otherwise open 10⁵
  *    connections and melt the database. `numPartitions` caps the
  *    writer-side parallelism (Spark coalesces before writing) —
  *    default 8, the knob the DBA tunes against the pool size.
  *  - **Batched inserts.** `batchSize` rows per executeBatch round-trip
  *    (the reference's `executemany`), default 10k.
  *  - **Idempotent overwrite.** `overwrite` uses TRUNCATE-then-insert,
  *    not DROP-CREATE: the table keeps its DDL, indexes, and grants,
  *    and a re-run lands the same rows instead of appending duplicates
  *    — the mart-publish semantics (the reference rebuilds
  *    `trsh_rep_fraud` in place).
  *  - **Transactional batches.** `isolationLevel` passes through to the
  *    JDBC writer (READ_COMMITTED default here, matching the
  *    reference's autocommit=off + commit-per-run posture).
  *
  * Appends (`append`) are for run-log style insert-only tables where
  * retries are deduplicated by `run_id` downstream.
  */
object JdbcSink {

  /** One RDBMS publish target: where a mart or run log lands. */
  final case class Target(url: String, table: String,
                          connProps: Properties = new Properties(),
                          batchSize: Int = 10000,
                          numPartitions: Int = 8,
                          isolationLevel: String = "READ_COMMITTED")

  private def writer(df: DataFrame, t: Target, mode: SaveMode) = {
    require(t.batchSize > 0, s"batchSize must be positive, got ${t.batchSize}")
    require(t.numPartitions > 0,
      s"numPartitions must be positive, got ${t.numPartitions}")
    df.write.mode(mode)
      .option("batchsize", t.batchSize.toLong)
      .option("numPartitions", t.numPartitions.toLong)
      .option("isolationLevel", t.isolationLevel)
  }

  /** Insert-only append — run-log semantics (`etl.py:108-115`). */
  def append(df: DataFrame, t: Target): Unit =
    writer(df, t, SaveMode.Append).jdbc(t.url, t.table, t.connProps)

  /** Idempotent full replace: TRUNCATE + insert when the table exists
    * (DDL/indexes/grants survive; re-runs converge to the same rows),
    * CREATE + insert when it doesn't. Spark falls back to DROP-CREATE
    * on databases whose dialect can't TRUNCATE — either way the result
    * state is exactly `df`.
    */
  def overwrite(df: DataFrame, t: Target): Unit =
    writer(df, t, SaveMode.Overwrite)
      .option("truncate", "true")
      .jdbc(t.url, t.table, t.connProps)

  /** Publish a warehouse mart to its RDBMS target — the reference's
    * `mart_update` write-back re-expressed: read the parquet mart the
    * pipeline maintains, land it idempotently in the database the
    * report consumers actually query.
    */
  def publishMart(spark: SparkSession, warehouseDir: String,
                  martName: String, t: Target): Long = {
    val mart = spark.read.parquet(s"$warehouseDir/$martName")
    overwrite(mart, t)
    mart.count()
  }

  /** Push the pipeline's run log (insert-only, keyed by run_id —
    * `trsh_meta_etl_run_log`) for runs the RDBMS copy hasn't seen.
    * Reads the remote MAX(run_id) first so replays are idempotent
    * without requiring a unique constraint remotely.
    *
    * Supported databases: the absence probe recognizes Postgres,
    * Derby, and the MySQL/ODBC SQLSTATE family (see [[AbsentStates]]).
    * Databases that signal a missing table differently (Oracle's
    * generic '42000', SQLite's null SQLState) propagate from the
    * probe, so the FIRST publish against such a target fails loudly
    * instead of creating the table — create the run-log table
    * out-of-band there (or extend AbsentStates after verifying the
    * driver's code is absence-specific). Fail-loud is deliberate: a
    * state we can't classify must not silently skip the MAX(run_id)
    * dedup gate and double-append.
    */
  def publishRunLog(spark: SparkSession, warehouseDir: String,
                    t: Target): Long = {
    import org.apache.spark.sql.functions.{col, max}
    val local = spark.read.parquet(s"$warehouseDir/${graft.pipeline.EtlPipeline.RunLogTable}")
    val fresh =
      if (!tableExists(spark, t)) local
      else {
        val mx = JdbcSource.read(spark, t.url, t.table, t.connProps)
          .agg(max(col("run_id"))).collect()(0)
        if (mx.isNullAt(0)) local
        else local.filter(col("run_id") > mx.getAs[Number](0).longValue())
      }
    val n = fresh.count()
    if (n > 0) append(fresh, t)
    n
  }

  /** SQLSTATEs that specifically mean "relation does not exist":
    * '42P01' (Postgres undefined_table), '42X05' (Derby), '42S02'
    * (SQL/CLI base table not found — MySQL/ODBC family). Class-42
    * codes OUTSIDE this list (e.g. Postgres '42501'
    * insufficient_privilege) are NOT absence: a permission failure on
    * an existing run-log table must fail the publish, not silently
    * skip the dedup gate and double-append.
    */
  private val AbsentStates = Set("42P01", "42X05", "42S02")

  /** Existence probe that distinguishes "table absent" from every
    * other failure: a swallowed connection error here would make
    * [[publishRunLog]] skip the MAX(run_id) dedup gate and re-append
    * the whole local log once connectivity returns. A zero-row probe
    * runs over a raw connection (honoring a `driver` property in
    * connProps, like Spark's JDBC source, for pre-JDBC-4 drivers that
    * ServiceLoader cannot discover); only [[AbsentStates]] means
    * absent — anything else (connection refused, timeout, auth,
    * privileges) PROPAGATES so the publish fails loudly instead of
    * double-counting.
    */
  private def tableExists(spark: SparkSession, t: Target): Boolean = {
    Option(t.connProps.getProperty("driver"))
      .foreach(cls => java.lang.Class.forName(cls))
    val conn = java.sql.DriverManager.getConnection(t.url, t.connProps)
    try {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM ${t.table} WHERE 1=0"); true }
      finally st.close()
    } catch {
      case e: java.sql.SQLException
        if Option(e.getSQLState).exists(AbsentStates.contains) => false
    } finally conn.close()
  }
}
