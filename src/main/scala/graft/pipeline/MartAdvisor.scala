package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rebuild-vs-accumulate advisor for an incrementally maintained mart —
  * the decision the reference hardcodes (its fraud report always
  * ACCUMULATES past `MAX(report_dt)`, trsh_rep_fraud_sync.sql:22-24)
  * surfaced as a per-run cost readout so an operator can see when that
  * choice stops (or starts) being the right one.
  *
  * Cost model, in scanned-row units (the quantity that prices both a
  * parquet scan and the shuffle behind it):
  *  - REBUILD reprocesses the whole fact history: `cum_rows`.
  *  - ACCUMULATE reprocesses the increment plus the rule lookback
  *    window (the reference's velocity rule re-reads a trailing window
  *    of already-processed facts to evaluate increment rows against —
  *    `lookbackRuns` runs' worth), and pays `writeAmp`x on that volume
  *    for the merge machinery: staging the increment, the anti-join
  *    against the mart's high-water mark, and rewriting the touched
  *    output partitions. So `acc_cost = writeAmp * (n_new + lookback)`.
  *
  * The crossover is the advisor's point: on a young mart a rebuild is
  * CHEAPER than the merge machinery (cum < writeAmp*(new+lookback)),
  * and it also compacts output files; once history dwarfs the daily
  * increment, accumulation wins by the ratio cum/(new+lookback) — at
  * 100 TB that ratio is the difference between a nightly full-history
  * shuffle and a bounded incremental one.
  */
object MartAdvisor {

  /** Advise from per-run ingest counts: `daily` must have one row per
    * run (per `partitionCols` group, if any) with (`runCol`: orderable
    * run key, `nCol`: rows ingested). Output adds cumulative history,
    * both modeled costs, and the cheaper side's name. Exact integer
    * arithmetic end to end.
    *
    * Scale: the input is one row per RUN (bounded — runs, not facts),
    * so the running-sum window is over a frame that fits one task by
    * construction; callers aggregate the fact corpus down to per-run
    * counts first (one map-side-combined groupBy). That contract is
    * ENFORCED, not documented: a `row_number` over the same window
    * (same sort, no extra exchange) feeds a `raise_error` guard, so a
    * caller who hands the un-aggregated fact stream to an
    * un-partitioned advisor fails loudly at `maxRunsPerTask` rows
    * instead of silently sorting a corpus in one task. `ampCol`, when
    * set, prices each row's merge machinery with that column's
    * (per-table, measured) amplification instead of the scalar
    * `writeAmp` — see [[measuredWriteAmp]].
    */
  def advise(daily: DataFrame, runCol: String, nCol: String,
             writeAmp: Long = 3L, lookbackRuns: Int = 1,
             partitionCols: Seq[String] = Nil,
             ampCol: Option[String] = None,
             maxRunsPerTask: Long = 10000000L): DataFrame = {
    require(writeAmp >= 1L, s"writeAmp must be >= 1, got $writeAmp")
    require(lookbackRuns >= 0, s"lookbackRuns must be >= 0, got $lookbackRuns")
    require(maxRunsPerTask >= 1L, s"maxRunsPerTask must be >= 1, got $maxRunsPerTask")
    val base =
      if (partitionCols.isEmpty) Window.orderBy(col(runCol))
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(runCol))
    val amp: org.apache.spark.sql.Column =
      ampCol.map(col).getOrElse(lit(writeAmp))
    daily
      .withColumn("__run_seq", row_number().over(base))
      .withColumn("cum_rows",
        sum(col(nCol)).over(base.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .withColumn("lookback_rows",
        if (lookbackRuns == 0) lit(0L)
        else coalesce(
          sum(col(nCol)).over(base.rowsBetween(-lookbackRuns, -1)), lit(0L)).cast("long"))
      .withColumn("acc_cost_rows",
        (amp * (col(nCol) + col("lookback_rows"))).cast("long"))
      .withColumn("rebuild_cost_rows", col("cum_rows"))
      .withColumn("decision",
        when(col("acc_cost_rows") <= col("rebuild_cost_rows"), lit("accumulate"))
          .otherwise(lit("rebuild")))
      .filter(when(col("__run_seq") > lit(maxRunsPerTask),
        raise_error(concat(lit("MartAdvisor.advise: more than "),
          lit(maxRunsPerTask),
          lit(s" rows in one ordered-window partition — the input must be " +
            "pre-aggregated to per-run rows (or supply partitionCols); " +
            "raise maxRunsPerTask only if the frame really is run-sized"))))
        .otherwise(lit(true)))
      .drop("__run_seq")
  }

  /** Per-table write amplification MEASURED from the warehouse's own
    * records instead of guessed: one row per table —
    * (table_name, write_amp, amp_source = "measured" | "fallback").
    *
    * The merge path snapshot-swaps each table every run (EtlPipeline's
    * contract: write new, rename over old — never in-place), so run r
    * physically writes the table's whole post-merge footprint, ~the
    * rows ingested up to r. Total physical row-writes over the log are
    * therefore Σ_r cum_ingested(r), against Σ_r n_new(r) logical
    * increment rows:
    *
    *   write_amp = ceil( Σ_r cum_ingested(r) / Σ_r n_new(r) )
    *
    * Bytes cancel out of the ratio (both sides scale by the table's
    * own bytes-per-row), so the estimate is exact integer arithmetic
    * over the run log alone; [[WarehouseOps.footprint]]'s byte census
    * gates WHICH tables get a measured amp — only tables
    * physically present with bytes on disk (a log-only name has no
    * footprint to corroborate the reconstruction and keeps the
    * `fallbackAmp` literal, as does a table with zero ingested rows).
    * Scale: the run log is runs×tables-sized — metadata, not data.
    */
  def measuredWriteAmp(spark: SparkSession, warehouseDir: String,
                       fallbackAmp: Long = 3L): DataFrame = {
    require(fallbackAmp >= 1L, s"fallbackAmp must be >= 1, got $fallbackAmp")
    val perRun = ingestedPerRun(spark, warehouseDir)
    val w = Window.partitionBy("table_name").orderBy("run_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val perTable = perRun
      .withColumn("cum", sum("n_new").over(w).cast("long"))
      .groupBy("table_name")
      .agg(sum("cum").cast("long").as("written_rows"),
        sum("n_new").cast("long").as("ingested_rows"))
    val present = WarehouseOps.footprint(spark, warehouseDir)
      .filter(col("total_bytes") > 0L).select("table_name")
    perTable
      .join(present.withColumn("on_disk", lit(true)), Seq("table_name"), "left")
      .withColumn("write_amp",
        when(col("on_disk") && col("ingested_rows") > 0L,
          // integer ceil-divide: ceil(a/b) = (a + b - 1) DIV b
          expr("(written_rows + ingested_rows - 1) DIV ingested_rows"))
          .otherwise(lit(fallbackAmp)).cast("long"))
      .withColumn("amp_source",
        when(col("on_disk") && col("ingested_rows") > 0L, lit("measured"))
          .otherwise(lit("fallback")))
      .select("table_name", "write_amp", "amp_source")
  }

  /** Per (table, run) ingested volume from the warehouse's run log:
    * (table_name, run_id, n_new = rows_inserted + rows_updated).
    */
  private def ingestedPerRun(spark: SparkSession, warehouseDir: String): DataFrame =
    spark.read.parquet(s"$warehouseDir/${EtlPipeline.RunLogTable}")
      .groupBy("table_name", "run_id")
      .agg((sum("rows_inserted") + sum("rows_updated")).cast("long").as("n_new"))

  /** Advise from a warehouse's own run log (`<warehouseDir>/etl_run_log`,
    * the reference's trsh_meta_etl_run_log): per (table, run) the
    * ingested volume is rows_inserted + rows_updated (deletes don't
    * rescan history under either strategy's scan model). One advisor
    * frame per table, ordered by run_id.
    *
    * `writeAmp = None` (the default) prices each table with its own
    * MEASURED amplification ([[measuredWriteAmp]] — the repo posture:
    * dials are measured, not guessed), falling back to the literal 3
    * only where the warehouse can't support the measurement;
    * `Some(x)` forces the scalar for every table. The output carries
    * `write_amp`/`amp_source` so the verdict's input is auditable.
    */
  def adviseFromRunLog(spark: SparkSession, warehouseDir: String,
                       writeAmp: Option[Long] = None,
                       lookbackRuns: Int = 1): DataFrame = {
    val perRun = ingestedPerRun(spark, warehouseDir)
    // a forced amp below 1 would zero/invert every rebuild cost and
    // deterministically answer "accumulate" — the validation the old
    // scalar signature enforced
    writeAmp.foreach(x => require(x >= 1L, s"writeAmp must be >= 1, got $x"))
    val (priced, ampCol) = writeAmp match {
      case Some(x) =>
        (perRun.withColumn("write_amp", lit(x))
          .withColumn("amp_source", lit("forced")), "write_amp")
      case None =>
        // measured amp is per TABLE (runs-sized frame, broadcast join)
        (perRun.join(broadcast(measuredWriteAmp(spark, warehouseDir)),
          Seq("table_name")), "write_amp")
    }
    advise(priced, "run_id", "n_new", lookbackRuns = lookbackRuns,
        partitionCols = Seq("table_name"), ampCol = Some(ampCol))
      .orderBy("table_name", "run_id")
  }
}
