package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType, TimestampType}

import graft.operators.Scd
import graft.sources.FileIngest
import graft.sources.Compaction.{requireNoOrphanStage, writeSwap}

/** Metadata-driven staging→DWH orchestration — the reference's ETL core
  * (etl.py:132-284) re-expressed as a library of lazy plans.
  *
  * The reference drives everything from `trsh_meta_core_table_mapping`
  * rows; here [[TableMapping]] is the same contract. One `run` produces
  * the merged DWH tables plus the run-log DataFrame — counts come from
  * the merge plans themselves (observed on the `action` column and the
  * tombstone flag as the table is written), not from driver-side
  * mutation counters.
  */
object EtlPipeline {

  /** The warehouse's meta tables, stored beside the data tables: the
    * per-target watermarks of the file loop (business dates) and of the
    * database loop (timestamps) — the reference's trsh_meta_etl_update —
    * and the run log, trsh_meta_etl_run_log.
    */
  val WatermarkTable = "etl_watermark"
  val TsWatermarkTable = "etl_watermark_ts"
  val RunLogTable = "etl_run_log"

  /** Reference main.ddl:271-347 row, minus the Postgres-isms. */
  case class TableMapping(
      sourceName: String,
      targetName: String,
      key: String,
      payload: Seq[String],
      scd: Int)

  /** The run-log counts as aggregates over a merge output: scd1 counts
    * its `action` tags, scd2 its live versions and tombstones.
    */
  private def mergeCounts(scd: Int): Seq[Column] =
    if (scd == 1) Seq(
      count(when(col("action") === "I", 1)).as("rows_inserted"),
      count(when(col("action") === "U", 1)).as("rows_updated"),
      lit(0L).as("rows_deleted"))
    else Seq(
      count(when(!col("deleted_flg"), 1)).as("rows_inserted"),
      lit(0L).as("rows_updated"),
      count(when(col("deleted_flg"), 1)).as("rows_deleted"))

  // ------------------------------------------------------------------
  // End-to-end file-driven run (reference etl.py:132-189 from_file +
  // main.py): find → read → watermark → merge → run-log → archive →
  // mart refresh.
  // ------------------------------------------------------------------

  /** One file-fed table: which inbox files feed it (glob with the
    * `name_DDMMYYYY.ext` business-date convention), the DWH key/payload,
    * the SCD mode, and which columns need decimal-comma normalization.
    */
  case class FileMapping(
      template: String,
      targetName: String,
      key: String,
      payload: Seq[String],
      scd: Int,
      decimalCols: Seq[String] = Nil)

  /** What one `run` did: the run-log rows it appended (also persisted to
    * the [[RunLogTable]] with run start/end timestamps), and
    * which inbox files it consumed.
    */
  case class RunReport(runId: Long, log: DataFrame,
                       processedFiles: Seq[String], archivedFiles: Seq[String])

  /** Allocate the next run id from the persistent run log — the
    * reference's NEXTVAL sequence (etl.py:45-51) re-based on the
    * warehouse state: max(run_id)+1, or 1 for a fresh warehouse.
    * Monotone across completed runs (each run appends its id to the
    * log). A parquet directory has no atomic counter, so two callers
    * allocating CONCURRENTLY against the same warehouse can still
    * collide — concurrent orchestration must hand out disjoint explicit
    * ids instead (the reference's sequence lives in the database and
    * doesn't have this gap).
    */
  def nextRunId(spark: SparkSession, warehouseDir: String): Long =
    storedMax(spark, s"$warehouseDir/$RunLogTable", "run_id")
      .fold(1L)(_.getAs[Number](0).longValue() + 1L)

  /** How a mart refreshes after the merge loop (main.py `mart_update`). */
  sealed trait MartRefresh

  /** Rebuild from the warehouse and snapshot-swap — always correct,
    * reads full history; the right default for small marts.
    */
  final case class MartRebuild(build: (SparkSession, String) => DataFrame)
      extends MartRefresh

  /** Append-only accumulation — the reference's mart semantics
    * (trsh_rep_fraud_sync.sql:22-24 `create_dt > MAX(report_dt)`) and
    * the 100 TB answer: `full` bootstraps an absent mart;
    * afterwards each refresh appends `increment(spark, whDir, since)`
    * where `since` is the stored mart's MAX(`watermarkCol`), rendered
    * at µs precision. `increment` must return exactly the rows with
    * `watermarkCol > since` ([[FraudMart.incrementalReport]]'s contract,
    * with its proven 96 h lookback re-window). Statement-idempotent: a
    * re-run recomputes MAX and appends nothing.
    */
  final case class MartAccumulate(
      full: (SparkSession, String) => DataFrame,
      increment: (SparkSession, String, String) => DataFrame,
      watermarkCol: String) extends MartRefresh

  /** Refresh a set of marts once, IN THE GIVEN ORDER — the only mart
    * refresh: the reference's orchestration runs BOTH loops
    * (`from_file`, `from_database`) and then ONE `mart_update()` over
    * the combined warehouse state (main.py:16-18); express that as
    * `run(...)` + `runFromTables(...)` + this call. Order is binding
    * because a mart may read another mart's output. A mart whose
    * directory is missing rebuilds through the swap's stage directory,
    * so one left there by an interrupted swap is cleared, not orphaned.
    */
  def refreshMarts(spark: SparkSession, warehouseDir: String,
                   marts: Seq[(String, MartRefresh)]): Unit =
    marts.foreach { case (name, how) => refreshMart(spark, warehouseDir, name, how) }

  /** Optional RDBMS publish step after [[refreshMarts]] — the
    * reference's consumers read the fraud report out of Postgres, not
    * parquet (`database.py:44-66`, `etl.py:96-125`), so a migration
    * keeps that contract by pushing each refreshed mart to its
    * [[graft.sources.JdbcSink.Target]] (idempotent truncate+insert) and
    * the run log insert-only past the remote MAX(run_id). In order,
    * like refreshMarts; returns rows landed per mart.
    */
  def publishMarts(spark: SparkSession, warehouseDir: String,
                   targets: Seq[(String, graft.sources.JdbcSink.Target)],
                   runLog: Option[graft.sources.JdbcSink.Target] = None
                  ): Map[String, Long] = {
    val counts = targets.map { case (name, t) =>
      name -> graft.sources.JdbcSink.publishMart(spark, warehouseDir, name, t)
    }.toMap
    runLog.foreach(t => graft.sources.JdbcSink.publishRunLog(spark, warehouseDir, t))
    counts
  }

  /** Optional flat-file publish step — the outbound mirror of the
    * inbound `name_DDMMYYYY.txt` loop: each refreshed mart exported
    * once per business date in the legacy format
    * ([[graft.sources.DelimitedSink]]), for downstream consumers that
    * never migrated off file handoff. Returns the written path per
    * mart; the sink's single-file bound applies (marts, not corpora).
    */
  def exportMarts(spark: SparkSession, warehouseDir: String,
                  outDir: String, marts: Seq[String],
                  businessDate: java.time.LocalDate,
                  decimalCols: Map[String, Seq[String]] = Map.empty
                 ): Map[String, String] =
    marts.map { name =>
      name -> graft.sources.DelimitedSink.write(
        spark.read.parquet(s"$warehouseDir/$name"), outDir, name,
        businessDate, decimalCols.getOrElse(name, Nil))
    }.toMap

  private def refreshMart(spark: SparkSession, warehouseDir: String,
                          name: String, how: MartRefresh): Unit = how match {
    case MartRebuild(build) =>
      writeSwap(build(spark, warehouseDir), s"$warehouseDir/$name")
    case MartAccumulate(full, increment, wmCol) =>
      val path = s"$warehouseDir/$name"
      storedMax(spark, path, wmCol).map(r => utcString(r.getTimestamp(0))) match {
        case None     => writeSwap(full(spark, warehouseDir), path)
        case Some(ts) =>
          increment(spark, warehouseDir, ts)
            .write.mode(SaveMode.Append).parquet(path)
          // Each tick appends a few files; over many runs the mart
          // fragments into task-per-row scans. The census is
          // metadata-priced, so every tick checks and only a
          // fragmented mart pays the rewrite.
          if (graft.sources.Compaction.needsCompaction(spark, path))
            graft.sources.Compaction.compact(spark, path)
      }
  }

  /** The reference's whole ETL loop (etl.py:132-189, driven by main.py)
    * as one call. For each mapping, in business-date order and only for
    * files strictly past the target's stored watermark (etl.py:158 —
    * the per-table `last_update_dt` check):
    *
    *  1. read the file through [[FileIngest.read]] (or
    *     [[FileIngest.readQuarantined]]), which picks the format by
    *     extension and normalizes decimal-comma columns,
    *  2. merge into the parquet DWH table at
    *     `<warehouseDir>/<targetName>` (scd1 upsert or scd2 versioning;
    *     absent keys tombstone at the file's business date),
    *  3. log staging + merge counts (trsh_meta_etl_run_log),
    *  4. archive the file to `<inbox>/archive/<name>.backup`
    *     (file.py:46-51).
    *
    * Marts refresh afterwards through [[refreshMarts]] (main.py's
    * `etl.mart_update()`), once both loops have run.
    *
    * State lives entirely in the warehouse directory (parquet tables +
    * [[WatermarkTable]] + appended [[RunLogTable]]), so re-running is
    * idempotent: already-consumed business dates are skipped by the
    * watermark, exactly like the reference's meta-table check. Per-table
    * state is snapshot-swapped (write new, rename over old), never
    * read-modify-written in place.
    *
    * Scale: the driver touches only metadata (file lists, watermark map,
    * observed counts); every data motion is a distributed plan.
    *  - One execution per file: stage → merge → table write is ONE SQL
    *    execution with nothing cached. The `stg_` row count and the
    *    merge's insert/update/delete counts are
    *    [[org.apache.spark.sql.Observation]]s completed by the table
    *    write itself (a stage that came out empty may be recounted, see
    *    [[Staged]]). With a quarantine, the reject count and append add
    *    their own jobs.
    *  - Concurrency and failure are the batch loop's ([[eachTarget]]):
    *    one group per target, mapping order inside a group (files in
    *    business-date order, each fresh-file filter reading the live
    *    watermark), the watermark committed with each table swap, and
    *    on a failure the other targets finish, the first failure in
    *    mapping order is rethrown and no run log is written.
    * Daily dimension files are small by construction — the 100 TB side
    * (facts) flows through [[runFromTables]]' incremental pull against
    * partitioned sources, not through this inbox loop.
    *
    * `quarantineDir`: when set, every file, whatever its format, reads
    * through [[FileIngest.readQuarantined]] — rows missing the mapping
    * key or carrying unparseable decimal values are appended (raw, with
    * `reject_reason`/`src_file`/`run_id`) to
    * `<quarantineDir>/<targetName>` instead of reaching the merge, and
    * each file's reject count is logged as a `qtn_<target>` run-log
    * row. Without it, a row missing its key fails the run at the merge
    * (a null key is refused there), and so does an unparseable decimal
    * (the decimal cast is ANSI); the failed target's table and watermark
    * stay as they were.
    */
  def run(spark: SparkSession, inboxDir: String, warehouseDir: String,
          mappings: Seq[FileMapping], runId: Long,
          archiveFiles: Boolean = true,
          quarantineDir: Option[String] = None): RunReport =
    eachTarget(spark, warehouseDir, runId, WatermarkTable, mappings)(_.targetName) { (m, out) =>
      val last = out.watermark.map(java.time.LocalDate.parse)
      val fresh = FileIngest.find(spark, inboxDir, Seq(m.template))
        .map(p => (p, businessDate(p)))
        .filter { case (_, d) => last.forall(d.isAfter) }
        .sortBy(_._2)
      // Two files with the SAME business date matching one template have
      // no defined merge order, and the second same-date scd2 merge
      // would violate scd2Merge's forward-order precondition (silently
      // producing versions with effective_to < effective_from). Refuse
      // up front — a redelivery should replace the file, not add one.
      val dup = fresh.groupBy(_._2).collect {
        case (d, fs) if fs.size > 1 => s"$d: ${fs.map(_._1).sorted.mkString(", ")}"
      }
      require(dup.isEmpty,
        s"mapping ${m.template}: multiple inbox files share a business date — " +
          s"merge order is undefined. ${dup.mkString("; ")}")
      fresh.foreach { case (path, dt) =>
        // A quarantined row's key was PRESENT in the delivery — only its
        // payload was unparseable. The snapshot-based scd2 merge reads
        // key absence as deleted-at-source, so feeding it the thinned
        // good frame would tombstone live entities (phantom deletes).
        // When rejects exist, liveness switches to an explicit key list
        // covering good ∪ quarantined keys; scd1 ignores liveness.
        var liveness: Scd.Liveness = Scd.SnapshotStg
        val stg = quarantineDir match {
          case None => FileIngest.read(spark, path, m.key, m.payload, m.decimalCols)
          case Some(qdir) =>
            val d = FileIngest.readQuarantined(spark, path, m.key, m.payload, m.decimalCols)
            // count first (rejects are small by construction); write
            // only when non-empty so a clean run leaves no empty dirs
            val nBad = d.bad.count()
            if (nBad > 0) {
              // appending must not recreate a quarantine whose only
              // copy sits at the stage after an interrupted replay swap —
              // that would hide the orphan from replay's guard forever
              requireNoOrphanStage(spark, s"$qdir/${m.targetName}")
              d.bad.withColumn("run_id", lit(runId))
                .write.mode(SaveMode.Append)
                .parquet(s"$qdir/${m.targetName}")
              out.log += ((runId, s"qtn_${m.targetName}", nBad, 0L, 0L))
              liveness = Scd.KeyList(d.good.select(m.key).union(d.badKeys).distinct())
            }
            d.good
        }
        val deleteTs = dt.atStartOfDay().format(
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        out.mergeStaged(tableMapping(m), new Staged(stg), deleteTs, liveness)
        out.commit(dt.toString)
        out.processed += path
        if (archiveFiles) out.archived += FileIngest.archive(spark, path)
      }
    }

  private type LogRow = (Long, String, Long, Long, Long)

  private def tableMapping(m: FileMapping): TableMapping =
    TableMapping(m.template, m.targetName, m.key, m.payload, m.scd)

  /** The one batch loop: [[run]], [[runFromTables]] and
    * [[replayQuarantine]] each hand it their items and a per-item body.
    *  - Every item's target is validated before anything merges.
    *  - Concurrent by target: distinct targets share nothing but the
    *    watermark store, so the items run in one group per target on
    *    `min(targets, defaultParallelism)` daemon threads. Inside a
    *    group the order is the sequential one: item order, each body
    *    reading the live watermark its predecessors committed.
    *  - The named watermark store is loaded once; reads and commits are
    *    serialized under its lock ([[Watermarks]]).
    *  - Run-log rows and the processed/archived file lists come out in
    *    item order.
    *  - Failure: a failing item stops only its own target's group. The
    *    loop waits for every other group to finish, then rethrows the
    *    first failure in item order as it was thrown, and writes no run
    *    log.
    */
  private def eachTarget[A](spark: SparkSession, warehouseDir: String, runId: Long,
                            store: String, items: Seq[A])(target: A => String)
                           (body: (A, Item) => Unit): RunReport = {
    val runStart = new java.sql.Timestamp(System.currentTimeMillis())
    items.foreach(a => requireValidTarget(target(a)))
    val wm = new Watermarks(spark, warehouseDir, store)
    val outs = items.map(a => new Item(spark, warehouseDir, runId, target(a), wm))
    // a group stops at its first failure, which it reports with the
    // failing item's index
    def runGroup(ix: Seq[Int]): Option[(Int, Throwable)] =
      ix.iterator.flatMap { i =>
        try { body(items(i), outs(i)); None }
        catch { case e: Throwable => Some(i -> e) }
      }.nextOption()
    val groups = items.indices.groupBy(i => target(items(i))).values.toSeq
    val threads = math.max(1, math.min(groups.size, spark.sparkContext.defaultParallelism))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r, "graft-etl-merge"); t.setDaemon(true); t })
    val failures =
      try groups.map(ix => java.util.concurrent.CompletableFuture.supplyAsync(
          () => { SparkSession.setActiveSession(spark); runGroup(ix) }, pool)).map(_.join())
      finally pool.shutdown()
    failures.flatten.minByOption(_._1).foreach { case (_, e) => throw e }

    val log = writeRunLog(spark, warehouseDir, outs.flatMap(_.log.result()), runStart)
    RunReport(runId, log, outs.flatMap(_.processed.result()), outs.flatMap(_.archived.result()))
  }

  /** What one item of [[eachTarget]] did, in the order it did it, and its
    * view of its target's watermark.
    */
  private final class Item(spark: SparkSession, warehouseDir: String, runId: Long,
                           target: String, wm: Watermarks) {
    val log = Seq.newBuilder[LogRow]
    val processed = Seq.newBuilder[String]
    val archived = Seq.newBuilder[String]
    def watermark: Option[String] = wm.get(target)
    /** Called after the table swap the value covers: a later item
      * failing must not leave an already-merged table accepting a
      * redelivered older snapshot (which would tombstone newer keys and
      * invert version intervals).
      */
    def commit(value: String): Unit = wm.commit(target, value)
    /** Merge a [[Staged]] frame, logging its `stg_` row and then the
      * target's counts.
      */
    def mergeStaged(m: TableMapping, staged: Staged, deleteTs: String,
                    liveness: Scd.Liveness): Unit = {
      val merged = mergeInto(spark, warehouseDir, m, staged.frame, runId, deleteTs, liveness)
      log += ((runId, s"stg_${m.targetName}", staged.rows, 0L, 0L))
      log += merged
    }
  }

  /** Append this run's log rows (with run start/end timestamps — the
    * reference's run_start_dt/run_end_dt, etl.py:108-125) and return the
    * count-only view callers assert on.
    */
  // Log schema note: run_id is Long and rows carry run_start_dt /
  // run_end_dt (both added in this library's current line). A warehouse
  // whose etl_run_log predates that (INT32 run_id, run_ts) mixes parquet
  // physical types in one directory — readers here do NOT mergeSchema,
  // so such a warehouse needs a one-time log rewrite before upgrading.
  private def writeRunLog(spark: SparkSession, warehouseDir: String,
                          rows: Seq[LogRow],
                          runStart: java.sql.Timestamp): DataFrame = {
    import spark.implicits._
    val log = rows
      .toDF("run_id", "table_name", "rows_inserted", "rows_updated", "rows_deleted")
      .withColumn("run_start_dt", lit(runStart))
      .withColumn("run_end_dt", current_timestamp())
    // a no-op run appends nothing: an empty append writes a schemaless
    // marker directory that would break later schema inference (and
    // nextRunId) on a warehouse whose first run staged zero rows
    if (rows.nonEmpty)
      log.write.mode(SaveMode.Append).parquet(s"$warehouseDir/$RunLogTable")
    log.drop("run_start_dt", "run_end_dt")
  }

  /** One database-fed table (reference etl.py:236-284 `from_database`):
    * any source relation (a JDBC read, another warehouse table, …) with
    * the reference's create/update change-tracking column pair.
    */
  case class TableFeed(mapping: TableMapping, source: DataFrame,
                       createCol: String = "create_dt",
                       updateCol: Option[String] = Some("update_dt"))

  /** The reference's `from_database` loop: per table, an INCREMENTAL
    * staging pull — only rows whose `COALESCE(update_dt, create_dt)`
    * passed the stored timestamp watermark (etl.py:190-199) — plus a
    * separately-pulled full key list for deletion detection
    * (etl.py:256-266 `stg_del`), merged via scd1 upsert or
    * [[Scd.scd2MergeIncremental]]. Keys merely unchanged since the
    * watermark are NOT tombstoned — that is the semantic difference from
    * the full-snapshot file path, and why the key list exists.
    *
    * Watermarks/run-log live beside the tables in `warehouseDir`, so
    * re-running with an unchanged source stages zero rows and rewrites
    * identical tables. Concurrency and failure are [[run]]'s, through
    * the same loop ([[eachTarget]]): every target is validated before
    * anything merges, feeds run in one group per target, and a failing
    * feed leaves the other targets merged with their watermarks stored
    * and no run log written. A staged row with a null key fails its
    * feed.
    */
  def runFromTables(spark: SparkSession, warehouseDir: String,
                    feeds: Seq[TableFeed], runId: Long,
                    deleteTs: String): RunReport =
    eachTarget(spark, warehouseDir, runId, TsWatermarkTable,
               feeds)(_.mapping.targetName) { (f, out) =>
      val m = f.mapping
      val watermark = out.watermark.getOrElse("1900-01-01 00:00:00")
      val changeTs = f.updateCol match {
        case Some(u) => coalesce(col(u), col(f.createCol))
        case None    => col(f.createCol)
      }
      // incremental pull (etl.py:190-199): only rows changed past the
      // watermark. The staged count and the next watermark (etl.py:100-106,
      // the newest staged change) are observed in the merge write itself
      val stg = f.source.filter(changeTs > lit(watermark).cast("timestamp"))
        .select((m.key +: m.payload).map(col) :+
          changeTs.cast("timestamp").as("create_dt"): _*)
      val staged = new Staged(stg, "next_wm" -> max(col("create_dt")))
      // full key list: a column-pruned scan of the source (stg_del)
      val liveness = if (m.scd == 2) Scd.KeyList(f.source.select(m.key))
                     else Scd.SnapshotStg
      out.mergeStaged(m, staged, deleteTs, liveness)
      // Only the merge's own observation may move the watermark. A source
      // is live (a JDBC table), so recomputing max(create_dt) with a read
      // of its own could cover rows committed after the merge read it and
      // skip them for good; an unobserved feed keeps its watermark, and
      // the rows it re-stages next run merge idempotently. The watermark
      // is rendered in UTC explicitly — Timestamp.toString would use the
      // JVM-default timezone while the session (which re-parses it next
      // run) is UTC, silently shifting the watermark and skipping rows on
      // tz-offset drivers.
      staged.observedRow.flatMap(r => Option(r.getAs[java.sql.Timestamp]("next_wm")))
        .foreach(ts => out.commit(utcString(ts)))
    }

  /** Continuous warehouse ingestion: each micro-batch of a stream
    * merges into the parquet target through the SAME merge→log→swap
    * step as the batch loops — a Delta-style streaming MERGE on plain
    * parquet. scd=1 upserts; scd=2 versions changed keys, with
    * deletions explicitly disabled (a stream of arrivals carries no
    * key-list; tombstones belong to the batch reconciliation run, which
    * passes a real key list to [[runFromTables]]). The returned query
    * runs until stopped; run-log rows append per micro-batch with
    * `run_id = batchId`.
    *
    * foreachBatch is at-least-once: on a micro-batch RETRY the merge
    * itself is idempotent (upserting identical rows changes nothing) but
    * a second log append would double-count inserts — so each batch
    * also logs a `stream_<target>` MARKER row, and a batch whose marker
    * is already present is skipped entirely, making the whole step
    * effectively-once. The marker name is what's checked (not the
    * target's own log rows): batch `run()`/`runFromTables` runs log
    * under the target name with ids from the same sequence space, and
    * matching on those would silently skip live micro-batches.
    *
    * The batch argument must already be shaped like a staging frame:
    * `mapping.key`, `mapping.payload`, and (for scd=2) `create_dt`.
    */
  def streamingMerge(stream: DataFrame, warehouseDir: String,
                     m: TableMapping): org.apache.spark.sql.streaming.StreamingQuery = {
    requireValidTarget(m.targetName)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val logPath = s"$warehouseDir/$RunLogTable"
          val marker = s"stream_${m.targetName}"
          val alreadyDone = hadoopFs(spark, logPath).exists(new Path(logPath)) &&
            !spark.read.parquet(logPath)
              .filter(col("run_id") === batchId && col("table_name") === marker)
              .isEmpty
          if (!alreadyDone) {
            val runStart = new java.sql.Timestamp(System.currentTimeMillis())
            val stg = batch.persist()
            val merged = mergeInto(spark, warehouseDir, m, stg, batchId,
              deleteTs = "9999-12-31 00:00:00", Scd.NoDeletes)
            writeRunLog(spark, warehouseDir,
              Seq((batchId, marker, 0L, 0L, 0L), merged), runStart)
            stg.unpersist(blocking = false)
          }
        }
        ()
      }
      .start()
  }

  /** Close the quarantine loop: re-validate the rows parked at
    * `<quarantineDir>/<targetName>` (after an operator fixed them in
    * place, or after a mapping fix changed what's parseable) and merge
    * the now-clean ones into the warehouse.
    *
    * Freshness: the file loop delivers FULL SNAPSHOTS, so any delivery
    * after a quarantined row's business date supersedes it wholesale —
    * replaying a stale row would clobber newer state (and invert scd2
    * intervals, whose merge requires forward-ordered arrivals). Only
    * rows from the table's LATEST merged epoch (`create_dt` equal to
    * the stored business-date watermark) merge; older now-valid rows
    * are dropped as superseded, counted in the `qrp_<target>` log
    * row's `rows_deleted`. The merge is NoDeletes — a replay is an
    * arrival, never a snapshot, so it must not tombstone.
    *
    * The quarantine shrinks atomically (snapshot swap; the directory
    * is removed outright when nothing remains); still-invalid rows
    * stay with a recomputed `reject_reason` and original
    * `src_file`/`run_id` provenance. The rows re-split through
    * [[FileIngest.resplit]], whatever format they were delivered in: a
    * row whose `src_file` carries no valid `_DDMMYYYY` business date
    * cannot be stamped for replay, so it stays quarantined with
    * `reject_reason = 'dateless_src_file'` (rename the file to release
    * it) rather than aborting the batch — the other repairable rows
    * still merge. Refresh
    * marts afterwards with [[refreshMarts]] — note a `MartAccumulate`
    * whose stored watermark already covers the replayed rows' dates
    * will not re-derive them (strictly-greater contract); pair
    * replay-heavy feeds with `MartRebuild` or a lookback increment.
    */
  def replayQuarantine(spark: SparkSession, quarantineDir: String,
                       warehouseDir: String, m: FileMapping, runId: Long): RunReport =
    eachTarget(spark, warehouseDir, runId, WatermarkTable, Seq(m))(_.targetName) { (m, out) =>
      val path = s"$quarantineDir/${m.targetName}"
      val fs = hadoopFs(spark, path)
      requireNoOrphanStage(spark, path)
      if (fs.exists(new Path(path))) {
        val sp = FileIngest.resplit(spark.read.parquet(path), m.key, m.payload, m.decimalCols)
        val current = out.watermark match {
          case Some(d) => sp.good.filter(col("create_dt").cast("date") >= lit(d).cast("date"))
          case None    => sp.good
        }
        val nGood = current.count()
        val nStale = sp.good.count() - nGood
        if (nGood > 0 || nStale > 0) {
          out.log += ((runId, s"qrp_${m.targetName}", nGood, 0L, nStale))
          if (nGood > 0) {
            val stg = current.persist()
            out.log += mergeInto(spark, warehouseDir, tableMapping(m), stg, runId,
              deleteTs = "9999-12-31 00:00:00", Scd.NoDeletes)
            stg.unpersist(blocking = false)
          }
          // replayed AND superseded rows both leave; only still-invalid stay
          if (sp.bad.isEmpty) fs.delete(new Path(path), true)
          else writeSwap(sp.bad, path)
        }
      }
    }

  // The run-log's table_name column doubles as a namespace: staging
  // counts log as stg_<target>, quarantine as qtn_/qrp_<target>, and
  // streaming idempotence markers as stream_<target>. A real target
  // named with one of these prefixes would collide (e.g. a table
  // literally called stream_x shares rows with streaming markers for
  // x, which can silently skip live micro-batches) — refused up front.
  private val ReservedPrefixes = Seq("stg_", "qtn_", "qrp_", "stream_")
  private def requireValidTarget(name: String): Unit =
    require(!ReservedPrefixes.exists(name.startsWith),
      s"target name '$name' starts with a reserved run-log prefix " +
        s"(${ReservedPrefixes.mkString(", ")}) — pick another name")

  /** Shared merge→log→snapshot-swap step for every loop: ONE SQL
    * execution writes the merged table, and the run-log counts are
    * observed on the written frame (nothing is cached, no DAG runs
    * twice). Any [[Observation]] on `stage` completes in the same write.
    * A stage row with a null key fails that write. Returns the target's
    * run-log row.
    */
  private def mergeInto(spark: SparkSession, warehouseDir: String,
                        m: TableMapping, stage: DataFrame, runId: Long,
                        deleteTs: String, liveness: Scd.Liveness): LogRow = {
    val targetPath = s"$warehouseDir/${m.targetName}"
    // a null key would merge as a row whose key and payload are all null;
    // it fails the table's own write instead (no job of its own), which
    // leaves the table and its watermark as they were
    val stg = stage.filter(col(m.key).isNotNull ||
      raise_error(lit(s"${m.targetName}: a staged row has a null key ${m.key}")))
    // the empty target is built from the schema, not derived from stg: a
    // second copy of an observed stg in the plan would observe it twice
    val stgCols = stg.select((m.key +: m.payload).map(col): _*).schema.fields.toSeq
    val emptyCols =
      if (m.scd == 2) stgCols ++ Seq(
        StructField("effective_from", TimestampType),
        StructField("effective_to", TimestampType),
        StructField("deleted_flg", BooleanType, nullable = false))
      else stgCols
    val dwh = readTargetOrEmpty(spark, targetPath,
      spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(emptyCols)))
    val merged = (m.scd, liveness) match {
      case (1, _)                   => Scd.scd1Merge(dwh, stg, m.key, m.payload)
      case (2, Scd.KeyList(lk))     => Scd.scd2MergeIncremental(dwh, stg, lk, m.key, m.payload, deleteTs)
      case (2, Scd.SnapshotStg)     => Scd.scd2Merge(dwh, stg, m.key, m.payload, deleteTs)
      case (2, Scd.NoDeletes)       => Scd.scd2MergeNoDeletes(dwh, stg, m.key, m.payload)
      case (other, _)               => throw new IllegalArgumentException(s"unsupported scd=$other")
    }
    val counted = Observation()
    val cols = mergeCounts(m.scd)
    val written = merged.observe(counted, cols.head, cols.tail: _*)
    writeSwap(if (m.scd == 1) written.drop("action") else written, targetPath)
    val c = observedRow(counted, "rows_inserted", "rows_updated", "rows_deleted")
    (runId, m.targetName, c.getLong(0), c.getLong(1), c.getLong(2))
  }

  /** The stage's row count, plus any named `metrics`, observed on
    * `frame` as the merge writes it. When the stage produced no rows,
    * adaptive execution may replace its side of the merge join with an
    * empty relation, which drops the observed node from the executed
    * plan and leaves [[observedRow]] empty. [[rows]] then recounts the
    * stage with an action of its own — a missing count is recounted,
    * never read as 0; the other metrics stay unobserved.
    */
  private final class Staged(stg: DataFrame, metrics: (String, Column)*) {
    private val obs = Observation()
    val frame: DataFrame = stg.observe(obs, count(lit(1)).as("rows"),
      metrics.map { case (n, c) => c.as(n) }: _*)
    lazy val observedRow: Option[Row] = observed(obs, "rows" +: metrics.map(_._1))
    def rows: Long = observedRow.fold(stg.count())(_.getAs[Long]("rows"))
  }

  /** The row an [[Observation]] collected in an execution that has
    * already returned. Metrics reach the Observation through the
    * session's listener bus, so this waits for them — bounded, since a
    * lost event must fail the run rather than hang it. A requested name
    * missing from the row (its node was optimized out of the executed
    * plan, which completes the Observation empty) throws: an unobserved
    * count is unknown, never 0.
    */
  private[graft] def observedRow(obs: Observation, names: String*): Row =
    observed(obs, names).getOrElse(throw new IllegalStateException(
      s"observed metrics ${names.mkString(", ")} missing from the executed plan"))

  /** The observed row, or None when any of `names` is missing from it. */
  private def observed(obs: Observation, names: Seq[String]): Option[Row] = {
    val row =
      try scala.concurrent.Await.result(obs.future, ObservedWait)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"observation ${obs.name} not delivered within $ObservedWait")
      }
    val have = Option(row.schema).map(_.fieldNames.toSet).getOrElse(Set.empty[String])
    if (names.forall(have)) Some(row) else None
  }

  private val ObservedWait = scala.concurrent.duration.Duration(5, "min")

  /** Business date from `name_DDMMYYYY.ext` — the shared definition. */
  def businessDate(path: String): java.time.LocalDate =
    FileIngest.businessDate(path)

  /** The one-row MAX(`c`) of the parquet table at `path`; None when the
    * table is absent or `c` has no value.
    */
  private def storedMax(spark: SparkSession, path: String, c: String): Option[Row] =
    Option.when(hadoopFs(spark, path).exists(new Path(path)))(
      spark.read.parquet(path).agg(max(col(c))).collect()(0)).filterNot(_.isNullAt(0))

  private def hadoopFs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Explicit-UTC render at µs precision — never Timestamp.toString
    * (JVM-default timezone).
    */
  private def utcString(ts: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(ts.toInstant)

  private def readTargetOrEmpty(spark: SparkSession, path: String,
                                empty: => DataFrame): DataFrame = {
    requireNoOrphanStage(spark, path)
    val fs = hadoopFs(spark, path)
    if (fs.exists(new Path(path))) spark.read.parquet(path) else empty
  }

  /** A watermark store: one (table_name, value) string row per target,
    * collected driver-side once per loop and snapshot-swapped whole when a
    * value moves — the reference's meta `last_update_dt`/`max_update_dt`
    * (etl.py:75-106). The file loop keeps business dates in
    * [[WatermarkTable]] (`last_dt`), the database loop timestamps in
    * [[TsWatermarkTable]] (`last_ts`). Reads and commits are serialized
    * under one lock, so every table swap is followed by a store write
    * that includes it.
    */
  private final class Watermarks(spark: SparkSession, warehouseDir: String, store: String) {
    private val path = s"$warehouseDir/$store"
    private val valueCol = if (store == WatermarkTable) "last_dt" else "last_ts"
    requireNoOrphanStage(spark, path)
    private var wm: Map[String, String] =
      if (!hadoopFs(spark, path).exists(new Path(path))) Map.empty
      else spark.read.parquet(path).collect().map(r => r.getString(0) -> r.getString(1)).toMap

    def get(target: String): Option[String] = synchronized(wm.get(target))

    def commit(target: String, value: String): Unit = synchronized {
      if (!wm.get(target).contains(value)) { wm += target -> value; saveWatermarks() }
    }

    private def saveWatermarks(): Unit =
      writeSwap(spark.createDataFrame(wm.toSeq).toDF("table_name", valueCol), path)
  }
}
