package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.EtlPipeline.{RunLogTable, TsWatermarkTable, WatermarkTable}
import graft.sources.Compaction

/** Operational inventory of a graft parquet warehouse — the
  * observability the reference keeps in its meta tables
  * (trsh_meta_etl_update, trsh_meta_etl_run_log) surfaced as one frame
  * an operator can eyeball or alert on.
  *
  * Listing is metadata-priced: one FileSystem recursive listing per
  * table (the same cost every parquet write's commit pays) plus reads
  * of the two small meta tables; no data files open. At 100 TB the
  * listing parallelizes per table on the driver's FS client — for
  * object stores with slow LIST, point it at the table subset you're
  * auditing.
  */
object WarehouseOps {

  private val MetaTables = Set(WatermarkTable, TsWatermarkTable, RunLogTable)

  /** The file-footprint half of [[inventory]]: one row per table —
    * (table_name, n_files, total_bytes, last_modified) from a
    * recursive FS listing alone. No meta-table reads, so it works on
    * any directory of parquet tables (including warehouses whose run
    * log predates the run_start/end columns); [[measuredWriteAmp]]'s
    * presence gate uses exactly this. Meta tables and snapshot-swap
    * stage directories are not listed; a stage directory whose table
    * or meta store is missing is an interrupted swap, and the listing
    * refuses it like every warehouse reader
    * ([[Compaction.requireNoOrphanStage]]).
    */
  def footprint(spark: SparkSession, warehouseDir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(root)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(root).filter(_.isDirectory)
    dirs.map(_.getPath.getName).filter(Compaction.isStage).foreach(s =>
      Compaction.requireNoOrphanStage(spark,
        s"$warehouseDir/${s.stripSuffix(Compaction.StageSuffix)}"))
    val tables = dirs.filter { s =>
      val name = s.getPath.getName
      !MetaTables(name) && !Compaction.isStage(name)
    }
    tables.map { t =>
      val it = fs.listFiles(t.getPath, true)
      var nFiles = 0L; var bytes = 0L; var lastMod = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          nFiles += 1; bytes += f.getLen
          if (f.getModificationTime > lastMod) lastMod = f.getModificationTime
        }
      }
      (t.getPath.getName, nFiles, bytes,
        if (lastMod == 0) null else new java.sql.Timestamp(lastMod))
    }.toSeq.toDF("table_name", "n_files", "total_bytes", "last_modified")
  }

  /** One row per warehouse table: file/byte footprint, last file
    * modification, stored watermark — the file loop's business date or
    * the database loop's timestamp, whichever store names the table
    * (null when neither does) — and the id/time of the LAST run that
    * wrote it, taken from one run-log row (struct-max on
    * (run_end_dt, run_id), so the pair is internally consistent even
    * when caller-supplied run ids aren't time-ordered). Meta tables and
    * snapshot-swap stage directories are excluded; an interrupted swap
    * of any table or meta store is refused ([[footprint]]'s check).
    */
  def inventory(spark: SparkSession, warehouseDir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = footprint(spark, warehouseDir)

    def wmStore(name: String) = {
      val p = s"$warehouseDir/$name"
      if (fs.exists(new Path(p)))
        spark.read.parquet(p).toDF("table_name", "watermark")
      else Seq.empty[(String, String)].toDF("table_name", "watermark")
    }
    val wm = wmStore(WatermarkTable).unionByName(wmStore(TsWatermarkTable))

    val logPath = s"$warehouseDir/$RunLogTable"
    val lastRun =
      if (fs.exists(new Path(logPath)))
        spark.read.parquet(logPath)
          .groupBy("table_name")
          .agg(max(struct(col("run_end_dt"), col("run_id"))).as("lr"))
          .select(col("table_name"), col("lr.run_id").as("last_run_id"),
            col("lr.run_end_dt").as("last_run_dt"))
      else Seq.empty[(String, Long, java.sql.Timestamp)]
        .toDF("table_name", "last_run_id", "last_run_dt")

    rows.join(wm, Seq("table_name"), "left")
      .join(lastRun, Seq("table_name"), "left")
      .orderBy("table_name")
  }

  /** Outcome of a [[forgetKey]] pass: files the bloom shortlisted,
    * files actually rewritten (or deleted when nothing remained),
    * rows removed, and the refreshed bloom index (persist it —
    * the old one references vanished files).
    */
  case class ForgetResult(filesExamined: Long, filesRewritten: Long,
                          rowsRemoved: Long, index: DataFrame)

  /** Right-to-be-forgotten as a SURGICAL rewrite: remove every row
    * with `keyCol = key` from a parquet directory by rewriting ONLY
    * the files whose bloom may contain the key — the
    * deletion-vector-lite mechanic a plain-parquet lakehouse has
    * available. Cost is bloom-bounded: a layout clustered on the key
    * (the [[graft.operators.ZOrder]]/repartitionByRange write path)
    * rewrites a handful of files; a hash-scattered key degrades to a
    * full rewrite — correctly, never silently missing a row (bloom
    * false negatives are impossible).
    *
    * Each hit file rewrites to a DETERMINISTIC sibling name derived
    * from (source file, key hash), then the source is deleted — so a
    * crash between the two steps re-converges on re-run (the rewrite
    * overwrites the same target; rows are never lost, and the
    * still-present source keeps the key findable until the delete
    * lands — readers in that window may see surviving rows twice,
    * the price of per-file atomicity on plain parquet; the snapshot-
    * swap table writes elsewhere make the same trade). NULL keys are
    * refused (no bloom membership; NULL never
    * equals a predicate) and null-keyed ROWS are always preserved.
    * Call with the STORED index (the [[graft.operators.FileBloomIndex]]
    * caveat); the returned refreshed index covers the rewritten files.
    *
    * Job structure is O(1), not O(candidates): the pass first REFRESHES
    * coverage (an [[graft.operators.FileBloomIndex.updateIndex]] over
    * the supplied index, so files ingested after the index build are
    * bloomed rather than silently skipped — and the refresh's key_col
    * guard fires BEFORE any destructive step), then runs ONE
    * aggregation over all shortlisted files (per-file hit/total counts
    * via `input_file_name`), ONE batched rewrite job of every
    * partially-hit file (kept rows repartitioned so each source file's
    * survivors land in exactly one output file, written under a hidden
    * temp dir partitioned by source id), metadata-priced renames to the
    * deterministic sibling names, and finally the batched source
    * deletes — survivors are durable before ANY source vanishes, so a
    * crash at any point re-converges exactly as the per-file variant
    * did. A hash-scattered key therefore costs two data passes over the
    * hit files, never 2·|files| serial single-task jobs. The batched
    * scan reads the candidates under the table's unified schema — the
    * warehouse invariant every multi-file reader here already assumes.
    * The closing index refresh resumes from the MATERIALIZED coverage
    * index, blooming only the fk-rewrite files — late-ingest files are
    * bloomed once per call, not twice. A legacy index with no recorded
    * key_col is refused up front (the [[graft.operators.FileBloomIndex
    * .updateIndex]] legacy guard; forgetKey never asserts
    * assumeLegacyKeyCol — destructive pruning demands verifiable
    * metadata).
    */
  def forgetKey(spark: SparkSession, path: String, index: DataFrame,
                keyCol: String, key: Any,
                expectedItemsPerFile: Long = 1000000L,
                fpp: Double = 0.01): ForgetResult = {
    import graft.operators.FileBloomIndex
    require(key != null, "forgetKey needs a non-null key")
    val data = spark.read.parquet(path)
    val keyType = data.schema(keyCol).dataType
    val probe = lit(key).cast(keyType)
    val hk = spark.range(1).select(xxhash64(probe)).head().getLong(0)
    val hex = java.lang.Long.toHexString(hk)
    import spark.implicits._
    // coverage first: prune with an index that is guaranteed to span
    // data.inputFiles, so a row in a file the stored index never saw
    // cannot survive while ForgetResult reports success.
    // MATERIALIZED (localCheckpoint): the spanning frame is reused as
    // the base of the final refresh below — without it the refresh
    // would re-bloom every late-ingest file a second time (a second
    // full data pass at the 100 TB posture), and the lazy plan's
    // explicit new-file reads would dangle once the source deletes
    // remove those paths.
    val spanning = FileBloomIndex.updateIndex(spark, path, index, keyCol,
      expectedItemsPerFile, fpp).localCheckpoint(true)
    val candidates = spanning.select(col("file"), col("bloom"))
      .as[(String, Array[Byte])]
      .filter { case (_, bytes) =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainLong(hk)
      }
      .map(_._1).collect().sorted
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var rewritten = 0L
    var removed = 0L
    if (candidates.nonEmpty) {
      // ONE job: per-candidate-file hit/total census (map-side combined).
      // The schema is supplied, not re-inferred — skips a footer-reading
      // job per scan (and at 100 TB, a footer pass over the shortlist)
      val stats = spark.read.schema(data.schema).parquet(candidates.toIndexedSeq: _*)
        .groupBy(input_file_name().as("src"))
        .agg(sum(when(col(keyCol) === probe, 1L).otherwise(0L)).as("hits"),
          count(lit(1)).as("total"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val hit = stats.filter(_._2 > 0)
      removed = hit.map(_._2).sum
      rewritten = hit.length.toLong
      val rewrites = hit.collect { case (f, h, t) if h < t => f }.sorted
      def srcPath(file: String) = new Path(new java.net.URI(file))
      def targetOf(src: Path) =
        new Path(src.getParent, s"${src.getName.stripSuffix(".parquet")}-fk$hex.parquet")
      if (rewrites.nonEmpty) {
        // ONE job: every partially-hit file rewritten together. The
        // repartition on the source id puts each file's survivors in
        // exactly one task, so each __sid directory holds exactly one
        // part file — the unit the deterministic rename needs.
        val sidDf = broadcast(
          rewrites.zipWithIndex.toSeq.toDF("__fk_src", "__fk_sid"))
        val tmp = new Path(path, s".tmp_fk_$hex")
        spark.read.schema(data.schema).parquet(rewrites.toIndexedSeq: _*)
          .withColumn("__fk_src", input_file_name())
          .filter(col(keyCol).isNull || col(keyCol) =!= probe)
          .join(sidDf, "__fk_src")
          .drop("__fk_src")
          .repartition(rewrites.length, col("__fk_sid"))
          .write.mode("overwrite").partitionBy("__fk_sid").parquet(tmp.toString)
        rewrites.zipWithIndex.foreach { case (file, sid) =>
          val src = srcPath(file)
          val part =
            fs.globStatus(new Path(new Path(tmp, s"__fk_sid=$sid"), "part-*.parquet")) match {
              case Array(one) => one.getPath
              case other => throw new IllegalStateException(
                s"expected one part for $file under $tmp, found ${other.length}")
            }
          val target = targetOf(src)
          if (fs.exists(target)) fs.delete(target, false)
          require(fs.rename(part, target), s"rename $part -> $target failed")
        }
        fs.delete(tmp, true)
      }
      // batched source deletes LAST: every survivor is already durable
      // under its rewrite name, so the worst crash window leaves a
      // source/rewrite pair both visible (re-run converges; readers may
      // briefly see survivors twice — the documented per-file-atomicity
      // price). Fully-hit files need no rewrite: the delete IS the edit.
      hit.foreach { case (file, _, _) =>
        require(fs.delete(srcPath(file), false), s"delete $file failed")
      }
    }
    // final refresh RESUMES from the materialized spanning index: rows
    // for deleted sources drop via the present-file join, and only the
    // fk-rewrite files are bloomed fresh — never a re-bloom of the
    // late-ingest files the coverage pass already paid for
    val refreshed = FileBloomIndex.updateIndex(spark, path, spanning, keyCol,
      expectedItemsPerFile, fpp)
    ForgetResult(candidates.length.toLong, rewritten, removed, refreshed)
  }
}
