package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet-directory rewrites: the warehouse's one snapshot-swap
  * protocol and small-file compaction on top of it.
  *
  * Every table, mart, watermark store and quarantine is replaced whole
  * by [[writeSwap]]: write the new copy to `<path>__stage`, then rename
  * it over the old directory. The write materializes the plan before the
  * old directory is touched, because Spark cannot overwrite a path a
  * lazy plan still reads.
  *
  * Streaming sinks and incremental merges (EtlPipeline.streamingMerge,
  * MartAccumulate appends) accrete many small files; at cluster scale
  * each file costs a task, a NameNode entry, and a footer read, so scan
  * parallelism degrades into scheduling overhead. Compaction rewrites
  * the directory into `ceil(bytes / targetBytes)` files through the same
  * swap. The file census comes from the filesystem, not a data scan, so
  * deciding whether to compact is metadata-priced — callers can run
  * [[needsCompaction]] on every pipeline tick and pay a rewrite only
  * when fragmentation crossed the threshold.
  */
object Compaction {

  /** Suffix of the directory a swap writes before its rename. */
  val StageSuffix = "__stage"

  /** True for a swap's stage directory: in flight, or left by a crash. */
  def isStage(name: String): Boolean = name.endsWith(StageSuffix)

  /** Snapshot-swap write: parquet to the stage directory, then rename
    * over the old table. A write that throws leaves its (empty or
    * partial) output directory behind; it is deleted before the error
    * goes on, or the next run would read it as an interrupted swap of a
    * target that does not exist yet.
    */
  def writeSwap(df: DataFrame, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new Path(path + StageSuffix)
    try df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    catch { case e: Throwable => fs.delete(stage, true); throw e }
    if (fs.exists(p)) fs.delete(p, true)
    if (!fs.rename(stage, p))
      throw new java.io.IOException(s"rename $stage -> $p failed")
  }

  // A crash between writeSwap's delete and rename leaves the ONLY copy
  // of a table at the stage path. Every reader AND every writer that
  // could recreate the target must refuse loudly then: silently reading
  // "empty" discards history (warehouse tables), resets watermarks
  // (backwards scd2 merges), or drops parked rejects (quarantine) —
  // and a writer recreating the target would HIDE the orphan from the
  // readers' checks forever.
  def requireNoOrphanStage(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path)) && fs.exists(new Path(path + StageSuffix)))
      throw new IllegalStateException(
        s"$path is missing but $path$StageSuffix exists — an interrupted " +
          "snapshot swap. Recover by renaming the stage directory to the " +
          "target path before re-running.")
  }

  final case class Census(nFiles: Int, totalBytes: Long) {
    def avgBytes: Long = if (nFiles == 0) 0L else totalBytes / nFiles
  }

  /** Count the data files and bytes under `path` (metadata-only). */
  def census(spark: SparkSession, path: String): Census = {
    requireNoOrphanStage(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Census(0, 0L)
    else {
      val files = fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      Census(files.length, files.map(_.getLen).sum)
    }
  }

  /** True when the directory holds more than `maxFiles` data files
    * averaging under `minAvgBytes` — the fragmentation signature worth
    * a rewrite (a few small files, or many large ones, are both fine).
    */
  def needsCompaction(spark: SparkSession, path: String,
                      maxFiles: Int = 16,
                      minAvgBytes: Long = 8L * 1024 * 1024): Boolean = {
    val c = census(spark, path)
    c.nFiles > maxFiles && c.avgBytes < minAvgBytes
  }

  /** Rewrite `path` into `ceil(totalBytes / targetBytes)` parquet files
    * and swap the result in with [[writeSwap]]. Returns the
    * post-compaction census. `coalesce` (not repartition) keeps the
    * rewrite shuffle-free — one streaming pass over the old files; row
    * order within the table is not part of the parquet contract. Note
    * coalesce also caps the READ parallelism at `nOut`; that is the
    * right trade here because a small `nOut` implies a small table (nOut
    * scales with total bytes), while a 100 TB-scale compaction gets
    * hundreds of output files and therefore hundreds of read tasks.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Census = {
    val before = census(spark, path)
    if (before.nFiles == 0) return before
    val nOut = math.max(1L, (before.totalBytes + targetBytes - 1) / targetBytes).toInt
    writeSwap(spark.read.parquet(path).coalesce(nOut), path)
    census(spark, path)
  }
}
