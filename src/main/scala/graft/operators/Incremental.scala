package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermark-based incremental loading (reference etl.py:75-106,190-199).
  *
  * The reference tracks `max_update_dt` per table in a metadata table and
  * pulls only `COALESCE(update_dt, create_dt) > watermark`. Re-expressed
  * declaratively: the predicate is a plain `Column` filter so Catalyst
  * pushes it into the parquet scan (partition-prunable when the source is
  * date-partitioned — the 100 TB layout).
  */
object Incremental {

  /** Rows strictly newer than the watermark. */
  def newerThan(df: DataFrame, tsCol: String, watermark: String): DataFrame =
    df.filter(col(tsCol) > lit(watermark).cast("timestamp"))

  /** Reference semantics with a change-tracking pair of columns:
    * COALESCE(updateCol, createCol) > watermark.
    */
  def changedSince(df: DataFrame, createCol: String, updateCol: String,
                   watermark: String): DataFrame =
    df.filter(coalesce(col(updateCol), col(createCol)) > lit(watermark).cast("timestamp"))
}
