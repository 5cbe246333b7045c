package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader for the reference's daily flat-file format (file.py:30-36):
  * `;`-delimited text, UTF-8 (BOM tolerated), decimal commas, business
  * date encoded in the filename as `name_DDMMYYYY.ext` (file.py:17-27).
  *
  * Re-expressed on Spark's native CSV source so schema inference,
  * partitioned listing, and predicate pushdown all apply; the filename
  * date comes from `input_file_name()` — evaluated executor-side, no
  * driver listing.
  */
object DelimitedSource {

  /** Read one file or a glob of files, attaching `create_dt` from the
    * filename business date — the column the reference keys its
    * incremental watermark on (etl.py:150).
    */
  def read(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read
      .option("sep", ";")
      .option("header", "true")
      .option("encoding", "UTF-8")
      .csv(pathGlob)
      // a stray file in the glob (no date, or an invalid one) gets a
      // null create_dt, not a parse error
      .withColumn("create_dt", FileIngest.businessDateCol(input_file_name()))

  /** Normalize decimal-comma columns to doubles (file.py:33 replaces all
    * `,` with `.` before parsing — here it's per-column and codegen'd).
    */
  def normalizeDecimalColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, regexp_replace(col(c), ",", ".").cast("double"))
    }

  /** A read split into clean rows and quarantined rejects. `bad` keeps
    * every column as the RAW string plus `reject_reason` and
    * `src_file`, so a rejected row can be inspected and replayed
    * exactly as delivered.
    */
  case class QuarantinedRead(good: DataFrame, bad: DataFrame)

  /** Read with bad-record routing. Without it, [[read]] +
    * [[normalizeDecimalColumns]] let a row with a missing key flow on
    * with a null key, and a decimal value that does not parse fails the
    * whole read (the cast is ANSI). A row is quarantined when a required
    * column is missing/empty or a decimal-comma column carries a value
    * that parses to neither `12,5` nor `12.5` form; everything else is
    * returned normalized, exactly as [[read]] +
    * [[normalizeDecimalColumns]] would.
    *
    * Both frames derive from ONE flagged projection — the validity
    * predicate is codegen'd into the scan, so at scale this costs one
    * extra boolean column, not a second parse. (Spark re-scans the file
    * per sink unless the caller persists; the ETL loop counts the small
    * `bad` side first and lets the `good` scan stream into the merge.)
    */
  def readWithQuarantine(spark: SparkSession, pathGlob: String,
                         requiredCols: Seq[String],
                         decimalCols: Seq[String]): QuarantinedRead = {
    val sp = validitySplit(read(spark, pathGlob), requiredCols, decimalCols)
    sp.copy(bad = sp.bad.withColumn("src_file", input_file_name()))
  }

  /** The validity split itself, applicable to ANY frame of raw string
    * columns — the file readers (delimited and xlsx, through
    * [[FileIngest.readQuarantined]]) and the quarantine REPLAY path
    * ([[FileIngest.resplit]], where the input is the quarantine table,
    * not a file) share it. `bad` gains `reject_reason` only;
    * extra columns on the input (e.g. a preserved `src_file`) pass
    * through both sides untouched.
    */
  def validitySplit(raw: DataFrame, requiredCols: Seq[String],
                    decimalCols: Seq[String]): QuarantinedRead = {
    val missing = requiredCols
      .map(c => col(c).isNull || trim(col(c)) === "")
      .foldLeft(lit(false))(_ || _)
    val badNum = decimalCols
      .map(c => col(c).isNotNull &&
        expr(s"try_cast(replace(`$c`, ',', '.') AS DOUBLE)").isNull)
      .foldLeft(lit(false))(_ || _)
    val flagged = raw.withColumn("__missing", missing).withColumn("__badnum", badNum)
    val bad = flagged.filter(col("__missing") || col("__badnum"))
      .withColumn("reject_reason",
        when(col("__missing"), "missing_required").otherwise("bad_decimal"))
      .drop("__missing", "__badnum")
    val good = normalizeDecimalColumns(
      flagged.filter(!col("__missing") && !col("__badnum"))
        .drop("__missing", "__badnum"),
      decimalCols)
    QuarantinedRead(good, bad)
  }
}
