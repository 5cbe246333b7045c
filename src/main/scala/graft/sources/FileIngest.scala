package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The inbox file (reference finder.py + file.py): discovery, the
  * filename business date, the one delivery reader and post-load
  * archiving, on the Hadoop FileSystem API so the same code works
  * against local disk, HDFS, or object stores.
  */
object FileIngest {

  /** The `name_DDMMYYYY.ext` filename convention (file.py:17-27) — the
    * ONE definition every reader and the pipeline share.
    */
  val BusinessDateRegex: String = "_(\\d{8})\\.[A-Za-z0-9]+$"

  /** The business date of the file at `path`, parsed on the driver;
    * throws when the name carries none.
    */
  def businessDate(path: String): java.time.LocalDate = {
    val m = BusinessDateRegex.r.findFirstMatchIn(path).getOrElse(
      throw new IllegalArgumentException(s"no _DDMMYYYY business date in $path"))
    val d = m.group(1)
    java.time.LocalDate.of(d.substring(4, 8).toInt, d.substring(2, 4).toInt,
      d.substring(0, 2).toInt)
  }

  /** The business date of the file named by `path`, as a column: NULL
    * for a name with no `_DDMMYYYY`, an invalid one (`_31132024`) or a
    * NULL path. `try_to_date` never throws under ANSI, so one stray
    * file in a glob yields a null date instead of failing the read.
    */
  def businessDateCol(path: Column): Column =
    call_function("try_to_date", regexp_extract(path, BusinessDateRegex, 1), lit("ddMMyyyy"))

  /** One delivery split for the merge: `good` is the merge's stage
    * (see [[read]]); `bad` the rejects as delivered with `reject_reason`
    * and `src_file`; `badKeys` the rejects' non-null keys, which are live
    * at the source.
    */
  final case class Delivery(good: DataFrame, bad: DataFrame, badKeys: DataFrame)

  /** Read one inbox file without a quarantine, the format chosen by its
    * extension (file.py's `__HANDLER`): `.xlsx` through [[XlsxSource]],
    * `.jsonl` through [[JsonlSource]] with every mapped column a string,
    * anything else through [[DelimitedSource]]. The result is the
    * merge's stage: `key`, `payload` (decimal columns normalized to
    * double) and `create_dt`, the file's business date as a timestamp.
    * A row missing its key flows through with a null key; a decimal
    * value that does not parse fails the read (the cast is ANSI).
    */
  def read(spark: SparkSession, path: String, key: String, payload: Seq[String],
           decimalCols: Seq[String]): DataFrame =
    staged(DelimitedSource.normalizeDecimalColumns(
      if (isJsonl(path))
        JsonlSource.read(spark, path, stringSchema(key +: payload))
          .withColumn("create_dt", jsonlDate(path))
      else columnar(spark, path)._1,
      decimalCols), key, payload)

  /** Read one inbox file with the quarantine split: a row missing its
    * key or carrying an unparseable decimal goes to `bad` (a jsonl line
    * that is not JSON too, kept verbatim as `raw_line`). A jsonl
    * reject's key is a best-effort `get_json_object` pull.
    */
  def readQuarantined(spark: SparkSession, path: String, key: String,
                      payload: Seq[String], decimalCols: Seq[String]): Delivery = {
    val (q, keys) =
      if (isJsonl(path)) {
        val q = JsonlSource.readWithQuarantine(spark, path,
          stringSchema(key +: payload), Seq(key), decimalCols)
        (q.copy(good = q.good.withColumn("create_dt", jsonlDate(path))),
          q.bad.select(get_json_object(col("raw_line"), s"$$.$key").as(key)))
      } else {
        val (raw, srcFile) = columnar(spark, path)
        val q = DelimitedSource.validitySplit(raw, Seq(key), decimalCols)
        val bad = q.bad.withColumn("src_file", srcFile)
        (q.copy(bad = bad), bad.select(key))
      }
    Delivery(staged(q.good, key, payload), q.bad, keys.filter(col(key).isNotNull))
  }

  /** Re-split a stored quarantine of either shape after an operator
    * fixed rows in place: `good` is a stage as [[read]] returns it, its
    * `create_dt` the business date of each row's `src_file`, the date
    * the delivery stamped. A row whose `src_file` carries no valid date
    * (renamed by hand, invalid, or NULL) stays in `bad` with
    * reject_reason `dateless_src_file` (rename the file to release it):
    * with a null `create_dt` it would fail the replay's watermark
    * filter and leave the quarantine unmerged, and failing the whole
    * replay would hold back every dated row.
    */
  def resplit(stored: DataFrame, key: String, payload: Seq[String],
              decimalCols: Seq[String]): DelimitedSource.QuarantinedRead = {
    val date = businessDateCol(col("src_file"))
    val dated = stored.filter(date.isNotNull).drop("reject_reason")
    val sp =
      if (stored.columns.contains("raw_line"))
        JsonlSource.splitRaw(dated, stringSchema(key +: payload), Seq(key), decimalCols)
      else DelimitedSource.validitySplit(dated, Seq(key), decimalCols)
    sp.copy(good = staged(sp.good.withColumn("create_dt", date), key, payload),
      bad = sp.bad.unionByName(
        stored.filter(date.isNull).withColumn("reject_reason", lit("dateless_src_file"))))
  }

  private def staged(df: DataFrame, key: String, payload: Seq[String]): DataFrame =
    df.select((key +: payload).map(col) :+ col("create_dt").cast("timestamp").as("create_dt"): _*)

  private def isJsonl(path: String): Boolean = path.toLowerCase.endsWith(".jsonl")

  /** The all-string-column formats, an xlsx workbook or a delimited
    * file, with the column naming the file of each row: a workbook is
    * parsed from its bytes, so `input_file_name()` is empty there.
    */
  private def columnar(spark: SparkSession, path: String): (DataFrame, Column) =
    if (path.toLowerCase.endsWith(".xlsx")) (XlsxSource.read(spark, path), lit(path))
    else (DelimitedSource.read(spark, path), input_file_name())

  /** A jsonl mapping's parse schema: every column a raw string, as the
    * delimited reader delivers them.
    */
  private def stringSchema(cols: Seq[String]): StructType =
    StructType(cols.map(StructField(_, StringType)))

  /** A jsonl line carries no file name, so its file's date is stamped. */
  private def jsonlDate(path: String): Column = lit(java.sql.Date.valueOf(businessDate(path)))

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All files matching any of the glob templates under `dir`
    * (finder.py:14-23).
    */
  def find(spark: SparkSession, dir: String, templates: Seq[String]): Seq[String] = {
    val f = fs(spark, dir)
    templates.flatMap { t =>
      Option(f.globStatus(new Path(s"$dir/$t")))
        .map(_.toSeq.map(_.getPath.toString)).getOrElse(Seq.empty)
    }.distinct
  }

  /** Move a loaded file to `<dir>/archive/<name>.backup`
    * (file.py:46-51). Returns the archive path.
    */
  def archive(spark: SparkSession, filePath: String): String = {
    val p = new Path(filePath)
    val f = fs(spark, filePath)
    val archiveDir = new Path(p.getParent, "archive")
    if (!f.exists(archiveDir)) f.mkdirs(archiveDir)
    val dest = new Path(archiveDir, p.getName + ".backup")
    // rename reports failure via FALSE (e.g. destination already exists
    // from a redelivered same-named file) — swallowing it would leave
    // the file in the inbox marked as archived, and the next find()
    // would double-ingest it
    if (!f.rename(p, dest))
      throw new java.io.IOException(
        s"archive rename $p -> $dest failed (destination exists or source gone)")
    dest.toString
  }
}
