package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** JSON-lines corpus reader with bad-record quarantine — the ingest
  * format every large text-corpus pipeline speaks (one JSON document
  * per line, millions of lines per shard). The reference's flat-file
  * loop (file.py:28-45) has the same two failure classes this guards:
  * a line that does not parse, and a line that parses but misses a
  * required field.
  *
  * Built on `spark.read.text` + `from_json` rather than the native
  * JSON source's `_corrupt_record` column: the raw line stays a real
  * column BOTH sides (a quarantined record replays exactly as
  * delivered, the [[DelimitedSource.validitySplit]] posture), and the
  * split avoids Spark's restriction on queries that reference only the
  * internal corrupt-record column of a raw JSON scan. `from_json` is
  * codegen'd and executor-side — the split costs one parse per line,
  * no driver work, and text-file listing parallelizes like any scan.
  */
object JsonlSource {

  /** Permissive read: parse every line against `schema`, malformed
    * lines yielding null fields — the ingest path of a run without a
    * quarantine ([[FileIngest.read]]); [[readWithQuarantine]] routes
    * those lines out instead.
    */
  def read(spark: SparkSession, pathGlob: String, schema: StructType): DataFrame =
    spark.read.text(pathGlob)
      .select(from_json(col("value"), schema).as("rec"))
      .select(col("rec.*"))

  /** Read with bad-record routing. A line is quarantined when it is
    * not valid JSON for `schema` (reject_reason `malformed_json` —
    * including blank lines), when a required field is null/empty
    * after parsing (`missing_required`), or when a `decimalCols`
    * field carries a value in neither `12,5` nor `12.5` form
    * (`bad_decimal` — the same predicate as
    * [[DelimitedSource.validitySplit]]). `bad` carries the verbatim
    * `raw_line` plus `src_file`, so rejects replay exactly as
    * delivered; `good` is the typed frame with exactly `schema`'s
    * columns, decimal columns normalized to double. Both frames
    * derive from one flagged projection over one text scan — the same
    * single-pass shape as [[DelimitedSource.readWithQuarantine]].
    *
    * `schema` must not already contain a `_corrupt_record` field: that
    * name is claimed for the parse-failure marker.
    */
  def readWithQuarantine(spark: SparkSession, pathGlob: String,
                         schema: StructType,
                         requiredCols: Seq[String],
                         decimalCols: Seq[String] = Nil): DelimitedSource.QuarantinedRead = {
    // validate BEFORE the read — spark.read.text resolves the glob
    // eagerly, and a bad schema must fail as a contract violation, not
    // as whatever the path produces
    requireSchema(schema, requiredCols ++ decimalCols)
    val raw = spark.read.text(pathGlob)
      .select(col("value").as("raw_line"), input_file_name().as("src_file"))
    val sp = splitRaw(raw, schema, requiredCols, decimalCols)
    // public contract: good is exactly schema's columns
    sp.copy(good = sp.good.select(
      schema.fieldNames.map(col).toIndexedSeq: _*))
  }

  /** The jsonl validity split applicable to ANY frame carrying a
    * `raw_line` column — the file reader above and the quarantine
    * REPLAY path ([[FileIngest.resplit]], where the input is the stored
    * quarantine table) share it, mirroring
    * [[DelimitedSource.validitySplit]]. `good` projects `schema`'s
    * columns (decimals normalized) plus every NON-schema input column
    * except `raw_line` (so replay provenance like `src_file` survives
    * for business-date derivation); `bad` keeps the input columns
    * untouched plus a recomputed `reject_reason`.
    */
  def splitRaw(raw: DataFrame, schema: StructType,
               requiredCols: Seq[String],
               decimalCols: Seq[String] = Nil): DelimitedSource.QuarantinedRead = {
    requireSchema(schema, requiredCols ++ decimalCols)
    require(raw.columns.contains("raw_line"), "splitRaw needs a raw_line column")
    val extras = raw.columns.filterNot(_ == "raw_line").toSeq
    val clash = extras.toSet.intersect(schema.fieldNames.toSet)
    require(clash.isEmpty,
      s"input passthrough columns collide with schema fields: ${clash.mkString(", ")}")
    val flagged = raw.withColumn("rec",
      from_json(col("raw_line"), schema.add(CorruptField, StringType),
        Map("columnNameOfCorruptRecord" -> CorruptField)))
    val malformed: Column =
      // from_json nulls the whole struct on hard failures and fills the
      // corrupt field on soft ones — both are parse failures
      col("rec").isNull || col(s"rec.$CorruptField").isNotNull
    val missing: Column = requiredCols
      .map { c =>
        val absent = col(s"rec.$c").isNull
        if (schema(c).dataType == StringType)
          absent || trim(col(s"rec.$c")) === ""
        else absent
      }
      .foldLeft(lit(false))(_ || _)
    val badNum: Column = decimalCols
      .map(c => col(s"rec.$c").isNotNull &&
        expr(s"try_cast(replace(CAST(rec.`$c` AS STRING), ',', '.') AS DOUBLE)").isNull)
      .foldLeft(lit(false))(_ || _)
    val bad = flagged.filter(malformed || missing || badNum)
      .withColumn("reject_reason",
        when(malformed, "malformed_json")
          .when(missing, "missing_required")
          .otherwise("bad_decimal"))
      .select((("raw_line" +: extras) :+ "reject_reason").map(col): _*)
    val good = DelimitedSource.normalizeDecimalColumns(
      flagged.filter(!malformed && !missing && !badNum)
        .select((schema.fieldNames.map(c => col(s"rec.$c")) ++
          extras.map(col)).toIndexedSeq: _*),
      decimalCols)
    DelimitedSource.QuarantinedRead(good, bad)
  }

  private val CorruptField = "_corrupt_record"

  private def requireSchema(schema: StructType, cols: Seq[String]): Unit = {
    require(!schema.fieldNames.contains(CorruptField),
      s"schema must not define $CorruptField — it marks parse failures")
    cols.foreach(c => require(schema.fieldNames.contains(c), s"column '$c' is not in the schema"))
  }
}
