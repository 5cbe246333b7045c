package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** TIMESTAMP (with local tz) → TIMESTAMP_NTZ, recursively through
    * structs/arrays/maps. The driver reads our parquet via pyarrow and
    * the DuckDB oracle result as naive timestamps; a tz-aware
    * timestamp[us, UTC] column fails its schema compare even when every
    * value is identical (round-2 regression: the INT96→MICROS switch
    * made LTZ outputs tz-aware). Session tz is UTC, so the cast is a
    * pure re-label, not a wall-clock shift.
    */
  private def dropTz(dt: DataType): DataType = dt match {
    case TimestampType       => TimestampNTZType
    case s: StructType       => StructType(s.fields.map(f => f.copy(dataType = dropTz(f.dataType))))
    case a: ArrayType        => a.copy(elementType = dropTz(a.elementType))
    case m: MapType          => m.copy(keyType = dropTz(m.keyType), valueType = dropTz(m.valueType))
    case other               => other
  }

  def naiveTimestamps(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val target = dropTz(f.dataType)
      if (target == f.dataType) col(f.name) else col(f.name).cast(target).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — re-dump just
    // those (triage after a targeted fix at a new SF, without the
    // full-sweep cost). The driver always passes two args → full sweep.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    // a typo'd name would otherwise filter everything out, exit 0, and
    // leave a STALE parquet from a prior sweep for selfcheck to bless
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try naiveTimestamps(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // end-of-sweep cache hygiene (session-shared memo frames)
    try SparkEntry.releaseAllCaches()
    catch { case e: Throwable => System.err.println(s"[verify] releaseAllCaches failed: $e") }
    spark.stop()
  }
}
