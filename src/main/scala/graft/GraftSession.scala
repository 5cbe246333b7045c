package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration graft's queries are written, tested
  * and timed against. Bench, BenchSome, Verify, Explain, the test suites
  * and GenScale all build through [[local]], so a number from one of
  * them describes the same session as a number from another; a caller
  * with its own needs sets them on `spark.conf` after the build.
  */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, AQE on, the
    * timestamp settings below, no UI, [[graft.plans.GraftExtensions]]
    * and log level WARN. Returns the active session if one exists.
    */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // INT96 (the default) overflows int64 nanos for the 9999-12-31
      // SCD2 open-end sentinel when pyarrow reads it back — write µs.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet stores ts as TIMESTAMP(NANOS) in some testdata
      // generations (read as raw int64) and as TIMESTAMP(MICROS,
      // isAdjustedToUTC=false) in others (read as TimestampType, not
      // NTZ); Tables.events normalizes both to µs TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
