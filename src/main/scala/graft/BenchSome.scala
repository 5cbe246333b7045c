package graft

import org.apache.spark.sql.SparkSession

/** Scratch profiler: time the named queries (in the given order) with
  * Bench's exact session config — used to separate per-query cost from
  * full-bench interference (cache accumulation, GC) when a BENCH_r{N}
  * timing looks implausible. Usage: runMain graft.BenchSome q21 q27 ...
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional dial overrides for scale probes (the graft.* dials are
    // runtime conf, readable via spark.conf at call sites):
    // SPARK_GRAFT_CONF="k1=v1;k2=v2". E.g. the sf10 q85 probe sizes
    // graft.dedup.maxBroadcastSetBytes to the measured corpus (125k-doc
    // index ≈ 340 MB raw > the conservative 256 MB default).
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF segment '$kv' is not key=value")
        val (k, v) = (kv.substring(0, i), kv.substring(i + 1))
        System.err.println(s"BenchSome conf override: $k=$v")
        spark.conf.set(k, v)
      })
    spark.range(1000).selectExpr("sum(id)").collect()
    val byShort = SparkEntry.queries.map { case (k, v) => k.takeWhile(_ != '_') -> ((k, v)) }
    args.foreach { short =>
      val (name, fn) = byShort(short)
      // warmup + two timed passes, like Bench
      fn(spark, sfDir).count()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIMING $name min=${times.min}%.3f passes=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
