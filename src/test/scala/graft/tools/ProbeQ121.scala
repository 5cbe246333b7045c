package graft.tools

import org.apache.spark.sql.SparkSession

/** q121 timing probe at a scale dir (cold + warm passes). */
object ProbeQ121 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/testdata/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = graft.queries.CurationQueries.queries("q121_containment")(spark, dir).count()
      println(f"pass$pass: ${(System.nanoTime() - t0) / 1e9}%.1f s rows=$n")
    }
    spark.stop()
  }
}
