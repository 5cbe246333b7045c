package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Minimal q85 timing probe (works on any tree revision). */
object ProbeQ85 {
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
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
        stages.put(si.stageId, (si.name.takeWhile(_ != '\n').take(80), dur,
          si.taskMetrics.inputMetrics.recordsRead))
      }
    })
    import graft.operators.Dedup
    val base = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 4 === 0)
    def run(): Long = {
      val (ib, is) = Dedup.nearDupIndex(
        base.filter(col("doc_id") % 8 === 0), "doc_id", "text", 3, 16, 16)
      Dedup.dedupIncrement(ib, is,
        base.filter(col("doc_id") % 8 =!= 0), "doc_id", "text",
        3, 0.6, 16, 16).count()
    }
    // pass1 = cold; pass2/3 = warm (Bench methodology: trackPersist'd
    // intermediates stay cached across the warmup and timed sweeps)
    for (pass <- 1 to 2) {
      stages.clear()
      val t0 = System.nanoTime()
      val n = run()
      println(f"pass$pass: ${(System.nanoTime() - t0) / 1e9}%.1f s rows=$n")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2._2).take(10).foreach {
        case (id, (name, dur, recs)) =>
          println(f"  stage $id%4d ${dur / 1000.0}%8.1f s recs=$recs%12d $name")
      }
    }
    spark.stop()
  }
}
