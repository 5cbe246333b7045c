package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Scratch profiler: run the named queries warm (Bench session config)
  * and print every Spark JOB the warm execution fires with its wall
  * duration — separates scheduler-floor cost (many tiny jobs) from real
  * compute when a query's warm time looks too high for its plan.
  * Usage: Test/runMain graft.tools.ProbeJobs q192
  */
object ProbeJobs {
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
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    // executor-side pressure census per probe window (the §5 question a
    // pass-time spread alone cannot answer: spill vs host noise)
    val memSpill = new java.util.concurrent.atomic.AtomicLong()
    val diskSpill = new java.util.concurrent.atomic.AtomicLong()
    val shufRead = new java.util.concurrent.atomic.AtomicLong()
    val shufWrite = new java.util.concurrent.atomic.AtomicLong()
    def resetMetrics(): Unit = {
      memSpill.set(0); diskSpill.set(0); shufRead.set(0); shufWrite.set(0)
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties).map(_.getProperty("spark.job.description"))
            .flatMap(Option(_)).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(je.jobId, (je.time, "?"))
        done.add((je.jobId, je.time - t0, desc))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    val byShort = graft.SparkEntry.queries.map { case (k, v) =>
      k.takeWhile(_ != '_') -> ((k, v))
    }
    // N warm passes per query via SPARK_GRAFT_PROBE_PASSES (default 1):
    // the spill-vs-noise question needs per-pass metrics, not one sample
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "1").toInt
    args.foreach { short =>
      val (name, fn) = byShort(short)
      resetMetrics(); done.clear()
      val tc0 = System.nanoTime()
      fn(spark, sfDir).count() // cold pass builds memos/caches
      val tCold = (System.nanoTime() - tc0) / 1e9
      Thread.sleep(300)
      println(f"PROBE $name cold=$tCold%.3f s " +
        f"spillMem=${memSpill.get >> 20} MB spillDisk=${diskSpill.get >> 20} MB " +
        f"shufR=${shufRead.get >> 20} MB shufW=${shufWrite.get >> 20} MB")
      (1 to passes).foreach { p =>
        resetMetrics(); done.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        df.count()
        val tCount = (System.nanoTime() - t1) / 1e9
        val wall = tBuild + tCount
        Thread.sleep(300)
        val rows = done.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        println(f"PROBE $name pass$p warm=$wall%.3f s (build=$tBuild%.3f count=$tCount%.3f), " +
          f"${rows.length} jobs, spillMem=${memSpill.get >> 20} MB " +
          f"spillDisk=${diskSpill.get >> 20} MB shufR=${shufRead.get >> 20} MB " +
          f"shufW=${shufWrite.get >> 20} MB host_load=${
            java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
        if (sys.env.contains("SPARK_GRAFT_PROBE_JOBS"))
          rows.foreach { case (id, ms, desc) =>
            println(f"  job $id%4d ${ms / 1000.0}%7.3f s  ${desc.take(90)}")
          }
      }
    }
    spark.stop()
  }
}
