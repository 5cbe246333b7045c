package graft

import java.util.concurrent.{Semaphore, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** The profiler: runs the named queries (qNN prefixes, in the order
  * given) in Bench's session, each as one cold and two warm passes. Per
  * pass it splits the wall time into build (the query constructor, where
  * eager probes and driver collects hide) and count (the action), with
  * the pass's jobs, spill and shuffle; after the last pass it lists each
  * job, then prints the `TIMING` line Bench's numbers are compared with.
  * It separates per-query cost from full-bench interference, and
  * scheduler overhead (many tiny jobs) from real compute.
  *
  * Usage: runMain graft.BenchSome q21 q27 ...
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val named = SparkEntry.byShortName(args.toSeq)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt)
    // Optional dial overrides for scale probes (the graft.* dials are
    // runtime conf, readable via spark.conf at call sites):
    // SPARK_GRAFT_CONF="k1=v1;k2=v2", e.g.
    // "graft.dedup.maxBroadcastBandRows=0" to time a dedup query's
    // censused band join instead of its broadcast fast path. README's
    // dial table lists every key.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF segment '$kv' is not key=value")
        val (k, v) = (kv.substring(0, i), kv.substring(i + 1))
        System.err.println(s"BenchSome conf override: $k=$v")
        spark.conf.set(k, v)
      })
    val profile = new PassProfile(spark.sparkContext)
    spark.sparkContext.addSparkListener(profile)
    spark.range(1000).selectExpr("sum(id)").collect()
    val passes = Seq("cold", "warm1", "warm2")
    named.foreach { case (name, fn) =>
      val walls = passes.map { pass =>
        profile.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        profile.settle()
        val (build, count) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        println(f"PASS $name $pass wall=${build + count}%.3f build=$build%.3f " +
          f"count=$count%.3f ${profile.summary}")
        if (pass == passes.last) profile.jobLines.foreach(println)
        build + count
      }
      val times = walls.tail
      println(f"TIMING $name min=${times.min}%.3f passes=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }

  /** Jobs, spill and shuffle bytes since the last [[reset]]. Listener
    * events arrive on another thread after the action returns;
    * [[settle]] runs a marker job and waits for its end, after which
    * every earlier event has arrived (one listener sees events in order).
    */
  private final class PassProfile(sc: SparkContext) extends SparkListener {
    private val Marker = "graft.BenchSome settle"
    private val settled = new Semaphore(0)
    private val started = mutable.HashMap.empty[Int, (Long, String)]
    private val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    private var spillMem, spillDisk, shuffleRead, shuffleWrite = 0L

    def reset(): Unit = synchronized {
      started.clear(); jobs.clear()
      spillMem = 0; spillDisk = 0; shuffleRead = 0; shuffleWrite = 0
    }

    def settle(): Unit = {
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      settled.tryAcquire(30, TimeUnit.SECONDS)
    }

    def summary: String = synchronized {
      def mb(b: Long) = f"${b / 1048576.0}%.1f"
      s"jobs=${jobs.size} spill_mem_mb=${mb(spillMem)} spill_disk_mb=${mb(spillDisk)} " +
        s"shuffle_read_mb=${mb(shuffleRead)} shuffle_write_mb=${mb(shuffleWrite)}"
    }

    def jobLines: Seq[String] = synchronized {
      jobs.sortBy(_._1).toSeq.map { case (id, ms, site) =>
        f"  job $id%5d ${ms / 1000.0}%7.3f s  ${site.take(90)}"
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      started(e.jobId) = (e.time, site.getOrElse(""))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, site) =>
        if (site == Marker) settled.release() else jobs += ((e.jobId, e.time - t0, site))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      Option(e.stageInfo.taskMetrics).foreach { m =>
        spillMem += m.memoryBytesSpilled
        spillDisk += m.diskBytesSpilled
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}
