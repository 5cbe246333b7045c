package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `parent` is the index of the enclosing span, -1 for
  * an op's root; `op` is the op it belongs to, -1 outside any op.
  */
final case class Span(name: String, startNs: Long, var endNs: Long, parent: Int, op: Int) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the benchmark knows about one op without tracing: its name,
  * latency, GC time and storage after it ran. Listener counts join
  * these by wall-clock interval once the run ends.
  */
final case class OpRecord(id: Int, name: String, startNs: Long, endNs: Long,
                          startMs: Long, endMs: Long, gcMs: Long,
                          persistedNew: Int, cachedMb: Double, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class JobRec(startMs: Long, endMs: Long)
final case class TaskRec(finishMs: Long, runMs: Long, gcMs: Long,
                         inBytes: Long, inRecords: Long, outBytes: Long,
                         shWrite: Long, shRead: Long, spill: Long)
final case class PhaseRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Spans and listener counts, kept in memory and written once at the
  * end. With `enabled = false` a span costs one branch and records
  * nothing; the storage census runs either way because `storage_mb` is
  * an end-to-end metric.
  */
final class Tracer {
  /** Record spans and listener counts; off during untraced phases. */
  var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[OpRecord]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val phases = mutable.ArrayBuffer[PhaseRec]()
  /** Per curation pass: rows kept summed over stages, and the verified
    * share of banded LSH candidates.
    */
  val stageRows = mutable.ArrayBuffer[Long]()
  val verifyYield = mutable.ArrayBuffer[Double]()
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private val jobStarts = mutable.Map[Int, Long]()

  // rdd block id -> bytes (memory + disk) currently pinned
  private val blocks = mutable.Map[String, Long]()
  private var pinned = 0L
  @volatile private var peak = 0L

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), currentOp)
      stack = idx :: stack
      try f
      finally {
        spans(idx).endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Run `f` as op number `ops.size`; a throwing op is recorded as failed. */
  def op(sc: SparkContext, name: String)(f: => Unit): Boolean = {
    val id = ops.size
    val before = sc.getPersistentRDDs.keySet
    val gc0 = gcMs()
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    currentOp = id
    val ok =
      try { span(s"op.$name")(f); true }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] op $name failed: $e")
        false
      } finally currentOp = -1
    val (ns1, ms1) = (System.nanoTime(), System.currentTimeMillis())
    val after = sc.getPersistentRDDs.keySet
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    ops += OpRecord(id, name, ns0, ns1, ms0, ms1, gcMs() - gc0,
      (after -- before).size, cached, ok)
    ok
  }

  def resetPeak(): Unit = synchronized { peak = pinned }
  def peakMb: Double = synchronized { peak / 1e6 }

  /** Storage census for `storage_mb`; registered in every run. */
  def registerStorage(sc: SparkContext): Unit = {
    val self = this
    synchronized { blocks.clear(); pinned = 0L; peak = 0L }
    sc.addSparkListener(new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = self.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val key = info.blockId.name
          val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          pinned += now - blocks.getOrElse(key, 0L)
          if (now == 0L) blocks.remove(key) else blocks(key) = now
          if (pinned > peak) peak = pinned
        }
      }
      // unpersisting removes blocks without block-update events
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = self.synchronized {
        val prefix = s"rdd_${e.rddId}_"
        blocks.keys.filter(_.startsWith(prefix)).toSeq.foreach(k => pinned -= blocks.remove(k).get)
      }
    })
  }

  /** Job, task and planning-phase counts; registered for traced phases only. */
  def registerCounts(sc: SparkContext, session: org.apache.spark.sql.SparkSession): Unit = {
    val self = this
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (enabled) self.synchronized { jobStarts(e.jobId) = e.time }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (enabled) self.synchronized {
          jobStarts.remove(e.jobId).foreach(s => jobs += JobRec(s, e.time))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (enabled && e.taskMetrics != null) self.synchronized {
          val m = e.taskMetrics
          tasks += TaskRec(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled)
        }
    })
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (enabled) {
          val p = qe.tracker.phases
          def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
          val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
          self.synchronized {
            phases += PhaseRec(start, ms("analysis"), ms("optimization"), ms("planning"))
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }
}
