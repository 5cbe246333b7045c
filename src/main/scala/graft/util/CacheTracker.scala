package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache ownership for one library object: the intermediates it
  * persists and the [[SessionMemo]]s it keeps. Persisted intermediates
  * are MEMORY_AND_DISK — blocks evicted from memory move to disk and
  * stay until unpersist, so long-lived sessions sweeping many corpora
  * must release between corpora. [[release]] drops both the frames and
  * the memos; [[CacheTracker.releaseAll]] releases every tracker.
  * Unpersisting is always safe: already-computed results are
  * unaffected, un-executed lazy plans recompute.
  */
final class CacheTracker {
  private val tracked = ArrayBuffer.empty[DataFrame]
  private val trackedRdds = ArrayBuffer.empty[RDD[_]]
  private val memos = ArrayBuffer.empty[SessionMemo[_, _]]
  CacheTracker.register(this)

  def trackPersist(df: DataFrame): DataFrame = tracked.synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked += p
    p
  }

  /** An RDD persisted under the same release: for rows a job both
    * computes into the cache and consumes, where a persisted frame
    * would cost a second job (under AQE a frame's first read
    * materializes its cache as a job of its own).
    */
  def trackPersist[T](rdd: RDD[T]): RDD[T] = tracked.synchronized {
    trackedRdds += rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd
  }

  /** A new memo owned by this tracker. `frames` names the persisted
    * frames a value holds, which must still be cached for a hit.
    */
  def memo[K, V](name: String,
                 frames: V => Seq[DataFrame] = (_: V) => Nil): SessionMemo[K, V] =
    memos.synchronized {
      val m = new SessionMemo[K, V](name, frames)
      memos += m
      m
    }

  private[util] def ownMemos: List[SessionMemo[_, _]] =
    memos.synchronized(memos.toList)

  // memos first, outside the frame lock: a memo build holds its memo's
  // lock while it calls trackPersist
  def release(): Unit = {
    ownMemos.foreach(_.clear())
    tracked.synchronized {
      tracked.foreach(_.unpersist(blocking = false))
      tracked.clear()
      trackedRdds.foreach(_.unpersist(blocking = false))
      trackedRdds.clear()
    }
  }

  /** Unpersist ONE tracked frame and forget it — for early releases
    * (e.g. a dispatch decision abandoning a probe frame) that would
    * otherwise leave a dead reference pinned until [[release]].
    */
  def releaseOne(df: DataFrame): Unit = tracked.synchronized {
    df.unpersist(blocking = false)
    val i = tracked.indexWhere(_ eq df)
    if (i >= 0) tracked.remove(i)
  }

  def releaseOne(rdd: RDD[_]): Unit = tracked.synchronized {
    rdd.unpersist(blocking = false)
    val i = trackedRdds.indexWhere(_ eq rdd)
    if (i >= 0) trackedRdds.remove(i)
  }
}

/** The registry of trackers: each registers when its owning object is
  * initialized, so an object never loaded has nothing to release.
  */
object CacheTracker {
  private val live = ArrayBuffer.empty[CacheTracker]

  private def register(t: CacheTracker): Unit = live.synchronized(live += t)

  private def trackers: List[CacheTracker] = live.synchronized(live.toList)

  /** Release every tracker's frames and memos. */
  def releaseAll(): Unit = trackers.foreach(_.release())

  /** Every memo of every registered tracker. */
  private[graft] def memos: Seq[SessionMemo[_, _]] = trackers.flatMap(_.ownMemos)
}
