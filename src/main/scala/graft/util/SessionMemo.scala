package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A value built at most once per (session, key) and shared by every
  * later caller in that session: the warehouse posture of a table
  * materialized once and read by every consumer (the verified-pair
  * table, the fraud feature table and model, the ANN indexes). Made by
  * [[CacheTracker.memo]]; the owning tracker's release clears it.
  *
  * The contract, the same for every memo:
  *  - A cached value is a hit only for the session that built it (the
  *    session is part of the key; a frame bound to another or a stopped
  *    session fails at execution), while every frame it holds is still
  *    cached and every input frame passed now is the instance it was
  *    built from. A value computed from another memo's frame names that
  *    frame as an input, so it rebuilds when that frame does.
  *  - Otherwise the value is REBUILT, never re-persisted: the builder
  *    re-registers every tracked intermediate under the top frame, so a
  *    plan after an external `clearCache` prints the same as in a fresh
  *    JVM (the golden plans of the exchange-budget lint depend on it).
  *    Builders are deterministic for fixed inputs, so a rebuild cannot
  *    change a result.
  *  - A key does not see its inputs' files: release between corpora (or
  *    before rewriting a corpus in place), or a dir-keyed value is
  *    served for the old files.
  *  - One lock per memo: concurrent callers of one key build once.
  *  - At most [[SessionMemo.MaxEntries]] entries; past that the memo
  *    starts over, so a long-lived session keying on a new plan per
  *    batch cannot accumulate driver state.
  */
final class SessionMemo[K, V] private[util] (
    val name: String, frames: V => Seq[DataFrame]) {

  private case class Entry(value: V, inputs: Seq[DataFrame], held: Seq[DataFrame])

  private val entries = mutable.HashMap.empty[(SparkSession, K), Entry]

  def apply(s: SparkSession, key: K, inputs: DataFrame*)(build: => V): V =
    synchronized {
      entries.get((s, key)) match {
        case Some(e) if e.inputs.corresponds(inputs)(_ eq _) &&
            (e.held ++ inputs).forall(_.storageLevel != StorageLevel.NONE) =>
          e.value
        case _ =>
          if (entries.size >= SessionMemo.MaxEntries) entries.clear()
          val v = build
          entries((s, key)) = Entry(v, inputs, frames(v))
          v
      }
    }

  private[graft] def size: Int = synchronized(entries.size)

  /** The values cached for session `s`. */
  private[graft] def valuesFor(s: SparkSession): Seq[V] =
    synchronized(entries.collect { case ((owner, _), e) if owner eq s => e.value }.toSeq)

  private[util] def clear(): Unit = synchronized(entries.clear())
}

object SessionMemo {
  val MaxEntries = 64
}
