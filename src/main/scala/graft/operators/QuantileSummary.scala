package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable quantile summary — the fourth member of the repo's
  * mergeable-summary family (Misra-Gries frequencies = q100, KMV
  * distinct sets = q101, bottom-k samples = q102): per-group order
  * statistics without a per-group corpus sort.
  *
  * The structure is the classic multi-level compaction summary of
  * Munro & Paterson (1980, "Selection and sorting with limited
  * storage") as modernized by Manku-Rajagopalan-Lindsay (SIGMOD 1998)
  * and KLL (Karnin-Lang-Liberty, FOCS 2016): level i holds items of
  * weight 2^i; when a level overflows its capacity the sorted buffer
  * collapses pairs into their odd-index (upper) element at double
  * weight. Unlike KLL we compact DETERMINISTICALLY (always the upper
  * element, never a coin flip) so a fixed input and merge tree always
  * reproduce the same summary — the property specs can pin results,
  * and no executor-side randomness is needed. Total weight is
  * preserved exactly by compaction (2m items of weight w become m of
  * weight 2w; an odd leftover keeps its level), so rank targets are
  * computed against the true count.
  *
  * Contracts:
  *  - n ≤ capacity: NO compaction ever runs, the summary holds every
  *    value, and quantiles are EXACT type-1 order statistics (value at
  *    rank ceil(p·n/100)) — merge-tree-independent, hence
  *    oracle-checkable against an exact SQL window (q107).
  *  - n > capacity: the returned value is always a genuine input
  *    element whose rank error is bounded by the compaction depth
  *    (≈ n·log₂(n/c)/c for per-level capacity c — the deterministic
  *    Munro-Paterson bound; the property spec asserts an empirical
  *    envelope). State stays O(capacity · log₂(n/capacity)).
  *
  * At 100 TB this is the only viable shape for per-group percentiles
  * over high-cardinality groups: the exact window formulation (q43)
  * sorts every group's full row set; this Aggregator ships O(c log n)
  * state per group with map-side combine, one shuffle, no sort.
  */
object QuantileSummary {

  /** Census-driven capacity (the adaptiveBanding pattern applied to
    * quantiles): size the summary to the MEASURED max group size so the
    * n ≤ capacity exact contract holds at the deployed scale, clamped
    * to [floor, maxExactCapacity]. The ceiling is the memory honesty
    * dial — a group's level-0 buffer is `capacity+1` doubles, so the
    * default 2²⁰ pins worst-case per-group state at ~8 MB; groups
    * larger than the ceiling get the documented Munro-Paterson
    * rank-error regime (≈ n·log₂(n/c)/c) instead of silent OOM. Callers
    * measure maxGroupSize with one map-side-combined count census
    * (`groupBy(keys).count().agg(max(...))`) — corpus-linear, no sort.
    */
  def capacityFor(maxGroupSize: Long, floor: Int = 4096,
                  maxExactCapacity: Int = 1 << 20): Int = {
    require(floor >= 8 && maxExactCapacity >= floor,
      s"need 8 <= floor <= maxExactCapacity, got ($floor, $maxExactCapacity)")
    math.max(floor.toLong, math.min(maxGroupSize, maxExactCapacity.toLong)).toInt
  }

  /** The exactness ceiling q107 sizes its summary under: derived from
    * the DEPLOYED memory and the MEASURED
    * group count instead of a flat 2²⁰ (the defaultBroadcastSetBytes
    * posture — the old flat ceiling forced the approximate regime at the
    * 100× rung's 2.03M max group on a heap that could trivially afford
    * exactness). The binding state is map-side combine: every
    * concurrently running task's hash aggregation can hold ALL groups
    * at once, so per-JVM worst case = tasks · nGroups · (capacity+1)
    * doubles, ×2 slack for merge-time copies and the Kryo buffer.
    * Budgeting that at ≤ heap/6 gives
    * ceiling = heap / (96 · tasks · nGroups) elements. Clamps:
    * floor 2²⁰ (the historical default — deriving may only ever BUY
    * exactness, never regress it; the floor is safe because groups
    * beyond any ceiling degrade to the documented Munro-Paterson
    * rank-error regime, not OOM) and cap 2²⁴ (one level-0 buffer =
    * 128 MB/group — past that, approximate is the honest answer).
    */
  def derivedCeiling(heapBytes: Long, concurrentTasks: Int, nGroups: Long): Int = {
    require(heapBytes >= 1 && concurrentTasks >= 1,
      s"need positive heap/tasks, got ($heapBytes, $concurrentTasks)")
    val denom = 96L * concurrentTasks * math.max(1L, nGroups)
    math.max(1L << 20, math.min(1L << 24, heapBytes / denom)).toInt
  }

  /** Spark-bound wrapper for [[derivedCeiling]]: aggregation state lives
    * on the EXECUTORS (never collected), so the binding heap is the
    * executors' (`spark.executor.memory`, Spark's own 1g default when
    * unset — the conservative answer for unknown executors); local mode
    * is the one JVM heap. Concurrent tasks per JVM: executor cores
    * (cluster) / scheduler parallelism (local). When
    * `spark.executor.cores` is UNSET in cluster mode the real
    * concurrency is deployment-dependent (YARN defaults to 1, but a
    * standalone executor runs one task per WORKER core), so the
    * conservative assumption is a 16-core worker: over-counting tasks
    * only shrinks the ceiling toward the documented-approximate regime
    * (floored at the historical 2²⁰), while under-counting is the OOM
    * direction the heap/6 budget exists to prevent.
    */
  def defaultMaxExactCapacity(spark: org.apache.spark.sql.SparkSession,
                              nGroups: Long): Int = {
    val sc = spark.sparkContext
    val (heap, tasks) =
      if (sc.isLocal) (Runtime.getRuntime.maxMemory, sc.defaultParallelism)
      else (org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
              spark.conf.get("spark.executor.memory", "1g")),
            spark.conf.getOption("spark.executor.cores").map(_.toInt)
              .getOrElse(16))
    derivedCeiling(heap, math.max(1, tasks), nGroups)
  }

  /** Per-group result: exact count and the requested percentile values
    * (parallel to the Aggregator's `percents`).
    */
  case class Quantiles(n_events: Long, qs: Seq[Double])

  /** Level buffers: `levels(i)` holds UNSORTED items of weight 2^i
    * (sorting happens only at compaction/finish). Kryo-shipped.
    */
  final class QBuf(val capacity: Int, var count: Long,
                   var levels: Array[Array[Double]], var sizes: Array[Int])
    extends Serializable

  private def ensureLevel(b: QBuf, lvl: Int): Unit = {
    if (lvl >= b.levels.length) {
      b.levels = java.util.Arrays.copyOf(b.levels, lvl + 1)
      b.sizes = java.util.Arrays.copyOf(b.sizes, lvl + 1)
    }
    if (b.levels(lvl) == null) {
      b.levels(lvl) = new Array[Double](b.capacity + 1)
      b.sizes(lvl) = 0
    }
  }

  private def push(b: QBuf, lvl: Int, v: Double): Unit = {
    ensureLevel(b, lvl)
    if (b.sizes(lvl) == b.levels(lvl).length)
      b.levels(lvl) = java.util.Arrays.copyOf(b.levels(lvl), b.sizes(lvl) * 2)
    b.levels(lvl)(b.sizes(lvl)) = v
    b.sizes(lvl) += 1
  }

  /** Collapse level `lvl` if over capacity: sort, keep an odd leftover
    * (the max) in place, promote the upper element of each remaining
    * pair to lvl+1. Cascades upward.
    */
  private def compact(b: QBuf, lvl: Int): Unit = {
    if (b.sizes(lvl) <= b.capacity) return
    val n = b.sizes(lvl)
    val arr = b.levels(lvl)
    java.util.Arrays.sort(arr, 0, n)
    val even = n - (n & 1)
    // promote odd indices of the even prefix: arr(1), arr(3), ...
    var i = 1
    while (i < even) { push(b, lvl + 1, arr(i)); i += 2 }
    if ((n & 1) == 1) { arr(0) = arr(n - 1); b.sizes(lvl) = 1 }
    else b.sizes(lvl) = 0
    compact(b, lvl + 1)
  }

  /** Deterministic multi-level quantile Aggregator over a double
    * column. `percents` are integer percentages (e.g. Seq(25,50,75,95));
    * rank targets use exact integer ceil-division — no float boundary
    * (the q91 rounding lesson).
    */
  class QuantileAgg(capacity: Int, percents: Seq[Int])
    extends Aggregator[Double, QBuf, Quantiles] {
    require(capacity >= 8, s"QuantileSummary needs capacity >= 8, got $capacity")
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be integer percentages in [1,100], got $percents")

    def zero: QBuf =
      new QBuf(capacity, 0L, new Array[Array[Double]](1), new Array[Int](1))

    def reduce(b: QBuf, v: Double): QBuf = {
      push(b, 0, v)
      b.count += 1
      if (b.sizes(0) > b.capacity) compact(b, 0)
      b
    }

    def merge(a: QBuf, b: QBuf): QBuf = {
      if (b.count == 0) return a
      if (a.count == 0) return b
      var lvl = 0
      while (lvl < b.levels.length) {
        if (b.levels(lvl) != null) {
          var i = 0
          while (i < b.sizes(lvl)) { push(a, lvl, b.levels(lvl)(i)); i += 1 }
        }
        lvl += 1
      }
      a.count += b.count
      var l = 0
      while (l < a.levels.length) { compact(a, l); l += 1 }
      a
    }

    def finish(b: QBuf): Quantiles = {
      if (b.count == 0) return Quantiles(0L, percents.map(_ => Double.NaN))
      // gather (value, weight) pairs, sort by value, walk cumulative weight
      var total = 0
      var lvl = 0
      while (lvl < b.levels.length) { total += b.sizes(lvl); lvl += 1 }
      val vals = new Array[Double](total)
      val wts = new Array[Long](total)
      var m = 0
      lvl = 0
      while (lvl < b.levels.length) {
        if (b.levels(lvl) != null) {
          var i = 0
          while (i < b.sizes(lvl)) {
            vals(m) = b.levels(lvl)(i); wts(m) = 1L << lvl; m += 1; i += 1
          }
        }
        lvl += 1
      }
      val order = (0 until total).sortBy(i => vals(i))
      val qs = percents.map { p =>
        val target = (p.toLong * b.count + 99L) / 100L // ceil(p·n/100), exact
        var cum = 0L
        var j = 0
        var out = vals(order.last)
        var found = false
        while (j < total && !found) {
          cum += wts(order(j))
          if (cum >= target) { out = vals(order(j)); found = true }
          j += 1
        }
        out
      }
      Quantiles(b.count, qs)
    }

    def bufferEncoder: Encoder[QBuf] = Encoders.kryo[QBuf]
    def outputEncoder: Encoder[Quantiles] = Encoders.product[Quantiles]
  }
}
