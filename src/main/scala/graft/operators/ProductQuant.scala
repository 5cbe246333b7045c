package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the memory-scale
  * ANN path beyond q108's scalar int8: split each d-dim vector into m
  * contiguous subvectors, learn a k-centroid codebook per subspace
  * (KMeans on a capped seeded sample, the IVF fit contract), and store
  * each vector as m small codes. At d=64, m=8, k=16 that is 8 bytes
  * per vector vs 256 float bytes — a 32× index shrink, which is what
  * lets a 100 TB corpus' ANN index live in executor memory.
  *
  * Search is asymmetric distance computation (ADC): a probe's distance
  * to a coded vector ≈ Σ_j ‖probe_j − centroid_j[code_j]‖², read from
  * per-probe lookup tables. Probes are a bounded query batch (the q25
  * contract), so the m·k LUT entries per probe are computed at PLAN
  * time and folded in as literal arrays — scoring the corpus is one
  * codegen'd map pass over the codes column, no join, no vector math
  * per row (m array lookups + adds instead of d multiplies).
  *
  * Like every approximate index here (q68 LSH, q122 IVF), PQ ships
  * with a recall eval (q149) — an index without a measured quality
  * number is an unevaluated model.
  */
object ProductQuant {

  /** Learned codebooks: centroids(j)(c) is the c-th centroid of
    * subspace j, a subDim-length array.
    */
  case class Codebook(m: Int, k: Int, subDim: Int,
                      centroids: Array[Array[Array[Double]]])

  // Cache ownership ([[graft.util.CacheTracker]]): the session's PQ
  // index codes frame.
  private val caches = new graft.util.CacheTracker

  /** Session-shared PQ index memo — the [[Similarity]] ivfIndex posture:
    * a warehouse stores ONE PQ index (codebook + coded corpus) per
    * (corpus, geometry) and every probe batch queries it; re-fitting the
    * codebook and re-encoding the corpus per query bills the one-time
    * index build per call (q149 paid it three times per bench sweep:
    * warmup + two passes). Deterministic for a fixed corpus (seeded
    * local KMeans on a content-hash, lexicographically sorted sample),
    * so memoization cannot change any result. The corpus' canonicalized
    * plan hash + column names ride in the key (the r14 advisor's
    * stale-index hazard).
    */
  private val pqMemo = caches.memo[(String, Int, String, String, Int, Int, Long),
    (Codebook, DataFrame)]("pq_index", v => Seq(v._2))

  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, fitSampleCap: Long = 100000L,
              indexKey: Option[String] = None): (Codebook, DataFrame) = {
    def build(): Codebook = fit(corpus, vecCol, m, k, fitSampleCap)
    indexKey match {
      case None =>
        val cb = build()
        (cb, encode(corpus, idCol, vecCol, cb))
      case Some(key) =>
        val memoKey = (key, corpus.queryExecution.analyzed.semanticHash(),
          idCol, vecCol, m, k, fitSampleCap)
        pqMemo(corpus.sparkSession, memoKey) {
          val cb = build()
          (cb, caches.trackPersist(encode(corpus, idCol, vecCol, cb)))
        }
    }
  }

  /** Fit one codebook per subspace on a seeded capped sample (the
    * [[Similarity.ivfTopK]] sample contract: centroids need a
    * representative sample, not the corpus). The sample is COLLECTED -
    * a bounded driver contract of <= fitSampleCap rows - and all m
    * Lloyd's iterations run locally: m distributed KMeans fits cost
    * m*iters scheduler round-trips over the same tiny sample (measured
    * 13 s of the original q149's 13.5 s at sf0.1), while the local
    * loop is pure arithmetic on data already in hand. The collected
    * rows are sorted lexicographically first, so the codebook is
    * deterministic regardless of partition layout. Encoding below
    * still covers every corpus vector, distributed.
    */
  def fit(corpus: DataFrame, vecCol: String, m: Int, k: Int,
          fitSampleCap: Long = 100000L): Codebook = {
    require(m >= 1 && k >= 2 && k <= 256,
      s"need 1 <= m, 2 <= k <= 256 (codes must stay byte-sized), got m=$m k=$k")
    require(fitSampleCap <= 1000000L,
      s"fit sample is a bounded driver collect, cap $fitSampleCap too large")
    val c = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val n = c.count()
    // content-hash Bernoulli past the cap: the selected row set depends
    // only on the vector VALUES — df.sample's per-partition RNG would
    // pick different rows under a different partition layout, breaking
    // the cross-run determinism this codebook promises. denom = 2^40
    // keeps the floor()'d keep fraction within one part in ~10^7 of
    // cap/n for any n the require above admits (a 10^6 denom would stop
    // bounding the collect once n > 10^6·cap). Identical vectors share
    // a hash and survive or drop together; the limit() backstop keeps a
    // pathologically duplicate-heavy corpus from flooding the driver —
    // it truncates (deterministically only per layout) instead of OOMing.
    val sample = if (n <= fitSampleCap) c
                 else {
                   val denom = 1L << 40
                   // denom·cap <= 2^40 · 10^6 < 2^63 (cap bounded above)
                   val keep = math.max(1L, denom * fitSampleCap / n)
                   c.filter(pmod(xxhash64(col("v")), lit(denom)) < keep)
                     .limit((4L * fitSampleCap).toInt)
                 }
    val rows: Array[Array[Double]] =
      sample.collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "cannot fit a codebook on an empty corpus")
    val dim = rows.head.length
    require(dim % m == 0, s"vector dim $dim not divisible into $m subspaces")
    require(rows.forall(_.length == dim), "ragged embedding lengths")
    val subDim = dim / m
    // partition-order independence: sort the sample lexicographically
    java.util.Arrays.sort(rows, new java.util.Comparator[Array[Double]] {
      def compare(a: Array[Double], b: Array[Double]): Int = {
        var i = 0
        while (i < a.length) {
          val cc = java.lang.Double.compare(a(i), b(i))
          if (cc != 0) return cc
          i += 1
        }
        0
      }
    })
    val centroids = (0 until m).map { j =>
      val sub = rows.map(_.slice(j * subDim, (j + 1) * subDim))
      localKMeans(sub, k, seed = 42L + j, iters = 5)
    }.toArray
    Codebook(m, k, subDim, centroids)
  }

  /** Seeded Lloyd's with random-row init (the same budget the MLlib
    * IVF quantizer uses: evenly-spread centroids, not an optimal
    * clustering). Empty clusters keep their previous centroid;
    * assignment ties break to the smallest centroid index, mirroring
    * [[encodeCol]]'s struct-min tie-break.
    */
  private[operators] def localKMeans(xs: Array[Array[Double]], k: Int,
                                     seed: Long, iters: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    val d = xs.head.length
    val init = rng.shuffle(xs.indices.toVector).take(math.min(k, xs.length))
    val cents = Array.tabulate(k)(i => xs(init(i % init.length)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Long](k)
      xs.foreach { x =>
        var best = 0; var bd = Double.MaxValue
        var cIdx = 0
        while (cIdx < k) {
          val ce = cents(cIdx)
          var acc = 0.0; var i = 0
          while (i < d) { val df = x(i) - ce(i); acc += df * df; i += 1 }
          if (acc < bd) { bd = acc; best = cIdx }
          cIdx += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += x(i); i += 1 }
        cnts(best) += 1
      }
      var cIdx = 0
      while (cIdx < k) {
        if (cnts(cIdx) > 0) {
          var i = 0
          while (i < d) { cents(cIdx)(i) = sums(cIdx)(i) / cnts(cIdx); i += 1 }
        }
        cIdx += 1
      }
      it += 1
    }
    cents
  }

  /** The m-code array for a vector column: per subspace, argmin-L2 over
    * the k literal centroids — k codegen'd `vec_l2sq` calls whose min
    * is taken over a (distance, index) struct array, so ties break to
    * the SMALLEST centroid index deterministically. All constants fold
    * into the plan; no shuffle, no UDF.
    */
  def encodeCol(vec: Column, cb: Codebook): Column =
    array((0 until cb.m).map { j =>
      val sub = slice(vec, j * cb.subDim + 1, cb.subDim)
      val cand = array((0 until cb.k).map { c =>
        struct(
          graft.functions.VectorFunctions
            .l2sq(sub, array(cb.centroids(j)(c).map(lit): _*)).as("d"),
          lit(c).as("i"))
      }: _*)
      array_min(cand).getField("i")
    }: _*)

  /** Corpus → (id, codes) — the stored PQ index, 1 small int per
    * subspace. Zero-shuffle map stage (q108's shape at 32× instead of
    * 4× compression).
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cb: Codebook): DataFrame =
    corpus.select(col(idCol),
      encodeCol(col(vecCol).cast("array<double>"), cb).as("codes"))

  private def l2Local(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** One probe's m·k ADC lookup table, computed driver-side at plan
    * time: lut(j)(c) = ‖probe_sub_j − centroid_jc‖².
    */
  def lutFor(probe: Array[Double], cb: Codebook): Seq[Seq[Double]] =
    (0 until cb.m).map { j =>
      val psub = probe.slice(j * cb.subDim, (j + 1) * cb.subDim)
      (0 until cb.k).map(c => l2Local(psub, cb.centroids(j)(c)))
    }

  /** ADC distance of a coded vector to one known probe: the probe's
    * m·k LUT is computed here (driver, plan time) and folded in as ONE
    * nested-array literal scored by the codegen'd [[PqAdcExpr]] — per
    * corpus row, m array lookups + adds inside whole-stage codegen.
    * (The previous per-subspace `element_at`-on-literal-array forest
    * blew janino's 64 KB method limit once ~50 probes stacked up and
    * fell back to interpreted eval — sf1-sweep finding.)
    */
  def adcCol(codes: Column, probe: Array[Double], cb: Codebook): Column =
    graft.functions.VectorFunctions.pqAdc(
      codes, typedLit(lutFor(probe, cb)))

  /** PQ-ADC top-k per probe. The probe set is COLLECTED — the bounded
    * query-batch contract shared with [[Similarity.bruteForceTopK]]'s
    * broadcast (a handful of query vectors against the corpus); the
    * corpus side is one scan of the codes index with literal LUTs, then
    * the per-probe top-k window. Ties break (distance, neighbor_id).
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
             vecCol: String, k: Int, cb: Codebook): DataFrame =
    pqTopKCodes(encode(corpus, idCol, vecCol, cb), probes, idCol, vecCol,
      k, cb)

  /** [[pqTopK]] over a PRECOMPUTED codes frame (idCol, codes) — the
    * [[pqIndex]] consumer path: the stored index is scanned, never
    * re-encoded per probe batch.
    */
  def pqTopKCodes(corpusCodes: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, k: Int, cb: Codebook): DataFrame = {
    // bound BEFORE the collect: limit(1025) keeps an oversized probe
    // frame from materializing on the driver just to fail the require
    val ps = probes
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(1025)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(ps.nonEmpty, "probe set is empty")
    require(ps.length <= 1024,
      "probe set is a bounded query batch — more than 1024 probes supplied")
    val codes = corpusCodes.withColumnRenamed(idCol, "neighbor_id")
    // ALL probe LUTs ride in ONE nested literal (a single codegen
    // reference), exploded per corpus row and scored by the codegen'd
    // pq_adc — constant generated-code size in the probe count, where
    // the old per-probe expression forest (50 structs × m element_at
    // chains) crossed janino's 64 KB method limit and de-codegen'd the
    // whole corpus scan stage.
    val probeLuts = typedLit(ps.toSeq.map { case (pid, pv) =>
      (pid, lutFor(pv, cb))
    })
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    codes.select(col("neighbor_id"), col("codes"), explode(probeLuts).as("s"))
      .select(col("s._1").as("probe_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.pqAdc(col("codes"), col("s._2")).as("adist"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "rank")
  }

  /** The exact re-rank stage alone: take any (probe_id, neighbor_id)
    * candidate frame (an ADC shortlist, an LSH bucket, …), fetch the
    * candidates' full vectors, rank by exact L2 per probe, keep top-k.
    * Exposed so a caller computing MULTIPLE metrics from one shortlist
    * (q149 grades ADC and refined recall) builds the shortlist once.
    */
  def refine(cand: DataFrame, corpus: DataFrame, probes: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val pvecs = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val w = Window.partitionBy("probe_id").orderBy(col("d").asc, col("neighbor_id").asc)
    cand.select("probe_id", "neighbor_id")
      .join(vecs, Seq("neighbor_id"))
      .join(broadcast(pvecs), Seq("probe_id"))
      .withColumn("d", graft.functions.VectorFunctions.l2sq(col("pv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "rank")
  }

  /** Exact L2 top-k per probe — ADC approximates L2, so its recall is
    * measured against the L2 ground truth (the cosine baseline q25
    * ranks by is a different metric). Same broadcast-probe shape as
    * [[Similarity.bruteForceTopK]].
    */
  def bruteForceL2TopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                       vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val w = Window.partitionBy("probe_id").orderBy(col("d").asc, col("neighbor_id").asc)
    c.join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .withColumn("d", graft.functions.VectorFunctions.l2sq(col("pv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "rank")
  }
}
