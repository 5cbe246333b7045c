package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance scoring for domain-targeted data selection
  * (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling"): score every document by how much more
  * likely its bigram features are under a TARGET domain than under the
  * raw corpus, Σ_feat [ln p_target(f) − ln p_corpus(f)], add-1
  * smoothed over a bounded feature vocabulary.
  *
  * Scale shape: the raw bigram stream is pre-aggregated ONCE to
  * per-doc feature counts d = (id, feat, c) and persisted across its
  * three consumers (corpus counts, target counts, the scoring join) —
  * the q80 posture since r14; the r13 form re-tokenized the corpus for
  * each reference (three scans). The (feat, ct, cr) model is a
  * ≤ vocabSize frame (the vocab cut is TakeOrdered — ties broken
  * lexicographically, a total order — and target counts join the vocab
  * frame), broadcast with its scalar totals back over d; scoring is
  * map-side plus one per-doc aggregation, each occurrence weighted by
  * its count c (Σ ln p over occurrences ≡ Σ c·ln p over distinct
  * per-doc features — same sum, multiplication instead of repeated
  * addition, inside the FLOOR grid's documented 1e-10 tolerance).
  *
  * Compare surface: FLOOR fixed-point micro-units (LN pipeline, the
  * q114 contract). Documents containing no vocab bigram carry no
  * evidence and are ABSENT from the output — the caller decides their
  * fate (q158 reports scored docs; the curation gate drops them).
  */
object Importance {

  /** (idCol, n_feats, score_micro) for every document with ≥ 1 vocab
    * bigram. `isTarget` marks the target-domain rows of `docs`.
    */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
                isTarget: Column, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val bg = graft.functions.TextFunctions.wordBigrams(docs, idCol, textCol)
      .withColumn("feat", concat_ws(" ", col("tok_a"), col("tok_b")))
      .select(idCol, "feat")
    val d = caches.trackPersist(
      bg.groupBy(col(idCol), col("feat")).agg(count(lit(1)).as("c")))
    val cr = d.groupBy("feat").agg(sum("c").as("cr"))
    val vocab = cr.orderBy(col("cr").desc, col("feat").asc).limit(vocabSize)
    val tgtIds = docs.filter(isTarget).select(idCol)
    val ct = d.join(tgtIds, idCol).groupBy("feat").agg(sum("c").as("ct"))
    val model = vocab.join(ct, Seq("feat"), "left")
      .select(col("feat"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val totals = model.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    d.join(broadcast(model), "feat")
      .crossJoin(broadcast(totals))
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_feats"),
        floor(lit(1e6) * sum(col("c").cast("double") *
          expr(s"LN((ct + 1) / (nt + $vocabSize)) - LN((cr + 1) / (nr + $vocabSize))")))
          .cast("long").as("score_micro"))
  }

  // Cache ownership ([[graft.util.CacheTracker]]): dsirScore persists
  // its per-doc feature-count frame across three consumers.
  private val caches = new graft.util.CacheTracker
}
