package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{TextFunctions => TF}
import graft.operators.{Decontaminate, Dedup, Similarity}

/** The composed corpus-curation loop — the training-data analog of
  * [[EtlPipeline.run]]: one eager call takes a raw document table to a
  * training-ready sharded corpus plus full provenance (per-stage
  * counts, per-document reject reasons, a dataset card), the pipeline a
  * reference user runs instead of wiring the individual operators.
  *
  * Stage order follows the standard curation recipe (quality gate →
  * exact dedup → [optional DSIR importance gate] → near-dup
  * canonicalization → decontamination → shard):
  * cheap map-only filters run first so every later shuffle sees a
  * smaller corpus, and decontamination runs after dedup so eval-overlap
  * work isn't spent on documents a dedup stage would drop anyway.
  *
  * Scale shape per stage:
  *  - quality gate: map-only (codegen'd TextFunctions.qualityScore).
  *  - exact dedup: ONE groupBy on xxhash64(text) — an 8-byte shuffle
  *    key instead of the full text (collision risk n²/2^65, the hashed
  *    shingle-set precedent, documented there).
  *  - near-dup: Dedup.lshVerifiedPairs (band shuffle + equi-join
  *    verify, no cross join) → dedupClusters → q95's canonical
  *    selection (longest text, tie → smallest id) with the pair list
  *    orders of magnitude below the corpus.
  *  - decontamination: eval n-grams distinct + broadcast, corpus
  *    streamed once (Decontaminate.overlapFlags).
  *  - shard: the q106 epoch shuffle — nShards bounds every shard sort.
  *
  * [[curate]] and [[curateIncrement]] run the same stage chain through
  * one [[Ledger]] per call. Everything is deterministic (seeded hashes,
  * total-order tie-breaks), so re-running the same input yields
  * byte-identical shards — asserted in CorpusPipelineSpec. All
  * intermediates persist for the duration of the call and are released
  * when it returns or fails (including the dedup operators' internal
  * caches via [[Dedup.releaseCaches]]).
  */
object CorpusPipeline {

  /** Curation dials; defaults match the q29/q72/q76/q106 entries.
    * `spanRewriteTokens = Some(n)` inserts the C4 span-rewrite stage
    * (q81's plan executed by [[Dedup.removeSpans]], q185) after exact
    * dedup: later occurrences of every n-token span are REMOVED from
    * the text (documents emptied by the rewrite drop, rejects reason
    * `span_rewrite` — the stage name). It runs before near-dup so shared
    * boilerplate spans can't glue unrelated documents into one LSH
    * cluster. [[curate]] only: [[curateIncrement]] has no span stage
    * and refuses the dial.
    *
    * `adaptiveBanding = true` replaces the fixed (numPerm, bands) for
    * the near-dup stage with [[Dedup.adaptiveBanding]]'s measured
    * bucket-census choice (recall pinned by `bandsForRecall` at the
    * same threshold). BACKFILL-ONLY dial: [[curateIncrement]] keeps the
    * explicit cfg values because every later batch must band exactly
    * like the STORED index — run the advisor at backfill, then carry
    * its choice into the incremental cfg.
    */
  case class CurationConfig(
      minQuality: Double = 0.5,
      shingleK: Int = 3,
      jaccardThreshold: Double = 0.6,
      numPerm: Int = 16,
      bands: Int = 16,
      decontamNgram: Int = 5,
      nShards: Int = 16,
      epoch: Long = 0L,
      spanRewriteTokens: Option[Int] = None,
      adaptiveBanding: Boolean = false)

  /** Optional DSIR importance gate (q158's operator as a curation
    * stage): keep documents whose domain-match score against the
    * `isTarget` rows reaches `minScoreMicro`. Documents with no vocab
    * bigram carry no domain evidence and DROP (logged like any reject
    * — selection refuses to pass what it cannot score).
    */
  case class ImportanceConfig(isTarget: org.apache.spark.sql.Column,
                              minScoreMicro: Long,
                              vocabSize: Int = 2048)

  /** Optional SemDeDup stage (q189's operator as a curation stage —
    * the paper's consumption point: embedding-level pruning AFTER
    * lexical near-dup canonicalization has collapsed the exact/shingle
    * duplicates). `embeddings` maps the corpus id space to vectors
    * (the testdata's vec_id is an id into doc_id space); a surviving
    * doc WITHOUT an embedding passes through — semantic dedup removes
    * only proven duplicates, unlike the DSIR gate, which drops what it
    * cannot score (selection vs dedup semantics, both documented).
    * `nClusters = 0` keeps [[Similarity.semDedup]]'s censused
    * derivation.
    */
  case class SemDedupConfig(embeddings: DataFrame,
                            threshold: Double = 0.35,
                            vecIdCol: String = "vec_id",
                            vecCol: String = "embedding",
                            nClusters: Int = 0)

  /** One row per stage: input size, survivors, drops. */
  case class StageCount(stage: String, rows_in: Long, rows_out: Long,
                        rows_dropped: Long)

  /** Eager result summary; the data itself is written under `outDir`:
    * `clean/` (shard, pos, + original columns, partitioned by shard),
    * `rejects/` (doc_id, reason), `stage_log/`, `card/` (per
    * (source, lang) when those columns exist).
    */
  case class CurationResult(nIn: Long, nClean: Long, stages: Seq[StageCount])

  /** A stage's survivors and their count. */
  private case class Kept(df: DataFrame, n: Long)

  /** One curation call's ledger and its stage chain. The ledger owns
    * every frame the call persists (released by [[release]], which both
    * entry points call in a `finally`, so a refused or failed call
    * leaks nothing), the per-stage counts and the reject reasons. Each
    * stage splits its input into persisted survivors and logged drops.
    */
  private final class Ledger(cfg: CurationConfig, idCol: String, textCol: String) {
    private val frames = ArrayBuffer.empty[DataFrame]
    private val counts = Seq.newBuilder[StageCount]
    private val rejects = Seq.newBuilder[DataFrame]

    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      frames += p
      p
    }

    def input(docs: DataFrame): Kept = {
      val p = persist(docs)
      Kept(p, p.count())
    }

    def stage(name: String, in: Kept, kept: DataFrame, dropped: DataFrame): Kept = {
      val n = kept.count()
      counts += StageCount(name, in.n, n, in.n - n)
      rejects += dropped.select(col(idCol), lit(name).as("reason"))
      Kept(kept, n)
    }

    /** The split of every id-decided stage: `ids` are the stage's drops
      * (with `keep`, its survivors); survivors persist.
      */
    def byId(name: String, in: Kept, ids: DataFrame, keep: Boolean = false): Kept = {
      val (k, d) = if (keep) ("left_semi", "left_anti") else ("left_anti", "left_semi")
      stage(name, in, persist(in.df.join(ids, Seq(idCol), k)),
        in.df.join(ids, Seq(idCol), d))
    }

    /** The chain both entry points run: quality gate → exact dedup →
      * [span rewrite] → [importance] → near-dup → [SemDeDup] →
      * [decontamination]. `seenHashes` and `index` are a stored
      * corpus's content hashes and LSH index; a batch doc matching
      * either drops (first-seen wins). Returns the quality survivors
      * and the clean set.
      */
    def chain(in: Kept, seenHashes: Option[DataFrame],
              index: Option[(DataFrame, DataFrame)],
              spanTokens: Option[Int], importance: Option[ImportanceConfig],
              semdedup: Option[SemDedupConfig],
              evalDocs: Option[DataFrame]): (Kept, Kept) = {
      // 1. quality gate — map-only, so it runs on the raw scan; a null
      //    text scores 0 (dropped), never a null that would slip both
      //    the kept and the dropped filter
      val scored = in.df.withColumn("__q",
        TF.qualityScore(coalesce(col(textCol), lit(""))))
      val q = stage("quality", in,
        persist(scored.filter(col("__q") >= cfg.minQuality).drop("__q")),
        scored.filter(col("__q") < cfg.minQuality))
      // 2. exact dedup — keep the smallest id per identical text, then
      //    drop what the stored hash registry has seen (an 8-byte-key
      //    anti join; the corpus text never loads)
      val first = Dedup.exact(q.df.withColumn("__h", xxhash64(col(textCol))),
        Seq(col("__h")), col(idCol))
      val e = byId("exact_dup", q, seenHashes
        .fold(first)(h => first.join(h.select(col("__h")), Seq("__h"), "left_anti"))
        .select(col("keep_id").as(idCol)), keep = true)
      val s = spanTokens.fold(e)(spanRewrite(e, _))
      // 2.5 importance gate — DSIR domain-match selection (q158). Runs
      //     on the exact-deduped corpus so duplicated texts cannot skew
      //     the feature model, and before the LSH stage so near-dup
      //     shuffles see only selected documents.
      val i = importance.fold(s)(ic => byId("importance", s,
        graft.operators.Importance
          .dsirScore(s.df, idCol, textCol, ic.isTarget, ic.vocabSize)
          .filter(col("score_micro") >= ic.minScoreMicro).select(col(idCol)),
        keep = true))
      val n = nearDup(i, index)
      val m = semdedup.fold(n)(semDedup(n, _))
      // 4. decontamination — any shared eval word-n-gram disqualifies
      (q, evalDocs.fold(m)(ev => byId("contaminated", m, Decontaminate
        .overlapFlags(m.df, ev, idCol, textCol, cfg.decontamNgram)
        .select(col(idCol)))))
    }

    // 2.2 span rewrite — execute q81's removal plan on the exact-deduped
    //     corpus (identical texts are already collapsed, so the window
    //     never sees byte-duplicate span floods); a doc whose every cell
    //     was a later occurrence comes back empty and drops here rather
    //     than polluting downstream stages
    private def spanRewrite(in: Kept, tokens: Int): Kept = {
      val rewritten = persist(Dedup.removeSpans(in.df, idCol, textCol, tokens)
        .drop("n_spans_kept", "n_spans_removed"))
      // coalesce: a NULL text (passed through removeSpans unchanged)
      // must land in the REJECT branch — a bare `> 0` / `=== 0` pair
      // is NULL for it on both sides and the doc would vanish from
      // the ledger entirely, breaking the stage-count reconciliation
      val keptPred = coalesce(length(trim(col(textCol))) > 0, lit(false))
      stage("span_rewrite", in, rewritten.filter(keptPred),
        rewritten.filter(!keptPred))
    }

    // 3. near-dup canonicalization — LSH-verified pairs, connected
    //    components, q95's canonical per cluster (longest text, tie →
    //    smallest id). Against a stored index the engine is the
    //    ASSIGNMENT mode: one verified edge per (batch doc, corpus doc)
    //    with first-true-edge early exit, stage B scoped to the
    //    survivors, so the steady-state loop never bills the quadratic
    //    within-cluster pair mass. A corpus match drops the batch doc
    //    whatever its length. The stored corpus is pairwise
    //    near-dup-free by this very loop, so its cluster table is all
    //    singletons — the empty frame below IS the maintained table, and
    //    stage A's coalesce labels each index doc as its own
    //    representative.
    private def nearDup(in: Kept, index: Option[(DataFrame, DataFrame)]): Kept = {
      val (pairs, corpusDrop) = index match {
        case Some((bands, sets)) =>
          val edges = Dedup.assignIncrementEdges(bands, sets,
            in.df.select(col(idCol).as("node"), col(idCol).as("cluster")).limit(0),
            in.df, idCol, textCol, cfg.shingleK, cfg.jaccardThreshold,
            cfg.numPerm, cfg.bands, contractedBatchOnly = true)
          // stage-B labels of surviving docs are their own ids, so the
          // batch channel is already the survivor-survivor pair list
          (edges.batch.select(col("ea").as("id_a"), col("eb").as("id_b")),
            Some(edges.corpus.select(col("ea").as(idCol)).distinct()))
        case None =>
          val (numPerm, bands, densityHint) =
            if (cfg.adaptiveBanding) {
              val c = Dedup.adaptiveBanding(in.df, idCol, textCol,
                cfg.shingleK, cfg.jaccardThreshold)
              (c.numPerm, c.bands, Some(c.estPairsPerDoc))
            } else (cfg.numPerm, cfg.bands, None)
          (Dedup.lshVerifiedPairs(in.df, idCol, textCol, cfg.shingleK,
            cfg.jaccardThreshold, numPerm, bands,
            candidatesPerDocHint = densityHint), None)
      }
      val clusters = Dedup.dedupClusters(pairs, "id_a", "id_b")
      val canon = clusters
        .join(in.df.select(col(idCol).as("node"),
          length(col(textCol)).as("__len")), Seq("node"))
        .groupBy("cluster")
        .agg(max_by(col("node"), struct(col("__len"), -col("node"))).as("node"))
        .select(col("node"))
      val drops = clusters.select("node")
        .join(canon, Seq("node"), "left_anti")
        .select(col("node").as(idCol))
      byId("near_dup", in, corpusDrop.fold(drops)(drops.unionByName))
    }

    // 3.5 SemDeDup — embedding-level pruning of the lexically-
    //     canonicalized survivors (the paper's pipeline position: shingle
    //     near-dup already collapsed the literal copies, this removes
    //     semantic re-tellings LSH structurally misses). Only docs WITH
    //     an embedding are judged; the prune runs on exactly the
    //     surviving subset so a dropped doc can never dominate a kept one.
    private def semDedup(in: Kept, sc: SemDedupConfig): Kept = {
      val vecs = sc.embeddings
        .select(col(sc.vecIdCol).as(idCol), col(sc.vecCol))
        .join(in.df.select(idCol), Seq(idCol), "left_semi")
      // one sizing pass doubles as the 1:1 precondition check: a
      // duplicate vec_id would feed semDedup duplicate ids and make
      // the (csim, id) dominance order self-referential for that doc
      val sz = vecs.agg(count(lit(1)), count_distinct(col(idCol))).head()
      require(sz.getLong(0) == sz.getLong(1),
        s"SemDeDup needs exactly one embedding per doc: " +
          s"${sz.getLong(0) - sz.getLong(1)} duplicate ${sc.vecIdCol} row(s)")
      // KMeans needs >= 2 rows; below that there is nothing to prune
      byId("semdedup", in,
        if (sz.getLong(0) < 2) vecs.select(col(idCol)).limit(0)
        else Similarity.semDedup(vecs, idCol, sc.vecCol, sc.threshold, sc.nClusters)
          .filter(!col("kept")).select(col(idCol)))
    }

    // 5. shard assignment — deterministic epoch shuffle, payload joined
    //    back on the id
    def sharded(clean: Kept): DataFrame = graft.queries.PipelineQueries
      .epochShuffle(clean.df, idCol, cfg.nShards, cfg.epoch)
      .join(clean.df, Seq(idCol))

    /** Writes the rejects and the stage log to `path("rejects")` and
      * `path("stage_log")`.
      */
    def writeLog(spark: SparkSession, path: String => String): Unit = {
      rejects.result().reduce(_ unionByName _)
        .write.mode("overwrite").parquet(path("rejects"))
      import spark.implicits._
      counts.result().toDF().coalesce(1)
        .write.mode("overwrite").parquet(path("stage_log"))
    }

    def result(in: Kept, clean: Kept): CurationResult =
      CurationResult(in.n, clean.n, counts.result())

    def release(): Unit = frames.foreach(_.unpersist(blocking = false))
  }

  def curate(spark: SparkSession, docs: DataFrame, evalDocs: Option[DataFrame],
             outDir: String,
             cfg: CurationConfig = CurationConfig(),
             idCol: String = "doc_id", textCol: String = "text",
             importance: Option[ImportanceConfig] = None,
             semdedup: Option[SemDedupConfig] = None): CurationResult = {
    require(cfg.minQuality >= 0 && cfg.minQuality <= 1,
      s"minQuality must be in [0,1], got ${cfg.minQuality}")
    val l = new Ledger(cfg, idCol, textCol)
    try {
      val in = l.input(docs)
      val (_, clean) = l.chain(in, None, None, cfg.spanRewriteTokens,
        importance, semdedup, evalDocs)
      // eager writes (snapshot semantics: overwrite = the run's output)
      l.sharded(clean).write.mode("overwrite").partitionBy("shard")
        .parquet(s"$outDir/clean")
      l.writeLog(spark, t => s"$outDir/$t")
      if (Seq("source", "lang").forall(docs.columns.contains)) {
        clean.df.groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(TF.tokenCount(col(textCol))).as("n_tokens"),
            sum(length(col(textCol)).cast("long")).as("n_chars_total"))
          .write.mode("overwrite").parquet(s"$outDir/card")
      }
      l.result(in, clean)
    } finally {
      l.release()
      Dedup.releaseCaches()
      Similarity.releaseCaches()
    }
  }

  /** The STEADY-STATE curation loop — [[curate]] is the one-time
    * backfill; this is what runs on each ingest batch at 100 TB,
    * mirroring [[EtlPipeline.runFromTables]]'s incremental posture: the
    * existing corpus participates ONLY through its stored metadata
    * tables (the seen-content hash registry for exact dedup, the q85
    * LSH index of the CLEAN docs for near-dup), never by re-reading
    * its text.
    *
    * State lives under `stateDir` as batch-partitioned parquet
    * (`clean/ index_bands/ index_sets/ text_hashes/ rejects/
    * stage_log/`, each with a `batch=<id>` subdirectory per call); the
    * first call bootstraps empty state, so the backfill is just the
    * first increment. `clean/batch=<id>` is the COMMIT MARKER (written
    * last), and state reads see ONLY committed batches: a COMPLETED id
    * is refused on re-run (the EtlPipeline duplicate-business-date
    * precedent), while a CRASHED batch leaves metadata partials but no
    * marker — no later batch dedups against them, and retrying the SAME
    * id is safe, because the final writes overwrite them.
    *
    * Dedup policy is FIRST-SEEN-WINS (the q67/dedupStream semantics):
    * a batch doc that matches the stored corpus drops, whatever its
    * length — unlike the backfill's global longest-text canonical,
    * which cannot be honored without rewriting history. Batch-internal
    * clusters still pick the longest-text representative. Consequence:
    * re-delivering the same CONTENT under fresh ids yields zero new
    * documents (spec-asserted idempotence). Near-dup runs
    * [[Dedup.assignIncrementEdges]] against the stored index, and
    * [[Dedup.lshVerifiedPairs]] on the bootstrap batch.
    *
    * New ids must be new — stored ids colliding with the batch fail
    * loudly (checked up front; it is also the
    * [[Dedup.assignIncrementEdges]] precondition).
    */
  def curateIncrement(spark: SparkSession, newDocs: DataFrame,
                      evalDocs: Option[DataFrame], stateDir: String,
                      batchId: String,
                      cfg: CurationConfig = CurationConfig(),
                      idCol: String = "doc_id", textCol: String = "text"): CurationResult = {
    // A per-batch census could choose a DIFFERENT banding than the
    // stored index was built with — the batch would band-bucket
    // incompatibly and silently miss every cross-batch near-dup. Run
    // the advisor at backfill; carry its (numPerm, bands) here.
    require(!cfg.adaptiveBanding,
      "adaptiveBanding is a backfill-only dial: the stored index fixes " +
        "(numPerm, bands) for every increment — run Dedup.adaptiveBanding at " +
        "backfill and pass its choice explicitly")
    require(cfg.spanRewriteTokens.isEmpty,
      "spanRewriteTokens is a backfill-only dial: curateIncrement has no " +
        "span-rewrite stage, so a batch would keep the spans it was asked to remove")
    // Leading letter/underscore: the id round-trips partition-value
    // type inference. A numeric-looking id ("001") comes back from the
    // `batch=001` directory as integer 1, so the committed-batch filter
    // below (`cast("string")` comparing "1" to "001") would silently
    // drop the batch's committed rows from the state.
    require(batchId.matches("[A-Za-z_][A-Za-z0-9_.-]*"),
      s"batchId must start with a letter/underscore and use only " +
        s"[A-Za-z0-9_.-] (a numeric-looking id does not survive partition " +
        s"type inference), got '$batchId'")
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def part(table: String) = s"$stateDir/$table/batch=$batchId"
    require(!fs.exists(new Path(part("clean"))),
      s"batch '$batchId' already ingested into $stateDir — re-running a batch id " +
        "would double-count; pick a new id (or delete the batch= directories to redo)")
    val committed = {
      val c = new Path(s"$stateDir/clean")
      if (!fs.exists(c)) Nil
      else fs.listStatus(c).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=")).toSeq
    }
    def stateTable(table: String): Option[DataFrame] = {
      val p = new Path(s"$stateDir/$table")
      if (committed.nonEmpty && fs.exists(p) && fs.listStatus(p).nonEmpty)
        Some(spark.read.parquet(p.toString)
          .filter(col("batch").cast("string").isin(committed: _*))
          .drop("batch"))
      else None
    }

    val l = new Ledger(cfg, idCol, textCol)
    try {
      val in = l.input(newDocs)
      val storedHashes = stateTable("text_hashes")
      storedHashes.foreach { h =>
        val clash = in.df.select(col(idCol))
          .join(h.select(col(idCol)), Seq(idCol), "left_semi").count()
        require(clash == 0,
          s"$clash batch ids already exist in the corpus state — ingest ids must be new")
      }
      val index = for (b <- stateTable("index_bands"); s <- stateTable("index_sets"))
        yield (b, s)
      val (passed, clean) = l.chain(in, storedHashes, index, None, None, None, evalDocs)

      // commit the batch: metadata the NEXT batch will dedup against
      // (bands / sets / text hashes) first, the clean shards LAST —
      // clean's existence is the batch's commit marker
      val (nbRaw, nsRaw) = Dedup.nearDupIndex(clean.df, idCol, textCol,
        cfg.shingleK, cfg.numPerm, cfg.bands)
      nbRaw.write.mode("overwrite").parquet(part("index_bands"))
      nsRaw.write.mode("overwrite").parquet(part("index_sets"))
      // text_hashes is the SEEN-CONTENT registry, not the clean set: every
      // doc admitted past the quality gate registers, kept OR dropped.
      // Re-delivered content then always exact-drops against it — without
      // this, a transitive-cluster member whose only above-threshold
      // partners were themselves dropped would re-enter on re-delivery
      // (its canonical is below threshold from it; only its dropped twin
      // matched). 16 bytes per seen doc — linear, tiny state.
      passed.df.select(col(idCol), xxhash64(col(textCol)).as("__h"))
        .write.mode("overwrite").parquet(part("text_hashes"))
      l.writeLog(spark, part)
      l.sharded(clean).write.mode("overwrite").parquet(part("clean"))
      l.result(in, clean)
    } finally {
      l.release()
      Dedup.releaseCaches()
    }
  }

  /** The mixture-assembly result: `allocations` — one row per source
    * (source, src_tokens, target_tokens, alloc_tokens, full_epochs,
    * frac_rate_ppm); `sampled` — the input docs that made the mixture,
    * each with `n_copies` (>= 1): how many times the doc appears in
    * the assembled training set.
    */
  case class MixturePlan(allocations: DataFrame, sampled: DataFrame)

  /** Training-mixture assembly — the step AFTER [[curate]]: spend a
    * global token budget across sources under temperature-scaled
    * (alpha = 0.5) weights with a repetition cap. The allocation math
    * IS the q166/q172 advisor surface (CorpusPipelineSpec asserts the
    * frames agree row-for-row), EXECUTED as a repetition-aware sample:
    *
    *  - full epochs are exact — alloc DIV src_tokens copies of every
    *    doc in the source;
    *  - the fractional remainder samples by seeded hash threshold
    *    (xxhash64(doc_id, seed) % 1e6 < rate_ppm): expected token mass
    *    = the remainder, deterministic given the seed, and — unlike a
    *    per-source sort to a running-sum cutoff — requires NO ordered
    *    window over a corpus-sized partition, so the plan stays one
    *    broadcast join + map filter at any scale (the per-source sort
    *    would serialize a 100 TB source through one sort; expectation
    *    budgeting is the documented trade).
    *
    * Tokens are the n_chars DIV 4 proxy (q172's). Input needs
    * (source, doc_id, n_chars) columns — [[curate]]'s clean output
    * qualifies. Long bound: budgetTokens * s_scaled must fit a long —
    * safe through ~25 T tokens per source (q172's documented bound).
    */
  /** The temperature-scaled (alpha = 0.5) per-source token allocation
    * frame — ONE definition shared by the oracle-checked advisor
    * (`OpsQueries.q172` derives its surface from this) and the
    * executor ([[assembleMixture]] samples by it), so the formula can
    * never diverge between the gate and the pipeline. Columns:
    * (source, src_tokens, target_tokens, alloc_tokens, full_epochs,
    * frac_rate_ppm); all exact integers (q166's integer-sqrt posture).
    */
  def mixtureAllocations(docs: DataFrame, budgetTokens: Long,
                         maxEpochs: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs.groupBy("source")
      .agg(sum(expr("n_chars DIV 4")).cast("long").as("src_tokens"))
      .filter(col("src_tokens") > 0)
      .withColumn("s_scaled",
        floor(lit(1000.0) * sqrt(col("src_tokens").cast("double"))).cast("long"))
      .withColumn("denom", sum("s_scaled").over(wAll).cast("long"))
      .withColumn("target_tokens", expr(s"($budgetTokens * s_scaled) DIV denom"))
      .withColumn("alloc_tokens",
        least(col("target_tokens"), expr(s"$maxEpochs * src_tokens")).cast("long"))
      .withColumn("full_epochs", expr("alloc_tokens DIV src_tokens"))
      .withColumn("frac_rate_ppm",
        expr("((alloc_tokens % src_tokens) * 1000000) DIV src_tokens"))
      .select(col("source"), col("src_tokens"), col("target_tokens"),
        col("alloc_tokens"), col("full_epochs"), col("frac_rate_ppm"))
  }

  def assembleMixture(docs: DataFrame, budgetTokens: Long,
                      maxEpochs: Long = 4L, seed: Long = 42L): MixturePlan = {
    val allocations = mixtureAllocations(docs, budgetTokens, maxEpochs)
    val sampled = docs
      .join(broadcast(allocations
        .select(col("source"), col("full_epochs"), col("frac_rate_ppm"))), "source")
      .withColumn("__u", pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000000L)))
      .withColumn("n_copies",
        (col("full_epochs") +
          when(col("__u") < col("frac_rate_ppm"), lit(1L)).otherwise(lit(0L)))
          .cast("long"))
      .filter(col("n_copies") > 0)
      .drop("__u", "full_epochs", "frac_rate_ppm")
    MixturePlan(allocations, sampled)
  }
}
