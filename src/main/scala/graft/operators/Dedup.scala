package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale corpus cleaning.
  *
  * All variants are single-shuffle designs: the only wide operation is a
  * groupBy on the dedup key (exact) or on the LSH bucket id (near-dup),
  * so cost stays linear in corpus size at 100 TB — never a cross join.
  */
object Dedup {

  /** Exact dedup: group on normalized key(s), keep the lowest id.
    * One hash-shuffle on the key; map-side partial aggregation applies.
    */
  def exact(df: DataFrame, keyCols: Seq[Column], idCol: Column): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-corpus span dedup (the C4 recipe, arXiv:1910.10683 §2.2, at
    * token-span granularity): every `spanTokens`-token span at stride
    * `stride` is kept only at its first occurrence in (id, pos) order;
    * later identical spans — in OTHER documents or repeated within one —
    * are flagged. Returns per-document `n_spans` / `n_dup_spans`, the
    * removal plan a rewrite pass consumes.
    *
    * Scale shape: one explode (corpus-linear, ~1/stride rows per token)
    * and ONE shuffle, on the span text, where row_number finds the first
    * occurrence; the per-doc rollup partially aggregates map-side. At
    * open scale shuffle `xxhash64(span)` instead of the span text — 8
    * bytes/row; kept as text here for oracle parity (q81).
    */
  def spanDuplicates(df: DataFrame, idCol: String, textCol: String,
                     spanTokens: Int, stride: Int): DataFrame = {
    require(spanTokens >= 1 && stride >= 1, "spanTokens and stride must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val spans = df
      .select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) >= spanTokens)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("toks")) - spanTokens, lit(stride)),
        i => struct(i.as("pos"),
          array_join(slice(col("toks"), i + 1, lit(spanTokens)), " ").as("span")))).as("sp"))
      .select(col(idCol), col("sp.pos"), col("sp.span"))
    val firstSeen = Window.partitionBy("span").orderBy(col(idCol).asc, col("pos").asc)
    spans
      .withColumn("rn", row_number().over(firstSeen))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
  }

  /** Execute q81's removal plan — the C4 recipe (arXiv:1910.10683 §2.2)
    * REMOVES later occurrences of repeated spans, it does not drop
    * documents. Non-overlapping `spanTokens`-token cells (the
    * stride == spanTokens regime of [[spanDuplicates]] — removal needs a
    * PARTITION of the token stream, overlapping flags are analysis-only)
    * keep only their first corpus-wide occurrence in (id, pos) order,
    * case-insensitively, matching [[spanDuplicates]]'s span identity.
    *
    * CLOSURE under re-tokenization: removals are whole cells, so later
    * tokens shift by a multiple of spanTokens and cell boundaries
    * re-align — re-running [[spanDuplicates]] on the rewritten corpus
    * flags ZERO duplicate spans (the kept cells are corpus-wide distinct
    * by construction, and sub-span tails never form a span). Tokens
    * outside full cells (the < spanTokens tail) and short documents pass
    * through verbatim; tokens keep their original case and order, joined
    * with single spaces (tokenization is the recipe's unit — original
    * inter-token whitespace is not retained). A NULL text passes through
    * UNCHANGED with NULL span counts — without the guard, size(NULL) = -1
    * would make `__n_cells` 0 and concat_ws would silently coerce the
    * text to '' (dropping such docs as span_rewrite rejects downstream).
    *
    * Scale shape: one explode (~1 row per spanTokens tokens), ONE wide
    * shuffle (the first-occurrence window on the span key), one
    * map-side-combined per-doc rollup, one id equi-join back — the q81
    * plan plus a join, corpus-linear. Returns every input column with
    * `textCol` rewritten, plus `n_spans_kept`/`n_spans_removed`.
    */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                  spanTokens: Int): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = split(trim(col(textCol)), "\\s+")
    val cells = df
      .select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) >= spanTokens)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("toks")) - spanTokens, lit(spanTokens)),
        i => struct(i.as("pos"),
          array_join(slice(col("toks"), i + 1, lit(spanTokens)), " ").as("span")))).as("sp"))
      .select(col(idCol), col("sp.pos"), col("sp.span"))
    val firstSeen = Window.partitionBy(lower(col("span")))
      .orderBy(col(idCol).asc, col("pos").asc)
    val keptAgg = cells
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(transform(sort_array(collect_list(struct(col("pos"), col("span")))),
          c => c("span")), " ").as("kept_body"),
        count(lit(1)).as("n_spans_kept"))
    val nullText = col(textCol).isNull
    df
      .withColumn("__toks", toks)
      .withColumn("__n_toks", size(col("__toks")).cast("bigint"))
      .withColumn("__n_cells", expr(s"__n_toks DIV $spanTokens"))
      .withColumn("__tail", array_join(expr(
        s"slice(__toks, cast(__n_cells * $spanTokens + 1 as int), " +
          s"cast(__n_toks - __n_cells * $spanTokens as int))"), " "))
      .join(keptAgg, Seq(idCol), "left")
      .withColumn("n_spans_kept", when(nullText, lit(null).cast("long"))
        .otherwise(coalesce(col("n_spans_kept"), lit(0L))))
      .withColumn("n_spans_removed", when(nullText, lit(null).cast("long"))
        .otherwise(col("__n_cells") - col("n_spans_kept")))
      .withColumn(textCol, when(nullText, col(textCol)).otherwise(concat_ws(" ",
        nullif(coalesce(col("kept_body"), lit("")), lit("")),
        nullif(col("__tail"), lit("")))))
      .drop("__toks", "__n_toks", "__n_cells", "__tail", "kept_body")
  }

  /** Character k-shingles of a text column, one row per (id, shingle),
    * distinct within a document.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, k).distinct()

  /** Shingle stream WITHOUT the per-(id,shingle) distinct — callers whose
    * downstream aggregation is duplicate-idempotent (bitmap OR) skip that
    * full-data shuffle.
    */
  private def shinglesRaw(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    // Guard length >= k: sequence(start > stop) DESCENDS in Spark
    // (1,0,-1,...), which would emit junk positions for short texts while
    // the SQL oracle's GENERATE_SERIES returns empty — silent divergence.
    df.filter(length(col(textCol)) >= k)
      .select(col(idCol), explode(sequence(lit(1), length(col(textCol)) - (k - 1))).as("pos"),
        col(textCol))
      .select(col(idCol), substring_index_pos(col(textCol), col("pos"), k).as("shingle"))

  // substring with a dynamic start position (functions.substring needs literals)
  private def substring_index_pos(text: Column, pos: Column, len: Int): Column =
    text.substr(pos, lit(len))

  /** Default vocabulary bound for the dense-bitmap verifier: above this
    * the per-document array width ((vocab+63)/64 longs ≈ vocab/8 bytes),
    * the broadcast dictionary, and the single-partition dictionary window
    * all degrade together. 2^20 slots = 128 KB/doc dense — the point
    * where sorted hashed sets (one long per DISTINCT shingle, no
    * dictionary at all) are strictly better. Override with
    * `graft.dedup.maxBitmapVocab`.
    */
  val DefaultMaxBitmapVocab: Long = 1L << 20

  /** Per-document shingle-set bitmaps: each document becomes ONE row
    * (id, bm: array<long> — a long per 64 dictionary slots, set_size).
    *
    * With character k-grams over a CLOSED charset the shingle
    * *vocabulary* is tiny (≤ charset^k) while document sets are dense,
    * so a dense bitmap beats an inverted index: Jaccard between two
    * documents is codegen'd AND+popcount over two arrays, and candidate
    * verification never materializes per-pair shingle rows. Built
    * sparse-first: aggregate set bits per (doc, word) — each shingle row
    * evaluates a single shift, not one conditional per word — then
    * assemble the dense array per document. bit_or is
    * duplicate-idempotent, so the shingle stream needs NO distinct.
    * (The previous form — `words` separate bit_or(when(...)) agg columns
    * and flat w0..wN join rows — evaluated words conditionals per shingle
    * row and copied 2·words-long join rows per candidate pair: measured
    * 2.5-7s on q55's 1250-doc input vs <1s for this.)
    *
    * CONTRACT (enforced): the vocabulary must stay ≤
    * `graft.dedup.maxBitmapVocab` (default [[DefaultMaxBitmapVocab]]) —
    * an open-charset (e.g. CJK) corpus blows it up, and this throws
    * loudly instead of degrading silently. The verification entry points
    * ([[ngramJaccardPairs]], [[lshVerifiedPairs]]) fall back to sorted
    * hashed sets automatically; call those, not this, unless dense
    * bitmaps are specifically wanted.
    */
  def shingleBitmaps(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val sh = shinglesRaw(df, idCol, textCol, k)
    val (dict, vocab) = shingleDict(sh)
    val maxVocab = maxBitmapVocab(df.sparkSession)
    if (vocab > maxVocab) {
      // release the over-bound dictionary before refusing — it would
      // otherwise pin vocabulary-sized storage until releaseCaches()
      caches.releaseOne(dict)
      throw new IllegalArgumentException(
        s"shingle vocabulary $vocab exceeds graft.dedup.maxBitmapVocab=$maxVocab: " +
          s"the dense-bitmap verifier would broadcast a $vocab-entry dictionary and " +
          s"build ${(vocab + 63) / 64}-long arrays per document. Use the hashed " +
          "verifier (graft.dedup.verifier=hashed, or the auto fallback in " +
          "ngramJaccardPairs/lshVerifiedPairs) for open-charset corpora, or raise the bound.")
    }
    denseBitmaps(sh, dict, vocab, idCol)
  }

  private def maxBitmapVocab(spark: SparkSession): Long =
    conf(spark, "graft.dedup.maxBitmapVocab", DefaultMaxBitmapVocab, min = 0L)

  private def shingleDict(sh: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    // dense shingle dictionary; the window is over the (bounded)
    // vocabulary, not the corpus, so the single-partition sort is
    // metadata-sized — the vocab bound above is exactly what keeps it so.
    // Cached: the count() below (the dispatch decision) and the
    // denseBitmaps broadcast join both need it — without the persist the
    // distinct+window lineage (and its corpus scan) runs twice per call.
    val dict = trackPersist(sh.select("shingle").distinct()
      .withColumn("sid", row_number().over(Window.orderBy("shingle")) - 1))
    (dict, dict.count())
  }

  private def denseBitmaps(sh: DataFrame, dict: DataFrame, vocab: Long,
                           idCol: String): DataFrame = {
    // empty vocabulary (every doc shorter than k) → no documents
    if (vocab == 0)
      return sh.select(col(idCol), array().cast("array<bigint>").as("bm"),
        lit(0L).as("set_size")).limit(0)
    val words = (vocab.toInt + 63) / 64
    val perWord = sh.join(broadcast(dict), Seq("shingle"))
      .groupBy(col(idCol), (col("sid") / 64).cast("int").as("w"))
      .agg(bit_or(expr("shiftleft(1L, cast(sid % 64 as int))")).as("bits"))
    // map→dense-array assembly is per DOCUMENT (corpus-linear, interpreted
    // HOF is fine here); the per-PAIR hot paths are codegen'd native.
    perWord.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("m"))
      .withColumn("bm", transform(sequence(lit(0), lit(words - 1)),
        w => coalesce(element_at(col("m"), w), lit(0L))))
      .withColumn("set_size", graft.functions.BitmapFunctions.popcount(col("bm")))
      .select(col(idCol), col("bm"), col("set_size"))
  }

  /** Hashed shingle sets — the open-vocabulary verifier: each document
    * becomes (id, bm: ASCENDING-sorted array of xxhash64(shingle),
    * set_size). No dictionary, no broadcast, no dense width: per-doc cost
    * is one long per DISTINCT shingle regardless of corpus vocabulary,
    * and pair verification is a codegen'd sorted-merge intersection.
    * collect_set partially aggregates map-side, so the groupBy shuffles
    * ~set_size longs per document. Exact modulo 64-bit hash collisions
    * (P ≈ vocab²/2^65 — below 3·10^-7 even at 100M distinct shingles).
    */
  private def hashSetsFromShingles(sh: DataFrame, idCol: String): DataFrame =
    sh.select(col(idCol), xxhash64(col("shingle")).as("h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("h"))).as("bm"))
      .withColumn("set_size", size(col("bm")).cast("bigint"))
      .select(col(idCol), col("bm"), col("set_size"))

  /** Verifier dispatch — `graft.dedup.verifier`:
    *  - "auto" (default): count the vocabulary; dense bitmaps when it
    *    fits `graft.dedup.maxBitmapVocab`, hashed sets beyond.
    *  - "bitmap": dense bitmaps, FAIL LOUDLY over the bound.
    *  - "hashed": hashed sets unconditionally — the 100 TB setting; it
    *    also skips the vocabulary-count job entirely.
    * Returns the per-doc set frame plus whether it is hashed.
    */
  private def docSetsFromShingles(sh: DataFrame, idCol: String): (DataFrame, Boolean) = {
    val spark = sh.sparkSession
    val mode = conf(spark, "graft.dedup.verifier").getOrElse("auto")
    mode match {
      case "hashed" => (hashSetsFromShingles(sh, idCol), true)
      case "auto" | "bitmap" =>
        val maxVocab = maxBitmapVocab(spark)
        val (dict, vocab) = shingleDict(sh)
        if (vocab <= maxVocab) (denseBitmaps(sh, dict, vocab, idCol), false)
        else {
          // the dictionary was persisted only to price the dispatch —
          // release it (and drop its tracker entry), the hashed path
          // never reads it
          caches.releaseOne(dict)
          if (mode == "auto") (hashSetsFromShingles(sh, idCol), true)
          else throw new IllegalArgumentException(
            s"shingle vocabulary $vocab exceeds graft.dedup.maxBitmapVocab=$maxVocab " +
              "with graft.dedup.verifier=bitmap; use verifier=hashed or raise the bound")
        }
      case other => throw new IllegalArgumentException(
        s"graft.dedup.verifier must be auto|bitmap|hashed, got '$other'")
    }
  }

  /** Exact Jaccard verification of (id_a, id_b, bm_a/bm_b, size_a/size_b)
    * pair rows: size-ratio prefilter (J >= t ⇒ min/max set-size ratio
    * >= t), codegen'd intersection count (AND+popcount for dense bitmaps,
    * sorted-merge for hashed sets), threshold filter.
    */
  // J ≥ t ⟺ n_inter ≥ t·(size_a+size_b)/(1+t); the −1 float-safety
  // margin makes this a LOWER estimate of the true rational bound, and
  // anything ≤ the true bound preserves exactness in the screens below.
  private def minRequiredCol(threshold: Double): Column =
    floor(lit(threshold) * (col("size_a") + col("size_b")) /
      lit(1.0 + threshold)).cast("bigint") - lit(1L)

  /** The packed-bitmap candidate screen, applied when [[attachSets]]
    * shipped the pk/pkc columns: reject on the PROVABLE intersection
    * upper bound
    *   |A∩B| ≤ popcount(pkA ∧ pkB) + min(sizeA−pkcA, sizeB−pkcB)
    * — every shared element's bit lands in the AND, and the collision
    * excess inside A∩B is bounded by the excess inside either whole set —
    * against `minRequired`, any LOWER bound on the intersection a
    * surviving pair needs (Jaccard's [[minRequiredCol]], containment's
    * ⌊t·min⌋−1). The AND is a branchless [[ScreenWords]]-long loop vs
    * the branchy sorted merge, and on a dense corpus ~93% of candidates
    * fail verification (sf1: 58M candidates → 4.3M pairs), so the screen
    * is where almost every candidate's cost ends. A pure PRE-filter: a
    * surviving row still needs the exact merge; a rejected row provably
    * cannot pass it.
    */
  private def screenCandidates(pairs: DataFrame, minRequired: Column): DataFrame =
    if (!pairs.columns.contains("pk_a")) pairs
    else pairs.filter(
      graft.functions.BitmapFunctions.andCount(col("pk_a"), col("pk_b")) +
        least(col("size_a") - col("pkc_a"), col("size_b") - col("pkc_b")) >=
        minRequired)

  /** Jaccard's row-wise screens, shared by [[jaccardVerify]] and the
    * assignment any-match aggregation: the size-ratio prefilter, then
    * [[screenCandidates]].
    */
  private def jaccardScreen(pairs: DataFrame, threshold: Double): DataFrame =
    screenCandidates(pairs.filter(least(col("size_a"), col("size_b")).cast("double") >=
      lit(threshold) * greatest(col("size_a"), col("size_b")).cast("double")),
      minRequiredCol(threshold))

  private def jaccardVerify(pairs: DataFrame, threshold: Double,
                            hashed: Boolean): DataFrame =
    jaccardScreen(pairs, threshold)
      .withColumn("n_inter",
        if (hashed)
          // early-exit merge: aborts as soon as the pair provably fails
          // (see sortedAndCountBounded) — survivors return exact counts
          graft.functions.BitmapFunctions.sortedAndCountBounded(
            col("bm_a"), col("bm_b"), minRequiredCol(threshold))
        else graft.functions.BitmapFunctions.andCount(col("bm_a"), col("bm_b")))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("size_a") + col("size_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "jaccard")

  /** Width of the packed screen bitmap: 128 longs = 8192 bit slots ≈
    * 1 KB/doc. Collision excess grows ~set_size²/(2·slots), so past
    * ~2·slots distinct shingles per doc the bound stops rejecting
    * anything — it stays SAFE, it only ever under-rejects.
    */
  private val ScreenWords = 128

  /** Attach the packed-screen columns (pk, pkc) to a per-doc hashed-set
    * frame — derived from the stored sorted set, so a persisted index
    * needs NO schema migration to benefit.
    */
  private def withPackedScreen(sets: DataFrame): DataFrame =
    sets
      .withColumn("pk", graft.functions.BitmapFunctions.packBits(col("bm"), lit(ScreenWords)))
      .withColumn("pkc", graft.functions.BitmapFunctions.popcount(col("pk")))

  /** Census gate for the packed screen: below `graft.dedup.
    * screenMinCandidatesPerDoc` (default 256) candidates per document
    * there is too little rejection work to amortize the per-doc
    * pack+popcount and the per-candidate 1 KB × 2 payload inflation —
    * the r11 sf0.1 measurements (q85 2.3→2.8 s, q121 1.7→2.1 s at ~tens
    * of candidates/doc) against the sf1 2× win at ~35k candidates/doc.
    * `None` (no census available) keeps the screen ON — the safe default
    * at unknown scale, since skipping it can only be justified by a
    * measurement. The gate is a pure PERFORMANCE choice: the screen is a
    * provable upper-bound pre-filter, so gated and ungated plans return
    * byte-identical rows (spec-pinned).
    */
  private def screenPays(spark: SparkSession,
                         candidatesPerDoc: Option[Double]): Boolean = {
    val minDensity = conf(spark, "graft.dedup.screenMinCandidatesPerDoc")
      .map(_.toDouble).getOrElse(256.0)
    candidatesPerDoc.forall(_ >= minDensity)
  }

  /** The verify-set join of every near-dup verifier ([[lshVerifiedPairs]],
    * [[containmentPairs]], [[dedupIncrement]], [[assignIncrementEdges]]):
    * returns a function that joins each candidate row's id_a and id_b
    * ends to the per-doc set frame `sets` (idCol, bm, set_size) as
    * bm_a/size_a and bm_b/size_b, keeping every candidate column. It
    * decides three things from ONE sizing aggregation over `sets` (the
    * callers persist it, so the action also materializes the cache):
    *  - the packed screen: hashed sets only, gated by [[screenPays]] on
    *    `candidatesPerDoc(nDocs)`; when on, pk/pkc ride both ends for
    *    [[screenCandidates]].
    *  - broadcast vs shuffle, MEASURED: hashed-set payloads are ~8 B per
    *    shingle, so a set frame is often just past Spark's 10 MB
    *    autoBroadcast line even when it trivially fits memory — and then
    *    BOTH verify joins sort-merge, shuffling every candidate pair WITH
    *    its 2 set arrays (the sf1 sweep: 58M pairs × ~4.6 KB riding two
    *    exchanges, 164 s vs 52 s broadcast; the sf10 containment census:
    *    400M candidate rows × ~2 KB spilled local disk to zero). Under
    *    [[defaultBroadcastSetBytes]] the set side broadcasts explicitly
    *    and the candidate stream never shuffles; past it (a truly
    *    corpus-sized set frame) the shuffled join is the correct plan.
    *    The raw payload is priced by size(bm) — dense bitmaps (fixed
    *    width × docs) and hashed sets (set sizes) alike — plus the
    *    screen bitmap and ~40 B of id/size overhead per doc.
    *  - with `disjointIds`, the ingest precondition of the increment
    *    paths (new ids are new) is ENFORCED: an overlapping id would let
    *    a (new, new) pair also surface through the (new, old) channel.
    *    It rides the sizing aggregation as a distinct-id count.
    * Under AQE the two joins ship two copies of the set side (distinct
    * BroadcastQueryStages — round 12's final executed plans, SURVEY.md);
    * the one-copy reformulation shuffles every candidate with its set
    * payload, the measured 3× regression, so the bound keeps the honest
    * two-copies accounting (see [[defaultBroadcastSetBytes]]).
    */
  private def attachSets(sets: DataFrame, idCol: String, hashed: Boolean,
                         candidatesPerDoc: Long => Option[Double],
                         disjointIds: Boolean = false): DataFrame => DataFrame = {
    val spark = sets.sparkSession
    val sizing = Seq(sum(size(col("bm")).cast("long")), count(lit(1))) ++
      (if (disjointIds) Seq(count_distinct(col(idCol))) else Nil)
    val est = sets.agg(sizing.head, sizing.tail: _*).head()
    val nDocs = est.getLong(1)
    require(!disjointIds || est.isNullAt(0) || nDocs == est.getLong(2),
      s"dedupIncrement requires disjoint id spaces (new ids are new — the " +
        s"ingest precondition): the stored index and the batch share " +
        s"${nDocs - est.getLong(2)} document id(s)")
    val screen = hashed && screenPays(spark, candidatesPerDoc(nDocs))
    val estBytes =
      if (est.isNullAt(0)) 0L
      else est.getLong(0) * 8L + nDocs * (40L + (if (screen) 8L * ScreenWords else 0L))
    val hint: DataFrame => DataFrame =
      if (estBytes <= defaultBroadcastSetBytes(spark)) broadcast(_: DataFrame) else identity
    val base = if (screen) withPackedScreen(sets) else sets
    def end(e: String): DataFrame = hint(base.select(Seq(col(idCol).as(s"id_$e"),
      col("bm").as(s"bm_$e"), col("set_size").as(s"size_$e")) ++
      (if (screen) Seq(col("pk").as(s"pk_$e"), col("pkc").as(s"pkc_$e")) else Nil): _*))
    val (a, b) = (end("a"), end("b"))
    cands => cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
  }

  /** Exact n-gram Jaccard near-duplicate pairs — VERIFICATION-ONLY entry
    * point: all-pairs via a broadcast cross join is quadratic in the
    * input and broadcasts the whole right side, so it is only safe on a
    * bounded sample (the oracle queries use a deterministic id sample).
    * The corpus-scale path is [[lshVerifiedPairs]], which generates
    * candidates with LSH and verifies the SAME exact-Jaccard arithmetic
    * through equi-joins — no cross join, no corpus broadcast.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double): DataFrame = {
    // docs is BOTH sides of the all-pairs join below — persist it (one
    // row per document of this bounded sample) or the whole shingle →
    // bitmap aggregation pipeline executes twice
    val (docsRaw, hashed) = docSetsFromShingles(shinglesRaw(df, idCol, textCol, k), idCol)
    val docs = trackPersist(docsRaw)
    val a = docs.select(col(idCol).as("id_a"), col("bm").as("bm_a"),
      col("set_size").as("size_a"))
    val b = docs.select(col(idCol).as("id_b"), col("bm").as("bm_b"),
      col("set_size").as("size_b"))
    jaccardVerify(a.join(broadcast(b), col("id_a") < col("id_b")), threshold, hashed)
  }

  /** The composed 100 TB near-dup pipeline: MinHash-LSH candidate
    * generation → exact Jaccard verification restricted to the candidate
    * pairs. Candidates come from [[minhashLshPairs]] (one band-bucket
    * shuffle, ~1 row/doc after partial agg); verification equi-joins the
    * candidate list back to the per-document bitmaps from
    * [[shingleBitmaps]] — two key joins that AQE can broadcast when the
    * candidate list is small, and that shuffle-hash-join at corpus scale.
    * No cross join, no corpus-side broadcast anywhere in the plan.
    *
    * With rowsPerBand = numPerm/bands = 1 (e.g. numPerm=16, bands=16) a
    * pair with Jaccard J is a candidate unless it disagrees on ALL
    * minhashes — miss probability (1-J)^numPerm, ~4e-7 at J=0.6 with 16
    * perms — so the verified output matches the exact all-pairs result
    * (the q72 oracle checks exactly that equivalence).
    */
  def lshVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double,
                       numPerm: Int, bands: Int,
                       candidatesPerDocHint: Option[Double] = None): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    // The shingle stream feeds BOTH the MinHash signatures and the
    // verification sets; cache it so the corpus (the dominant scan at
    // 100 TB) is read once. Identical plans share one cache entry
    // (CacheManager dedupes re-registration); release via
    // [[releaseCaches]] (or spark.catalog.clearCache()) in long-lived
    // sessions that move between corpora — eviction only costs recompute.
    val sh = trackPersist(shinglesRaw(df, idCol, textCol, k))
    val cands = lshPairsFromSignatures(
      signaturesFromShingles(sh, idCol, numPerm), idCol, numPerm, bands)
    // docs joins the candidate list on BOTH ends — persist (one row per
    // document) so the shingle→set aggregation runs once, not twice
    val (docsRaw, hashed) = docSetsFromShingles(sh, idCol)
    val docs = trackPersist(docsRaw)
    val attach = attachSets(docs, idCol, hashed, _ => candidatesPerDocHint)
    jaccardVerify(attach(cands), threshold, hashed)
  }

  /** Geometric rungs the containment posting-cap budget chooses from.
    * Floor = the legacy flat default (64), so the budgeted cap is never
    * a recall REGRESSION vs the old dial; ceiling = 2^20 (a df beyond a
    * million means corpus-scale boilerplate, q77's domain). Geometric
    * spacing keeps the one-pass census to a handful of conditional sums
    * while locating the affordable cap within a 4× factor — cap choice
    * is a volume heuristic, not an exact optimum.
    */
  private[graft] val PostingCapLadder: Seq[Long] =
    Seq(64L, 256L, 1024L, 4096L, 16384L, 65536L, 262144L, 1048576L)

  /** Pick the largest ladder rung whose measured candidate mass fits the
    * budget; returns (cap, mass at cap). `masses` must be ascending in
    * cap (mass is monotone in cap by construction). Falls back to the
    * smallest rung — the legacy floor — when even that rung's mass
    * exceeds the budget (the old flat-64 behavior, never worse).
    */
  private[graft] def postingCapForBudget(masses: Seq[(Long, Long)],
                                         budget: Long): (Long, Long) =
    masses.filter(_._2 <= budget).lastOption.getOrElse(masses.head)

  /** Asymmetric CONTAINMENT near-dup pairs — the case symmetric Jaccard
    * structurally misses: a short document fully quoted inside a long
    * one has containment |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so
    * MinHash-LSH (tuned for Jaccard) never surfaces it. Candidates come
    * from the POSTING-INTERSECTION generator instead: word n-gram
    * shingles self-joined on the shingle — pairs sharing at least one
    * cold shingle — then verification against the FULL per-doc hashed
    * sets (the lshVerifiedPairs split: prune shapes candidates, never
    * the verified arithmetic; exact modulo 64-bit hash collisions) and
    * a containment-of-the-smaller-side threshold.
    *
    * Scale shape: everything is equi-join/groupBy on the shingle or the
    * pair key. The quadratic hazard (a corpus-hot shingle's posting
    * list self-joined) is bounded two ways, both measured rather than
    * guessed:
    *
    *  - TOTAL candidate volume is recall-BUDGETED: unset, the posting
    *    cap is the largest rung of a geometric ladder (64 … 2^20) whose
    *    measured candidate mass Σ_{df≤cap} df·(df−1)/2 — computed in the
    *    SAME single aggregation pass the screen census already paid —
    *    stays under `graft.dedup.maxContainmentPairs` (default
    *    targetPairsPerTask × session shuffle width ≈ one wave of
    *    target-sized verify tasks). The ladder floors at the legacy 64,
    *    so recall is never WORSE than the old flat dial; an explicit
    *    `graft.dedup.maxPostingDf` always wins (legacy semantics).
    *  - PER-TASK work is salt-bounded: each admitted shingle's postings
    *    carry a salt derived from its OWN df — the right side replicates
    *    g(df) = 1 + (df·(df−1)/2) DIV targetPairsPerTask ways (1 for the
    *    cold mass, so flat corpora pay nothing), the left side hashes
    *    its id into [0, g) — so a hot posting list's quadratic pair mass
    *    spreads across ~mass/target tasks instead of serializing in one
    *    (the q22/q85 AQE lesson, here with df as a free census: no
    *    hotCensus pass needed). Every pair still meets exactly once.
    *
    * Recall contract: a qualifying pair is missed only if EVERY shingle
    * the two documents share is hotter than the budgeted cap — for
    * threshold c that means c·|smaller| shared shingles, all above a cap
    * the budget could not afford; boilerplate that common belongs to
    * q77's repetition/boilerplate analysis, not pairwise dedup. The sf
    * oracle runs the UNPRUNED all-pairs SQL and hash-matches (max df in
    * the test corpora is 4 — the prune never fires there).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val spark = df.sparkSession
    // any value >= 1 is legal, as before this dial was budgeted — the
    // cap only enters `<=` comparisons and a min(), never arithmetic,
    // so a Long.MaxValue "disable the prune" setting stays safe
    val explicitCap = conf(spark, "graft.dedup.maxPostingDf", min = 1L)
    // one shingle scan feeds the candidate postings AND the verification
    // sets — persist it, like lshVerifiedPairs' shingle stream
    val sh = trackPersist(
      graft.functions.TextFunctions.wordNgrams(df, idCol, textCol, n))
    // verification sets: FULL per-doc sorted xxhash64 sets (the hashed
    // verifier's representation) — the df prune below shapes CANDIDATE
    // generation only; n_common is always exact over the whole sets
    val sets = trackPersist(
      sh.select(col(idCol), xxhash64(col("shingle")).as("h"))
        .groupBy(col(idCol))
        .agg(sort_array(collect_set(col("h"))).as("bm"))
        .withColumn("set_size", size(col("bm")).cast("bigint")))
    // posting-frequency frame: feeds the cap ladder, the cold-shingle
    // prune, the per-shingle salt, AND the screen-gate census — persisted
    // so the census action is not paid twice
    val dfFreq = trackPersist(
      sh.groupBy("shingle").agg(count(lit(1)).as("df")))
    // ONE aggregation pass measures candidate mass at every ladder rung
    // (or just the explicit cap) — same cost as the old single-cap census
    val rungs = explicitCap.map(Seq(_)).getOrElse(PostingCapLadder)
    val massAggs = rungs.map(c => sum(when(col("df") <= c,
      expr("(df * (df - 1)) DIV 2")).otherwise(lit(0L))).as(s"m$c")) ++
      rungs.map(c => max(when(col("df") <= c, col("df"))).as(s"x$c"))
    val massRow = dfFreq.agg(massAggs.head, massAggs.tail: _*).head()
    val masses = rungs.zipWithIndex.map { case (c, i) =>
      c -> (if (massRow.isNullAt(i)) 0L else massRow.getLong(i)) }
    // per-rung ADMITTED max df (max over df <= rung) — a pruned
    // boilerplate shingle above every rung must not leak into the
    // hottest-admitted gate below, or the salted shape runs exactly
    // where it was gated off (cold admitted postings)
    val admittedMax = rungs.zipWithIndex.map { case (c, i) =>
      val j = rungs.length + i
      c -> (if (massRow.isNullAt(j)) 0L else massRow.getLong(j)) }.toMap
    val target = targetPairsPerTask(spark)
    // default budget = one wave of target-sized verify tasks. Computed
    // LAZILY (an explicit dial must not even read shuffle.partitions —
    // some deployments set it non-numeric, e.g. "auto") and with a
    // saturating multiply: a huge user targetPairsPerTask must clamp,
    // not wrap negative.
    val budget = conf(spark, "graft.dedup.maxContainmentPairs", min = 1L).getOrElse {
      val parts = scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toLong)
        .getOrElse(spark.sparkContext.defaultParallelism.toLong)
      try math.multiplyExact(target, math.max(1L, parts))
      catch { case _: ArithmeticException => Long.MaxValue }
    }
    val (maxDf, candMass) = explicitCap match {
      case Some(_) => masses.head
      case None    => postingCapForBudget(masses, budget)
    }
    // Salt ONLY when the hottest ADMITTED posting list's own pair mass
    // exceeds the per-task target — the census already measured the
    // admitted max df per rung, so this is a driver-side lookup, not
    // another pass (and a pruned boilerplate shingle hotter than every
    // rung cannot trip it). Below it the legacy slim semi-join shape
    // stands: no df payload, no explode, no (shingle, salt) key —
    // measured 2.6 s warm at sf1 vs 22 s when the salted shape ran
    // unconditionally on a corpus whose max df is 8.
    val hottest = admittedMax.getOrElse(maxDf, 0L)
    val cands = if (hottest * (hottest - 1) / 2 <= target) {
      val cold = dfFreq.filter(col("df") <= maxDf).select("shingle")
      val pruned = sh.join(cold, Seq("shingle"), "left_semi")
      pruned.select(col("shingle"), col(idCol).as("id_a"))
        .join(pruned.select(col("shingle"), col(idCol).as("id_b")), Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    } else {
      // postings of admitted shingles, carrying df so the salt is free:
      // g(df) spreads a hot list's quadratic pair mass over ~mass/target
      // tasks (left side hashes its id into [0, g), right side
      // replicates g ways) — every pair still meets exactly once
      val pruned = sh.join(dfFreq.filter(col("df") <= maxDf), Seq("shingle"))
      val gk = expr(s"least(1024L, 1L + ((df * (df - 1)) DIV 2) DIV $target)")
      val candsA = pruned.select(col("shingle"), col(idCol).as("id_a"),
        pmod(xxhash64(col(idCol)), gk).cast("int").as("__salt"))
      val candsB = pruned.select(col("shingle"), col(idCol).as("id_b"),
        explode(sequence(lit(0), (gk - 1).cast("int"))).as("__salt"))
      candsA.join(candsB, Seq("shingle", "__salt"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    }
    // containment requires n_common ≥ t·min(sizes): the same census-
    // gated packed screen + early-exit merge as jaccardVerify, with the
    // bound m = ⌊t·min(sizes)⌋ − 1 (any value ≤ the true requirement is
    // safe); the screen census is the budgeted candidate mass per doc
    val attach = attachSets(sets, idCol, hashed = true,
      nDocs => Some(if (nDocs == 0L) 0.0 else candMass.toDouble / nDocs))
    val minReq = floor(lit(threshold) *
      least(col("size_a"), col("size_b")).cast("double")).cast("bigint") - lit(1L)
    screenCandidates(attach(cands), minReq)
      .withColumn("n_common",
        graft.functions.BitmapFunctions.sortedAndCountBounded(
          col("bm_a"), col("bm_b"), minReq))
      .filter(col("n_common").cast("double") >=
        lit(threshold) * least(col("size_a"), col("size_b")).cast("double"))
      // containment as exact-integer ppm DIV — counts and set sizes are
      // integers, so no double (and no engine-version-sensitive
      // ROUND(double, 6) — the r7 hash-fail class) reaches the output
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("size_a"), col("size_b"),
        expr("(n_common * 1000000) DIV least(size_a, size_b)")
          .as("containment_ppm"))
  }

  /** A measured LSH banding choice: `numPerm = rowsPerBand × bands`
    * MinHash permutations banded `rowsPerBand` at a time, with the
    * candidate density the census observed (or, after the recall-budget
    * extension, linearly re-scaled) at that banding. `estTotalPairs` is
    * the corpus-wide candidate-pair mass the same census measured — the
    * quantity the recall budget divides by.
    */
  case class BandingChoice(numPerm: Int, bands: Int, rowsPerBand: Int,
                           estPairsPerDoc: Double, estTotalPairs: Double)

  /** One banding census result: corpus-wide within-bucket pair mass
    * (summed over every band — a pair agreeing in a bands is counted a
    * times, exactly the pre-filter join volume) and the document count.
    */
  case class BandedCensus(totalPairs: Double, nDocs: Long) {
    def pairsPerDoc: Double = if (nDocs == 0L) 0.0 else totalPairs / nDocs
  }

  /** Fewest bands `b` such that a TRUE pair at `threshold` escapes all
    * bands with probability ≤ `missProb`: (1 − t^r)^b ≤ missProb. This
    * is the recall side of the banding trade — [[adaptiveBanding]] holds
    * it constant while escalating `rowsPerBand`, so candidate pruning
    * never buys speed with silent misses. (t=0.6, r=1, 1e-6 → 16 bands —
    * exactly the suite's historical numPerm=16/bands=16 default.)
    */
  def bandsForRecall(threshold: Double, rowsPerBand: Int,
                     missProb: Double = 1e-6): Int = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    require(rowsPerBand >= 1 && missProb > 0.0 && missProb < 1.0,
      s"rowsPerBand >= 1 and missProb in (0,1) required")
    math.ceil(math.log(missProb) /
      math.log1p(-math.pow(threshold, rowsPerBand))).toInt.max(1)
  }

  /** Candidate-density census at a banding: Σ over (band, bucket) of
    * c·(c−1)/2, per document — EXACTLY the row count the band-bucket
    * pair join emits before the first-agreeing-band filter, i.e. the
    * volume that goes quadratic on a template-heavy corpus. One
    * groupBy over the (docs × bands)-row banded frame; no pair is ever
    * materialized to measure it.
    */
  def bandedCensusPairsPerDoc(banded: DataFrame, bands: Int): Double =
    bandedCensus(banded, bands).pairsPerDoc

  /** The full census behind [[bandedCensusPairsPerDoc]]: total
    * within-bucket pair mass plus the document count, so callers can
    * budget TOTAL expected recall misses, not just per-doc density.
    */
  def bandedCensus(banded: DataFrame, bands: Int): BandedCensus = {
    val r = banded.groupBy("band", "bucket").agg(count(lit(1)).as("c"))
      .agg(sum(expr("(c * (c - 1)) DIV 2")).as("pairs"), sum(col("c")).as("n"))
      .head()
    if (r.isNullAt(1) || r.getLong(1) == 0L) BandedCensus(0.0, 0L)
    else BandedCensus(r.getLong(0).toDouble, r.getLong(1) / bands)
  }

  /** Density-adaptive banding: choose (numPerm, bands) from a MEASURED
    * candidate-density census instead of a fixed guess. Starting at
    * rowsPerBand = 1 (bands from [[bandsForRecall]], so recall at
    * `threshold` is pinned at ≥ 1 − missProb per true pair THROUGHOUT),
    * band the corpus, census the within-bucket pair volume, and — while
    * it exceeds `targetPairsPerDoc` — escalate rowsPerBand: each extra
    * row per band multiplies a noise pair's per-band collision odds by
    * its Jaccard (J^r), so low-J collisions — the bulk of a hot-template
    * corpus's candidate explosion — die off geometrically while the
    * recall formula re-derives bands to keep true pairs safe.
    *
    * The escalation trade is measured, not assumed: each step pays one
    * more signature pass over the (cached) shingle stream and a wider
    * index (numPerm grows ~2× per step at t=0.6), and buys a census-
    * verified candidate reduction; it stops at the first banding under
    * target, at `maxRowsPerBand`, or when a step stops paying (density
    * improved < 1.3× — true near-dup pairs are irreducible by banding,
    * so a census floor means the corpus genuinely contains that many
    * near-dups and more bands would only burn signature work).
    *
    * RECALL BUDGET (the corpus side of the trade): `missProb` alone pins
    * the PER-PAIR miss probability, so expected TOTAL misses grow
    * linearly with the corpus's true-pair mass — at 5.6M true pairs a
    * 1e-6 per-pair tail still loses ~6 of them. The census already
    * measures an upper bound on that mass (candidate pairs ⊇ true pairs
    * up to the ≤missProb missed sliver, and band multiplicity only
    * inflates it), so after the density loop the effective per-pair
    * budget is tightened to p = min(missProb, maxExpectedMisses/mass)
    * and bands re-derived: expected total misses ≤ mass·(1−t^r)^bands ≤
    * `maxExpectedMisses` AT THE MEASURED SCALE. Extra bands add
    * candidates ~linearly, so (mass, bands) is fixed-pointed with the
    * linear re-scale — pure arithmetic, no re-census, log convergence,
    * and the overestimate in using candidate mass for true-pair mass
    * costs only O(log overestimate) extra bands. At gate scales the
    * budget never binds (mass < 1/missProb) and the choice is
    * byte-identical to the unbudgeted one.
    *
    * Use at INDEX BUILD time ([[nearDupIndex]]/backfill): the stored
    * index fixes (numPerm, bands) for every later [[dedupIncrement]]
    * batch, which must be banded identically.
    */
  def adaptiveBanding(df: DataFrame, idCol: String, textCol: String, k: Int,
                      threshold: Double,
                      targetPairsPerDoc: Double = 64.0,
                      missProb: Double = 1e-6,
                      maxRowsPerBand: Int = 3,
                      maxExpectedMisses: Double = 1.0): BandingChoice = {
    require(targetPairsPerDoc > 0.0 && maxRowsPerBand >= 1,
      "targetPairsPerDoc must be positive and maxRowsPerBand >= 1")
    require(maxExpectedMisses > 0.0, "maxExpectedMisses must be positive")
    val sh = trackPersist(shinglesRaw(df, idCol, textCol, k))
    var r = 1
    var cur: BandingChoice = null
    var done = false
    while (!done) {
      val b = bandsForRecall(threshold, r, missProb)
      val banded = bandedBuckets(
        signaturesFromShingles(sh, idCol, r * b), idCol, r * b, b)
      val census = bandedCensus(banded, b)
      val density = census.pairsPerDoc
      val gainedEnough = cur == null || density * 1.3 <= cur.estPairsPerDoc
      // adopt an escalation only when it PAYS (≥1.3× density cut): a
      // marginal win would still double the signature bill every batch
      if (gainedEnough) cur = BandingChoice(r * b, b, r, density, census.totalPairs)
      done = density <= targetPairsPerDoc || r >= maxRowsPerBand || !gainedEnough
      r += 1
    }
    budgetBands(cur, threshold, missProb, maxExpectedMisses)
  }

  /** The recall-budget fixed point described on [[adaptiveBanding]]:
    * widen `bands` until mass·(1−t^r)^bands ≤ maxExpectedMisses, with
    * mass re-scaled linearly as bands grow. Never narrows the choice.
    */
  private def budgetBands(base: BandingChoice, threshold: Double,
                          missProb: Double,
                          maxExpectedMisses: Double): BandingChoice = {
    var b = base.bands
    var stable = false
    var iter = 0
    while (!stable && iter < 8) {
      val mass = base.estTotalPairs * b / base.bands
      val p = math.min(missProb, maxExpectedMisses / math.max(mass, 1.0))
      val nb = math.max(b, bandsForRecall(threshold, base.rowsPerBand, p))
      stable = nb == b
      b = nb
      iter += 1
    }
    if (b == base.bands) base
    else BandingChoice(base.rowsPerBand * b, b, base.rowsPerBand,
      base.estPairsPerDoc * b / base.bands, base.estTotalPairs * b / base.bands)
  }

  /** The persistable near-dup index of a corpus: the two tables a
    * production pipeline stores (parquet, partitioned by band /
    * bucketed by id) so that DAILY INGEST never re-scans the corpus —
    * the realistic 100 TB operating mode, where [[lshVerifiedPairs]] is
    * the one-time backfill and [[dedupIncrement]] the steady state.
    *
    *  - bands: (id, band, bucket) — one row per (doc, band); the LSH
    *    candidate side ([[bandedBuckets]]).
    *  - sets:  (id, bm, set_size) — hashed shingle sets (the
    *    open-vocabulary verifier, [[hashSetsFromShingles]]; hashed
    *    unconditionally because a persisted index cannot depend on a
    *    rebuild-time dictionary).
    *
    * Both derive from ONE cached shingle scan. All hashes are seeded
    * xxhash64 — deterministic across batches and sessions, so an index
    * written today joins tomorrow's batch correctly.
    */
  def nearDupIndex(df: DataFrame, idCol: String, textCol: String,
                   k: Int, numPerm: Int, bands: Int): (DataFrame, DataFrame) = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val sh = trackPersist(shinglesRaw(df, idCol, textCol, k))
    (bandedBuckets(signaturesFromShingles(sh, idCol, numPerm), idCol, numPerm, bands),
      hashSetsFromShingles(sh, idCol))
  }

  /** Incremental ingest dedup: verified near-dup pairs touching a NEW
    * batch — (new × corpus) ∪ (new × new) — against a corpus represented
    * ONLY by its [[nearDupIndex]]. The corpus text is never re-read:
    * candidates come from [[incrementCandidates]]' one band join of the
    * index and batch rows against the batch's (for a daily batch ≪
    * corpus the broadcast fast path ships the batch side — under
    * `graft.dedup.maxBroadcastBandRows` the index scan is shuffle-free
    * and no census job runs); verification equi-joins the candidate
    * list to the stored hashed sets.
    *
    * Id spaces must be disjoint (new ids are new — the ingest
    * precondition; ENFORCED by a guard riding the broadcast-sizing
    * aggregation); recall follows [[lshVerifiedPairs]]'s band-miss
    * bound. Emits the [[jaccardVerify]] schema with id_a < id_b.
    */
  def dedupIncrement(indexBands: DataFrame, indexSets: DataFrame,
                     newDocs: DataFrame, idCol: String, textCol: String,
                     k: Int, threshold: Double, numPerm: Int, bands: Int,
                     candidatesPerDocHint: Option[Double] = None): DataFrame = {
    val c = incrementCandidates(indexBands, newDocs, idCol, textCol, k, numPerm, bands)
    // persisted: joined on BOTH candidate ends (the q72 docs-persist
    // rationale), and the persist gives the broadcast decision a
    // materialized frame to measure
    val allSets = trackPersist(indexSets.unionByName(c.newSets))
    val attach = attachSets(allSets, idCol, hashed = true,
      _ => candidatesPerDocHint, disjointIds = true)
    jaccardVerify(attach(c.pairs.select(least(col("pid"), col("rid")).as("id_a"),
      greatest(col("pid"), col("rid")).as("id_b"))), threshold, hashed = true)
  }

  /** An increment batch's LSH candidates against a stored index: `pairs`
    * holds (pid, rid, __new) — rid a batch doc, pid an index doc
    * (__new = false) or a batch doc with pid < rid (__new = true) —
    * each candidate pair exactly once. `newSets` is the batch's hashed
    * sets and `smallBatch` the band-row probe's verdict.
    */
  private case class IncrementCandidates(pairs: DataFrame, newSets: DataFrame,
                                         smallBatch: Boolean)

  /** ONE salted band join feeds BOTH candidate channels (r13 ran two —
    * index×batch and batch×batch — and the double generation was the
    * whole small-scale premium over a single join): the probe side is
    * the index's banded rows UNIONED with the batch's, the replicate
    * side is the batch's, and the channel tag (__new) tells oriented
    * batch→corpus candidates from ordered batch-internal ones. The
    * first-agreeing-band filter (symmetric in its array arguments) makes
    * each pair surface exactly once across the whole union, so no
    * `.distinct()` — whose pairs×bands multiset shuffle was the measured
    * q85 scale bottleneck at sf1 — is needed.
    */
  private def incrementCandidates(indexBands: DataFrame, newDocs: DataFrame,
                                  idCol: String, textCol: String,
                                  k: Int, numPerm: Int, bands: Int): IncrementCandidates = {
    require(indexBands.columns.contains("buckets"),
      "this index predates the round-10 banded format (no 'buckets' band-array " +
        "column) — rebuild it with nearDupIndex; the curate loop rewrites it " +
        "every batch, so one batch migrates")
    val (newBandsRaw, newSets) = nearDupIndex(newDocs, idCol, textCol, k, numPerm, bands)
    val nb = trackPersist(newBandsRaw)
    val smallBatch = fitsBroadcastBandRows(nb)
    def probeSide(df: DataFrame, isNew: Boolean): DataFrame =
      df.select(col(idCol).as("pid"), col("band"), col("bucket"),
        col("buckets").as("bk_p"), lit(isNew).as("__new"))
    val idx = probeSide(indexBands, isNew = false)
    val batch = probeSide(nb, isNew = true)
    val replicate = nb.select(col(idCol).as("rid"), col("band"), col("bucket"),
      col("buckets").as("bk_r"))
    val keys = Seq("band", "bucket")
    // the broadcast fast path widens the index BRANCH, not the union: the
    // union's partition count is the SUM of its branches, so a 1-split
    // slim index parquet would pass a width check on the batch side's
    // partitions and still scan the whole index in one serial task (the
    // q85 sf1 10 → 71 s shape) — and checking the union as well would
    // run its exchanges once more at construction. On the censused path
    // the shuffle restores parallelism and no repartition is paid.
    val joined =
      if (smallBatch) widenDegenerate(idx).unionByName(batch).join(broadcast(replicate), keys)
      else saltedExplodeJoin(idx.unionByName(batch), "pid", replicate, keys,
        fastPath = false)
    val pairs = joined
      .filter(col("pid") =!= col("rid"))
      .filter(graft.functions.BitmapFunctions
        .noEarlierBandMatch(col("bk_r"), col("bk_p"), col("band")))
      .filter(!col("__new") || col("pid") < col("rid"))
    IncrementCandidates(pairs, newSets, smallBatch)
  }

  /** Linear-output incremental dedup ASSIGNMENT — the curation-facing
    * mode of [[dedupIncrement]]: instead of enumerating every verified
    * near-dup pair (an output quadratic in cluster width — the only
    * remaining quadratic in the dedup suite, and a DATA property of the
    * pair contract, not the plan), fold the batch into the stored
    * cluster table and emit ONE row per affected document
    * (node → cluster representative). Returns the [[updateClusters]]
    * assignment over stored nodes ∪ newly-paired endpoints, EQUAL to the
    * batch fixpoint `dedupClusters(old pairs ∪ all true new pairs)`
    * (spec-pinned): exactly the shape q95's canonicalization and q190's
    * leakage-safe split consume. `CorpusPipeline.curateIncrement` reads
    * the two edge channels of [[assignIncrementEdges]] instead.
    *
    * Why the work is ~linear in the batch where the pair mode is
    * quadratic:
    *  - batch × corpus: candidates group by (batch doc, stored cluster
    *    of the index doc) and the short-circuit any-match aggregation
    *    ([[graft.functions.AnyTrueAgg]] over [[graft.functions.PairMatchExpr]])
    *    verifies each group only until its FIRST true edge —
    *    connectivity never needs the second (all b–m edges for m in a
    *    stored cluster C contract to the single edge b–C, because C's
    *    members stay connected by their old pairs in the batch
    *    fixpoint). A batch doc joining a w-member cluster costs ~1
    *    exact merge, not w.
    *  - batch × batch: candidates contract by each endpoint's stage-A
    *    label (same-label pairs are already connected THROUGH that
    *    stored cluster and drop before any verify work); surviving
    *    groups (label_a, label_b) take the same any-match — one edge
    *    per genuinely-new component link.
    * Recall follows the banding budget (a (doc, cluster) link is missed
    * only if EVERY true pair between them is missed as a candidate —
    * strictly rarer than the pair-mode tail). Precision is exact: every
    * emitted edge carries a verified pair behind it.
    *
    * `storedClusters` must hold the [[dedupClusters]] min-member-label
    * invariant (it is also [[updateClusters]]' precondition); pass the
    * maintained cluster table, same as q191.
    */
  def assignIncrement(indexBands: DataFrame, indexSets: DataFrame,
                      storedClusters: DataFrame, newDocs: DataFrame,
                      idCol: String, textCol: String,
                      k: Int, threshold: Double, numPerm: Int, bands: Int,
                      candidatesPerDocHint: Option[Double] = None): DataFrame = {
    val e = assignIncrementEdges(indexBands, indexSets, storedClusters,
      newDocs, idCol, textCol, k, threshold, numPerm, bands,
      candidatesPerDocHint)
    updateClusters(storedClusters, e.corpus.unionByName(e.batch), "ea", "eb")
  }

  /** The verified merge edges behind [[assignIncrement]], exposed
    * separately so a consumer with its own keep policy (the curate
    * loop's first-seen-wins) can read the two channels directly:
    * `corpus` — one (ea = batch doc, eb = stored cluster rep) row per
    * (batch doc, stored cluster) with ≥ 1 true pair; `batch` — one
    * (ea, eb) row per surviving contracted batch-internal component
    * link. `contractedBatchOnly = true` scopes stage B to candidates
    * whose BOTH endpoints escaped stage A (neither matched the corpus):
    * exactly the curate loop's batch-internal clustering input, where
    * corpus-matched docs drop before batch clustering — the cross
    * (survivor, corpus-cluster) groups are never verified at all, not
    * just discarded. Leave it false for the full fixpoint
    * ([[assignIncrement]]'s contract: a survivor transitively linked to
    * a stored cluster through a dropped doc must still merge into it).
    */
  private[graft] case class AssignEdges(corpus: DataFrame, batch: DataFrame)

  private[graft] def assignIncrementEdges(
      indexBands: DataFrame, indexSets: DataFrame,
      storedClusters: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String,
      k: Int, threshold: Double, numPerm: Int, bands: Int,
      candidatesPerDocHint: Option[Double] = None,
      contractedBatchOnly: Boolean = false): AssignEdges = {
    val c = incrementCandidates(indexBands, newDocs, idCol, textCol, k, numPerm, bands)
    // oriented batch→corpus (id_n = batch, id_o = index) and ordered
    // batch-internal (id_a < id_b) channels
    val vsCorpus = c.pairs.filter(!col("__new"))
      .select(col("rid").as("id_n"), col("pid").as("id_o"))
    val vsBatch = c.pairs.filter(col("__new"))
      .select(col("pid").as("id_a"), col("rid").as("id_b"))
    val allSets = trackPersist(indexSets.unionByName(c.newSets))
    val attach = attachSets(allSets, idCol, hashed = true,
      _ => candidatesPerDocHint, disjointIds = true)
    // codegen'd short-circuit any-match (AnyTrueAgg over PairMatchExpr):
    // the first verified edge of a group skips every later row's merge.
    // The row-wise screens stay a pre-aggregation FILTER on purpose —
    // folding them into the short-circuit chain (acc || screen && merge)
    // measured sf3 assign-warm 50 → 78-128 s: without the filter every
    // screen-failing candidate still pays a group-map probe/insert in
    // the partial aggregate, and the group count balloons to every
    // candidate-touched (doc, cluster). (A Row-encoded udaf measured
    // 3.5× slower still — the input encoder boxes both multi-KB arrays
    // for every row; the declarative form never leaves codegen.)
    def anyMatch = graft.functions.BitmapFunctions.anyTrue(
      graft.functions.BitmapFunctions.pairMatch(
        col("bm_a"), col("size_a"), col("bm_b"), col("size_b"), threshold))

    // Stage A: one edge per (batch doc, stored cluster) with ≥1 true pair.
    // grp_b = the index doc's stored representative (itself when the
    // index doc has no stored pair — a singleton "cluster").
    val rep = storedClusters
      .select(col("node").as("id_o"), col("cluster").as("__rep"))
    val candsA = vsCorpus.join(rep, Seq("id_o"), "left")
      .select(col("id_n").as("id_a"), col("id_o").as("id_b"),
        coalesce(col("__rep"), col("id_o")).as("grp_b"))
    val edgesA = trackPersist(
      jaccardScreen(attach(candsA), threshold)
        .groupBy(col("id_a"), col("grp_b"))
        .agg(anyMatch.as("m"))
        .filter(col("m"))
        .select(col("id_a").as("ea"), col("grp_b").as("eb")))
    // deterministic stage-A label per batch doc (all its matched
    // clusters merge through its own stage-A edges, so ANY one of them
    // is a valid contraction representative; min keeps it deterministic)
    val labelA = edgesA.groupBy(col("ea")).agg(min(col("eb")).as("lbl"))

    // Stage B: batch-internal connectivity on the CONTRACTED graph —
    // endpoints map to their stage-A label (or themselves), same-label
    // candidates drop (already connected through the shared cluster),
    // surviving label pairs take the same first-edge-wins any-match.
    // The label map has at most one row per batch doc, so a batch-sized
    // increment broadcasts it (16 B/doc under the band-row bound) and
    // the vsBatch candidate stream never shuffles for the relabel.
    val hintL: DataFrame => DataFrame =
      if (c.smallBatch) broadcast(_: DataFrame) else identity
    val la = hintL(labelA.select(col("ea").as("id_a"), col("lbl").as("__la")))
    val lb = hintL(labelA.select(col("ea").as("id_b"), col("lbl").as("__lb")))
    val labeled = vsBatch
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
    val scoped =
      if (contractedBatchOnly)
        labeled.filter(col("__la").isNull && col("__lb").isNull)
      else labeled
    val contracted = scoped
      .select(col("id_a"), col("id_b"),
        coalesce(col("__la"), col("id_a")).as("ga"),
        coalesce(col("__lb"), col("id_b")).as("gb"))
      .filter(col("ga") =!= col("gb"))
      .select(col("id_a"), col("id_b"),
        least(col("ga"), col("gb")).as("grp_a"),
        greatest(col("ga"), col("gb")).as("grp_b"))
    // persisted like edgesA: updateClusters references the merged edge
    // frame TWICE (the contraction reps and the new-node admission), and
    // without the cache each reference re-ran the whole stage-B
    // salted-join + verify — measured 2 × ~3 s of the sf1 assignment's
    // premium over the pair mode. The frame itself is merge-graph-sized.
    val edgesB = trackPersist(
      jaccardScreen(attach(contracted), threshold)
        .groupBy(col("grp_a"), col("grp_b"))
        .agg(anyMatch.as("m"))
        .filter(col("m"))
        .select(col("grp_a").as("ea"), col("grp_b").as("eb")))

    AssignEdges(edgesA, edgesB)
  }

  /** Raw-payload bound for the verify-join broadcast ([[attachSets]]):
    * sized from the DEPLOYED memory instead of a one-size guess (the
    * adaptiveBanding posture — measure, don't hardcode). The true pinned
    * footprint is ~4× the raw estimate (two shipped copies, measured
    * non-reused under AQE, plus UnsafeRow/HashedRelation ≈2× build
    * overhead);
    * budgeting that pinned footprint at ≤ heap/6 gives raw ≤ heap/24 —
    * a 64 g local heap allows ~2.7 GB raw (the sf10 125k-doc index's
    * ~340 MB estimate broadcasts, where the old flat 256 MB default
    * took the shuffled plan: the measured-3× wrong side of the
    * cutover), a 16 g executor ~680 MB, and the 64 MB floor keeps
    * small-heap containers on the broadcast path for gate-scale
    * indexes. The broadcast relation is BUILT on the driver before it
    * ships, so in cluster mode the binding heap is the SMALLER of the
    * driver's (this JVM — Runtime.maxMemory) and the executors'
    * (spark.executor.memory, Spark's own 1g default when unset — the
    * conservative answer for unknown executors): a 64 g-executor /
    * 2 g-driver skew must size to the driver or the collect itself
    * OOMs. Local mode: the one JVM heap.
    */
  private[graft] def defaultBroadcastSetBytes(spark: SparkSession): Long = {
    val heap =
      if (spark.sparkContext.isLocal) Runtime.getRuntime.maxMemory
      else math.min(
        Runtime.getRuntime.maxMemory,
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.executor.memory", "1g")))
    math.max(64L * 1024 * 1024, heap / 24)
  }

  // Cache ownership ([[graft.util.CacheTracker]]): the near-dup
  // pipelines persist small derived frames (shingle stream, banded
  // signatures, simhash chunks) that their self-joins would otherwise
  // recompute; the hot-bucket census is a session memo.
  private val caches = new graft.util.CacheTracker

  private def trackPersist(df: DataFrame): DataFrame = caches.trackPersist(df)

  /** Unpersist every intermediate frame cached by [[lshVerifiedPairs]],
    * [[minhashLshPairs]], [[simhashPairs]] and [[embeddingLshPairs]] so
    * far and drop the census memo. Call between corpora in long-lived
    * sessions; results already computed are unaffected, un-executed
    * lazy plans recompute.
    */
  def releaseCaches(): Unit = caches.release()

  /** Per-document MinHash signature: numPerm permutations
    * h_i(x) = xxhash64(i, shingle), signature element = min over the
    * document's shingles. One codegen'd pass over the exploded shingle
    * stream with NO distinct — min is duplicate-idempotent — and one
    * groupBy(id) whose map-side partial aggregation collapses each
    * document inside its partition, so the shuffle moves ~1 row per
    * document regardless of document length. (Measured: this beats both
    * the distinct+groupBy form — 2× shuffle — and a higher-order-function
    * array form, which evaluates lambdas interpreted, outside codegen.)
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, numPerm: Int): DataFrame =
    signaturesFromShingles(shinglesRaw(df, idCol, textCol, k), idCol, numPerm)

  private def signaturesFromShingles(sh: DataFrame, idCol: String,
                                     numPerm: Int): DataFrame = {
    // Seeded string hash per permutation. Measured alternative (sf0.01):
    // deriving the numPerm values from ONE base string hash
    // (xxhash64(i, xxhash64(shingle))) hashes 25-30% faster per row but
    // the derived family over-collides at the BAND level — 2.2× the
    // candidate pairs (22973 vs 10544) at identical verified recall —
    // so the pair-join stage more than eats the saving. Independent
    // per-permutation string hashes keep band-bucket selectivity at the
    // theoretical J^rowsPerBand. (An a*x+b universal hash would
    // overflow long arithmetic, which Spark 4's ANSI mode rejects.)
    val sigCols = (0 until numPerm).map { i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i")
    }
    sh.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
  }

  /** MinHash signatures banded into `bands` LSH buckets; documents
    * sharing any band bucket are candidate near-duplicates. Cost: linear
    * scan (signature, no shuffle) + one groupBy(band, bucket) shuffle of
    * one row per (doc, band).
    *
    * HOT-BUCKET CONTRACT: the within-bucket pair join is quadratic in
    * bucket size, so a corpus with millions of byte-identical documents
    * (boilerplate) would put them all in one bucket. Run [[exact]] dedup
    * FIRST — identical documents collapse to one representative, after
    * which bucket sizes are bounded by genuine near-dup cluster sizes
    * and the join stays linear. This ordering (exact → near-dup) is the
    * standard corpus-cleaning sequence for exactly this reason.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    lshPairsFromSignatures(minhashSignatures(df, idCol, textCol, k, numPerm),
      idCol, numPerm, bands)
  }

  /** (id, band, bucket) rows from a signature frame — one row per
    * (document, band); documents sharing a (band, bucket) are candidate
    * near-duplicates. This frame IS the persistable LSH index schema
    * (see [[nearDupIndex]]).
    */
  private def bandedBuckets(sig: DataFrame, idCol: String,
                            numPerm: Int, bands: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    // band id -> hash of that band's signature slice
    val bandCols = (0 until bands).map { bnd =>
      val slice = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(bnd).as("band"), xxhash64(slice: _*).as("bucket")).as(s"b$bnd")
    }
    // every row also carries the doc's FULL band-bucket array: the pair
    // join filters on "no earlier band already agreed" instead of
    // multiset-distincting its output — the array is bands longs per
    // row, the distinct it replaces was a shuffle of pairs×bands rows
    sig.select(col(idCol) +: bandCols: _*)
      .select(col(idCol),
        array((0 until bands).map(b => col(s"b$b.bucket")): _*).as("buckets"),
        explode(array((0 until bands).map(b => col(s"b$b")): _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"), col("buckets"))
  }

  /** Pin the parallelism of a frame about to feed an EXPLODING
    * band/bucket equi-join. AQE sizes post-shuffle parallelism by the
    * exchange's INPUT bytes, and the banded frames are slim (one ~50 B
    * row per document per band) — a few MB even when their self-join
    * emits hundreds of millions of candidate pairs — so adaptive
    * coalescing hands the whole candidate generation + screened
    * verification chain to ONE task (measured at the sf3 probe: 902 of
    * 915 cold-pass seconds in a single task; the sf10 warm pass was ~29
    * minutes of one-core verify at ~4 µs/pair). An explicit-count
    * repartition on the join keys satisfies the join's clustering
    * requirement — it replaces, not adds to, the exchange the join
    * would plan — and its REPARTITION_BY_NUM origin is exempt from AQE
    * coalescing, so the explode runs at the session's configured
    * shuffle width. Hot-bucket skew is unchanged (the hot-bucket
    * contract: run exact dedup first).
    */
  private def spreadForExplode(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      keys.map(col): _*)

  /** The bounded band-row probe: does `replicate` hold at most
    * `graft.dedup.maxBroadcastBandRows` rows (default 256k slim banded
    * rows ≈ ~50 MB pinned — measured break-even: a ~200k-row broadcast
    * still wins at sf1, a ~400k-row one loses ~25% to the censused
    * shuffle; every measured at-scale corpus, sf1+ at ≥ 800k banded
    * rows, keeps its censused salted-shuffle plan)? The probe is a
    * BOUNDED count — limit(bound+1).count() — so it is NOT memoized: it
    * costs at most bound+1 rows per call, and a frame that grows past
    * the bound under an unchanged plan exits the fast path on its next
    * call (a memoized full count would keep force-broadcasting a
    * day-1-sized frame that has since grown 100× — an OOM, not the
    * benign granularity drift the census memo tolerates). 0 disables
    * the fast path.
    */
  private def fitsBroadcastBandRows(replicate: DataFrame): Boolean = {
    val bound = conf(replicate.sparkSession, "graft.dedup.maxBroadcastBandRows",
      256L << 10, min = 0L)
    bound > 0 &&
      replicate.limit((math.min(bound, Int.MaxValue - 1L) + 1L).toInt).count() <= bound
  }

  /** The degenerate-scan guard of the broadcast fast path: the probe
    * side must still be WIDE. A slim banded parquet (a few MB of index
    * files) scans as ONE split, and a serial probe re-creates the
    * single-task explode [[spreadForExplode]] exists to prevent
    * (measured: q85 sf1 10 → 71 s when the fast path probed the 1-split
    * index directly). At the 100 TB operating mode the index has
    * thousands of splits and probes shuffle-free. Only a DEGENERATE scan
    * pays a round-robin repartition: fewer than min(width/2, 32)
    * partitions. The 32 cap bounds the repartition regime by
    * CONSTRUCTION — parquet splits are ≤ spark.sql.files.maxPartitionBytes
    * (128 MB default), so fewer than 32 splits implies ≤ ~4 GB of slim
    * banded rows and the one-pass exchange stays cheap regardless of how
    * wide the session is; past 32 splits the parallelism is already
    * adequate and the corpus-sized index is never reshuffled per batch.
    * Reading the partition count plans the frame physically (under AQE
    * it also runs the frame's pending shuffle stages) — this is the one
    * construction-time planning site of the band joins.
    */
  private def widenDegenerate(probe: DataFrame): DataFrame = {
    val width = probe.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (probe.rdd.getNumPartitions >= math.min(math.max(2, width / 2), 32)) probe
    else probe.repartition(width)
  }

  /** SALTED band/bucket candidate join — the skew half of the explode
    * problem [[spreadForExplode]]'s width pin alone can't fix: hash
    * clustering puts an entire bucket in ONE task, and a near-dup
    * super-cluster (GenScale replica corpora, boilerplate floods) makes
    * one bucket carry most of the corpus's quadratic pair mass
    * (measured at the sf3 probe AFTER the width pin: 216 of ~290 busy
    * core-seconds still in a single task). Salting: the left side gets
    * salt = xxhash64(id) % g; the right side replicates each row g
    * times, one per salt — every qualifying pair still meets EXACTLY
    * once (at the left row's salt), so the candidate set is identical
    * by construction, while a hot bucket's m²/2 pairs spread over g
    * tasks (max task work m²/g).
    *
    * UNSET dial (the default): first a BROADCAST fast path — when the
    * replicate side is batch-sized ([[fitsBroadcastBandRows]]), it
    * broadcasts and no census, salt, or width pin happens at all (a
    * broadcast join has no post-shuffle exchange for AQE to coalesce,
    * spreads a hot bucket across the probe side's partitions by
    * construction, and keeps dedupIncrement's contract that the
    * corpus-sized index is never shuffled per batch; only a degenerate
    * probe scan is widened, [[widenDegenerate]]); past the bound, a
    * HOT/COLD SPLIT — [[hotCensus]] finds
    * the buckets whose exact pair product exceeds the per-task target,
    * and ONLY rows in those buckets pay the g× replication; the cold
    * mass (virtually the whole corpus) takes the plain width-pinned
    * join and the two halves union. Replication cost is then hot rows
    * × g, not corpus × g — full-frame replication at a census-scale g
    * is the sf10 failure mode (290 GB of spill) the split prevents.
    * Explicit `graft.dedup.bucketSalt` keeps the original FULL-FRAME
    * semantics as the caller's informed escape hatch (e.g. an index that
    * grows under an unchanged plan where the memoized census
    * under-salts). Pass the SMALLER
    * frame as `replicate` so the g× inflation lands on the cheaper
    * side (the q39 salted-join asymmetry). g = 1 short-circuits to the
    * unsalted width-pinned join — no replication, no salt column.
    */
  private def saltedExplodeJoin(salted: DataFrame, saltedIdCol: String,
      replicate: DataFrame, keys: Seq[String],
      // false when the caller already found `replicate` (or the frame
      // it is a slim select of) past fitsBroadcastBandRows' bound,
      // skipping a duplicate probe job + plan analysis
      fastPath: Boolean = true): DataFrame = {
    def plain = spreadForExplode(salted, keys)
      .join(spreadForExplode(replicate, keys), keys)
    def saltJoin(l: DataFrame, r: DataFrame, g: Int): DataFrame = {
      val ls = l.withColumn("__salt",
        pmod(xxhash64(col(saltedIdCol)), lit(g.toLong)).cast("int"))
      val rs = r.withColumn("__salt",
        explode(array((0 until g).map(s => lit(s)): _*)))
      spreadForExplode(ls, keys :+ "__salt")
        .join(spreadForExplode(rs, keys :+ "__salt"), keys :+ "__salt")
        .drop("__salt")
    }
    val explicit = conf(salted.sparkSession, "graft.dedup.bucketSalt", min = 1L)
    explicit.foreach(g => require(g <= 1024,
      s"graft.dedup.bucketSalt must be in [1, 1024], got $g"))
    explicit.map(_.toInt) match {
      case Some(1) => plain
      case Some(g) => saltJoin(salted, replicate, g)
      case None if fastPath && fitsBroadcastBandRows(replicate) =>
        widenDegenerate(salted).join(broadcast(replicate), keys)
      case None =>
        val (g, hotHashes) = hotCensus(salted, replicate, keys)
        if (g == 1 || hotHashes.isEmpty) plain
        else {
          // HOT/COLD SPLIT: only rows in censused hot buckets pay the
          // g× replication. Routing key is xxhash64 of the join keys —
          // both sides compute it identically, so a (vanishingly rare)
          // cold bucket colliding with a hot hash just routes WITH the
          // hot path consistently: extra benign salting, never a lost
          // or duplicated pair. Full-frame replication at census-scale
          // g is exactly the sf10 failure this split exists to prevent
          // (11.5M banded rows × g=625 ≈ 290 GB of shuffle spill).
          val hk = xxhash64(keys.map(col): _*)
          val isHot = hk.isInCollection(hotHashes)
          val cold = spreadForExplode(salted.filter(!isHot), keys)
            .join(spreadForExplode(replicate.filter(!isHot), keys), keys)
          cold.unionByName(
            saltJoin(salted.filter(isHot), replicate.filter(isHot), g))
        }
    }
  }

  /** Read a graft dial: the set value, if any. Every `graft.dedup.*` key
    * is read through this reader or its two long-valued overloads.
    */
  private def conf(spark: SparkSession, key: String): Option[String] =
    spark.conf.getOption(key)

  /** A long-valued graft dial when set, validated ≥ min. */
  private def conf(spark: SparkSession, key: String, min: Long): Option[Long] =
    conf(spark, key).map { raw =>
      val v = raw.toLong
      require(v >= min, s"$key must be >= $min, got $v")
      v
    }

  /** A long-valued graft dial with a default; validated ≥ min. */
  private def conf(spark: SparkSession, key: String, dflt: Long, min: Long): Long =
    conf(spark, key, min).getOrElse(dflt)

  /** Default pairs-per-task target when `graft.dedup.targetPairsPerTask`
    * is unset: a per-task WALL budget divided by the MEASURED per-pair
    * cost, instead of a flat row count — the last flat default in the
    * salt/budget family converted to the derived posture. The factors
    * are themselves dials: `graft.dedup.targetTaskMillis` (default
    * 2000 ms — a task long enough to amortize scheduling, short enough
    * for AQE/speculation to matter) and `graft.dedup.measuredNanosPerPair`
    * (default 500 ns — the conservative end of the measured sf1/sf3
    * screen+verify throughput: ~0.25–0.5 µs per emitted candidate row
    * on the bench host, the number the old 4M constant encoded as
    * "≈ 1–2 s of work"). 2000 ms / 500 ns = 4.0e6 at defaults — within
    * 5% of the historical flat 4·2^20, so dial tunings, salt censuses,
    * and timings are unchanged in effect;
    * deployments with slower storage or wider documents set the
    * measured cost and every pairs-per-task consumer (hot-bucket salt,
    * containment budget, SemDeDup cell width) re-sizes coherently.
    */
  private[graft] def defaultTargetPairsPerTask(spark: SparkSession): Long = {
    val ms = conf(spark, "graft.dedup.targetTaskMillis", 2000L, min = 1L)
    val ns = conf(spark, "graft.dedup.measuredNanosPerPair", 500L, min = 1L)
    math.max(1L, ms * 1000000L / ns)
  }

  /** `graft.dedup.targetPairsPerTask`, explicit or derived (see
    * [[defaultTargetPairsPerTask]]).
    */
  private[graft] def targetPairsPerTask(spark: SparkSession): Long =
    conf(spark, "graft.dedup.targetPairsPerTask", min = 1L)
      .getOrElse(defaultTargetPairsPerTask(spark))

  /** Census-derived salt for [[saltedExplodeJoin]]: ONE census join of
    * the two per-key count frames finds every HOT bucket — a key whose
    * exact emitted-row product mₗ(k)·mᵣ(k) exceeds
    * `graft.dedup.targetPairsPerTask` (default 4M emitted rows ≈ 1–2 s
    * of screen+verify work per task at measured sf3 throughput) — and
    * g = ceil(maxₖ product / target), clamped to [1, 1024]. The census
    * frames are metadata-sized (one row per occupied bucket), so the
    * join is cheap next to the corpus-sized inputs it describes. Flat
    * corpora (hot buckets of a handful of docs — every gate-scale
    * table) find NO hot bucket and skip salting entirely.
    *
    * Two explicit safety rails, both dialed:
    *  - g is ALSO capped so the hot-side replication volume
    *    (hot replicate rows × g) stays under
    *    `graft.dedup.maxSaltVolumeRows` (default 64M slim rows ≈ a few
    *    GB of shuffle) — past the cap the worst task runs longer than
    *    target but the exchange can never flood local disk (the sf10
    *    lesson: an uncapped derived g spilled ~290 GB and took the
    *    host's free space to zero mid-sweep);
    *  - the collected hot-hash list is `require`d under
    *    `graft.dedup.maxHotBuckets` (default 2^17 ≈ 1 MB of driver
    *    longs) — more hot buckets than that means the corpus needs
    *    exact dedup first (the operator's documented precondition),
    *    and the census refuses loudly instead of collecting unbounded.
    *
    * Memoized per (analyzed-plan, keys, dials) — retuning a dial
    * mid-session re-censuses rather than silently reusing the old
    * pricing; the memo's entry bound keeps a long-lived ingest session
    * (a new batch plan per day) from accumulating driver state. An
    * index that GROWS under an unchanged plan (dedupIncrement appends
    * within one session) can under-salt later batches — a
    * task-granularity effect only, never a result change; restart the
    * session or set the explicit dial for a corpus that grows 100×
    * in-session. NOTE the census (like dedupIncrement's sizing
    * aggregation) runs Spark jobs at PLAN-CONSTRUCTION time — building
    * the pairs frame is not lazy, and the maxHotBuckets refusal throws
    * from the builder, not the first action.
    */
  private val saltMemo =
    caches.memo[(Long, Long, Seq[String], Long, Long, Int), (Int, Seq[Long])]("salt_census")
  def saltForExplode(l: DataFrame, r: DataFrame, keys: Seq[String]): Int =
    hotCensus(l, r, keys)._1
  private[graft] def hotCensus(l: DataFrame, r: DataFrame,
      keys: Seq[String]): (Int, Seq[Long]) = {
    val target = targetPairsPerTask(l.sparkSession)
    val volumeCap = conf(l.sparkSession, "graft.dedup.maxSaltVolumeRows", 64L << 20,
      min = 1L)
    // maxHot = 0 is legal (an engagement probe: ANY hot bucket
    // refuses); negative would silently disarm both the refusal rail
    // and the salting (limit(0) collects nothing), so min = 0
    val maxHot = conf(l.sparkSession, "graft.dedup.maxHotBuckets", 1L << 17,
      min = 0L).toInt
    def hash(df: DataFrame): Long =
      df.queryExecution.analyzed.semanticHash().toLong
    // the dials are PART of the key: retuning targetPairsPerTask (or
    // either rail) mid-session must re-census, not silently reuse the
    // old pricing
    val memoKey = (hash(l), hash(r), keys, target, volumeCap, maxHot)
    saltMemo(l.sparkSession, memoKey) {
      def counts(df: DataFrame, as: String): DataFrame =
        df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(as))
      val hot = counts(l, "__cl").join(counts(r, "__cr"), keys)
        .select(xxhash64(keys.map(col): _*).as("__hk"),
          (col("__cl") * col("__cr")).as("__p"), // ≤ (2^31)² — no overflow risk
          col("__cr"))
        .filter(col("__p") > target)
        .limit(maxHot + 1)
        .collect()
      require(hot.length <= maxHot,
        s"hot-bucket census found more than $maxHot buckets over " +
          s"$target pairs — run exact dedup first or raise graft.dedup.maxHotBuckets")
      if (hot.isEmpty) (1, Nil)
      else {
        val maxP = hot.iterator.map(_.getLong(1)).max
        val hotRowsR = math.max(1L, hot.iterator.map(_.getLong(2)).sum)
        val gPairs = (maxP + target - 1L) / target
        val gVolume = math.max(1L, volumeCap / hotRowsR)
        val g = math.min(1024L, math.max(1L, math.min(gPairs, gVolume))).toInt
        (g, hot.map(_.getLong(0)).toSeq)
      }
    }
  }

  private def lshPairsFromSignatures(sig: DataFrame, idCol: String,
                                     numPerm: Int, bands: Int): DataFrame = {
    // Persist the banded rows: both sides of the self-join below derive
    // from this frame, and without the cache each side re-runs the
    // whole shingle-explode + signature aggregation (the corpus-sized
    // work) — measured 2× the scan cost at sf0.1. The cached frame is
    // docs × bands rows (one per band per document), tiny next to the
    // corpus; released by [[releaseCaches]].
    val banded = trackPersist(bandedBuckets(sig, idCol, numPerm, bands))
    val l = banded.select(col(idCol).as("id_a"), col("band"),
      col("bucket"), col("buckets").as("bk_a"))
    val r = banded.select(col(idCol).as("id_b"), col("band"),
      col("bucket"), col("buckets").as("bk_b"))
    // first-agreeing-band dedup: the join emits a pair once PER agreeing
    // band; keeping only the earliest one is a codegen'd FILTER inside
    // the join stage, where the old `.distinct()` shuffled the whole
    // pairs×agreeing-bands multiset (327M rows at the sf1 sweep — the
    // measured q85 bottleneck, 92 s of its 137 s)
    saltedExplodeJoin(l, "id_a", r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.BitmapFunctions
        .noEarlierBandMatch(col("bk_a"), col("bk_b"), col("band")))
      .select("id_a", "id_b")
  }

  /** 64-bit SimHash over word tokens: per bit, sum +1/-1 weighted by token
    * hash bit; fingerprint bit = sign. Near-dups = fingerprints within
    * `maxHamming`. Pair generation via 4-way table split (Charikar): any
    * pair within hamming 3 shares at least one of 4 16-bit chunks exactly.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val h = tokens.withColumn("th", xxhash64(col("tok")))
    val bitCols = (0 until 64).map { i =>
      sum(when(shiftright(col("th"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"bit$i")
    }
    val agg = h.groupBy(col(idCol)).agg(bitCols.head, bitCols.tail: _*)
    val fp = (0 until 64).map { i =>
      when(col(s"bit$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup pairs via the 4×16-bit chunk split. CONTRACT:
    * `maxHamming <= 3` — by pigeonhole, a pair within hamming 3 must
    * agree exactly on one of 4 disjoint chunks, so recall is guaranteed;
    * at hamming 4+ a pair can differ in every chunk and silently vanish.
    * Enforced here rather than documented-only: a silent recall hole in a
    * dedup pass corrupts downstream training data. (Wider bounds need
    * multi-chunk combination tables, not narrower chunks — 64/(h+1)-bit
    * keys collapse into tiny buckets and go quadratic.)
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs guarantees recall only for maxHamming <= 3 " +
        s"(got $maxHamming); the 4-chunk split cannot see all pairs beyond that")
    val fp = simhash(df, idCol, textCol)
    // 4 chunks of 16 bits; hamming<=3 pairs must share one chunk.
    // Persisted for the same reason as the banded LSH frame: the
    // self-join below would otherwise run the 64-bit-column simhash
    // aggregation once per side. One row per (doc, chunk) — tiny;
    // released by [[releaseCaches]].
    val chunked = trackPersist(fp.select(col(idCol), col("simhash"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("ckey"))
        }: _*)).as("ck"))
      .select(col(idCol), col("simhash"), col("ck.chunk"), col("ck.ckey")))
    val l = chunked.select(col(idCol).as("id_a"),
      col("simhash").as("fp_a"), col("chunk"), col("ckey"))
    val r = chunked.select(col(idCol).as("id_b"),
      col("simhash").as("fp_b"), col("chunk"), col("ckey"))
    saltedExplodeJoin(l, "id_a", r, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The bounded edge collect shared by [[dedupClusters]] and
    * [[updateClusters]]. Near-dup pair lists are orders of magnitude
    * smaller than the corpus (they are the output of LSH/Jaccard
    * candidate generation, not the data), so below
    * `graft.dedup.maxDriverEdges` (default 4M) — the broadcast-threshold
    * philosophy — the caller works on the driver (`Left`: the edges as
    * flat (a, b) id pairs; integral, non-null ids only). The slim
    * frame's rows are persisted through this object's tracker, and ONE
    * job computes them into the cache and returns each partition's
    * count plus its ids when it holds at most an even share of the
    * bound, so the driver receives about maxEdges edges at most. Past
    * the bound (`Right`: a frame over the persisted rows, and the rows
    * to release) the caller's distributed or lazy path reads what that
    * job computed instead of running the pair DAG a second time. The
    * small path pays the one job the bounded limit(max+1).collect() it
    * replaces paid: a persisted frame would pay two (under AQE its
    * cache is materialized by a job of its own), and shipping Rows
    * instead of longs measured ~90 ms more per 55k edges.
    */
  private def boundedEdges(slim: DataFrame): Either[Array[Long], (DataFrame, RDD[InternalRow])] = {
    val maxEdges = conf(slim.sparkSession, "graft.dedup.maxDriverEdges", 4000000L, min = 0L)
    require(maxEdges <= Int.MaxValue - 1L,
      s"graft.dedup.maxDriverEdges $maxEdges exceeds the bounded-collect range")
    val rows = caches.trackPersist(slim.queryExecution.toRdd.map(_.copy()))
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(slim.schema)
    val persisted = Right((slim.sparkSession.createDataFrame(
      rows.map(r => toRow(r).asInstanceOf[Row]), slim.schema), rows))
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val ids = slim.schema.fields.map(_.dataType).collect {
      case LongType => (r: InternalRow, i: Int) => r.getLong(i)
      case IntegerType => (r: InternalRow, i: Int) => r.getInt(i).toLong
      case ShortType => (r: InternalRow, i: Int) => r.getShort(i).toLong
      case ByteType => (r: InternalRow, i: Int) => r.getByte(i).toLong
    }
    if (ids.length != 2) return persisted
    val (idA, idB) = (ids(0), ids(1))
    // per partition: (rows, any null id, the ids when within `cap` rows)
    def edgeIds(it: Iterator[InternalRow], cap: Long): (Long, Boolean, Option[Array[Long]]) = {
      val kept = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0L
      var nulls = false
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) nulls = true
        else if (n < cap) { kept += idA(r, 0); kept += idB(r, 1) }
        n += 1
      }
      (n, nulls, if (n <= cap) Some(kept.result()) else None)
    }
    val share = maxEdges / math.max(1, rows.getNumPartitions) + 1
    // an empty local frame has no partitions, and a job over none still
    // posts job events
    val parts =
      if (rows.getNumPartitions == 0) Array.empty[(Long, Boolean, Option[Array[Long]])]
      else rows.mapPartitions(it => Iterator(edgeIds(it, share))).collect()
    if (parts.exists(_._2) || parts.iterator.map(_._1).sum > maxEdges) return persisted
    // a partition past its share (a skewed small graph) is read back
    // from the cache
    val skewed = parts.indices.filter(parts(_)._3.isEmpty)
    val late =
      if (skewed.isEmpty) Nil
      else slim.sparkSession.sparkContext.runJob(rows,
        (it: Iterator[InternalRow]) => edgeIds(it, Long.MaxValue)._3.get, skewed).toSeq
    caches.releaseOne(rows)
    Left((parts.flatMap(_._3) ++ late).flatten)
  }

  /** Connected components over a near-duplicate pair list: every
    * document gets the smallest doc id reachable through pair edges as
    * its cluster id — the canonical "collapse near-dup candidates into
    * groups, keep one representative" step after [[minhashLshPairs]] /
    * [[ngramJaccardPairs]].
    *
    * A graph within [[boundedEdges]]' bound runs union-find on the
    * driver in one pass, which beats 5+ rounds of driver-synchronized
    * distributed joins whose per-round scheduling cost exceeds the whole
    * graph (measured: 3.3s for a 16-edge graph). Above it, each round
    * takes, per node, the min over: its own label, its
    * neighbors' labels (edge join), and its label's label (pointer
    * doubling — the path-halving step of distributed union-find). The
    * doubling step makes convergence O(log diameter) driver-synchronized
    * rounds instead of O(diameter) — plain neighbor propagation walks a
    * near-dup chain one hop per round, which measured 112s on sf0.1's
    * chain-heavy corpus vs ~5 rounds with doubling. All per-round work
    * is distributed joins/aggregations; the driver only checks the
    * fixpoint counter.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    val fwdRaw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val srcType = fwdRaw.schema("src").dataType
    val (fwd, fwdRows) = boundedEdges(fwdRaw) match {
      case Right(persisted) => persisted
      case Left(edgeIds) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          // path compression
          var c = x
          while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        // union with min-id root: the smaller root adopts the larger, so
        // every component's root IS its minimum id — the same fixpoint the
        // distributed label propagation reaches.
        val nodes = scala.collection.mutable.LongMap.empty[Unit]
        edgeIds.grouped(2).foreach { case Array(a, b) =>
          nodes(a) = (); nodes(b) = ()
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val rows = nodes.keysIterator.map(n => (n, find(n))).toSeq
        import spark.implicits._
        return rows.toDF("node", "cluster")
          .select(col("node").cast(srcType).as("node"),
            col("cluster").cast(srcType).as("cluster"))
    }
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).cache()
    val nodes = edges.select(col("src").as("node")).distinct()
    // localCheckpoint (eager) per round: labels is referenced 4× in each
    // round's plan, so without PHYSICAL lineage truncation the logical
    // plan grows ~4^rounds and planning/execution time explodes
    // geometrically (measured 6×/round at sf0.1 with cache() alone).
    var labels = nodes.withColumn("cluster", col("node")).localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val viaEdges = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("cluster"))
      val byLabel = labels.select(col("node").as("l_node"), col("cluster").as("l_cl"))
      val grand = labels.join(byLabel, labels("cluster") === col("l_node"))
        .select(col("node"), col("l_cl").as("cluster"))
      val next = labels.select("node", "cluster")
        .unionByName(viaEdges).unionByName(grand)
        .groupBy("node").agg(min("cluster").as("cluster")).localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("cluster", "prev"), Seq("node"))
        .filter(col("cluster") =!= col("prev")).count()
      labels = next
      rounds += 1
    }
    edges.unpersist(blocking = false)
    caches.releaseOne(fwdRows)
    // Pointer doubling converges in O(log diameter) rounds, so hitting
    // the cap means something is deeply wrong — fail loud rather than
    // silently returning non-fixpoint (wrong) cluster labels.
    if (changed > 0)
      throw new IllegalStateException(
        s"dedupClusters did not converge after $rounds rounds ($changed labels still changing)")
    labels.select(col("node"), col("cluster"))
  }

  /** Incremental cluster maintenance: fold a batch of NEW near-dup
    * pairs into a stored [[dedupClusters]] assignment without
    * recomputing the graph — the cluster-table companion to
    * [[dedupIncrement]]'s pair discovery. Returns (node, cluster) over
    * stored nodes ∪ new-pair endpoints, EQUAL to the batch fixpoint
    * `dedupClusters(old pairs ∪ new pairs)` (spec-pinned under random
    * edge splits): mapping each new edge's endpoints to their stored
    * representatives preserves connectivity exactly — old edges are
    * already contracted inside their clusters — and because a stored
    * label IS its cluster's minimum member id (the [[dedupClusters]]
    * invariant, the REQUIRED precondition on `stored`), the min
    * representative of a merged component is the min member id overall.
    *
    * Scale shape: the corpus-sized stored table is touched by exactly
    * one equi-join against the relabel map (merged-component
    * representatives only — batch-pair-mass-sized, broadcastable in the
    * steady state, and empty when the batch touches no existing
    * cluster) plus one anti-join admitting brand-new singleton nodes.
    * The component computation runs on the CONTRACTED merge graph (one
    * node per affected cluster), not the corpus — a daily increment
    * re-clusters only what it actually touched.
    */
  def updateClusters(stored: DataFrame, pairs: DataFrame,
                     aCol: String, bCol: String): DataFrame = {
    val sess = stored.sparkSession
    // `pairs` is referenced THREE times below (reps + both newNodes
    // endpoints) and in the assignment path its plan is the entire
    // banded-join + screened-verify DAG — so every reference re-analyzes
    // a plan with hundreds of operators, and the eager dedupClusters
    // call below plus the caller's final action each re-walk it again
    // (measured: ~2 s of pure driver time per warm q192 call at sf0.1,
    // jobs themselves ≈ 1 s). The frame itself is batch-merge-graph-
    // sized — the SAME bound dedupClusters' driver union-find already
    // collects — so localize it once: downstream references analyze a
    // LocalRelation, and the relabel's own bounded collect becomes
    // driver-local. Past the bound (or non-integral ids) the persisted
    // slim frame passes through, so the probe's work is not run again.
    val slim = pairs.select(col(aCol), col(bCol))
    val pairsLocal = boundedEdges(slim) match {
      case Left(edgeIds) =>
        // back to each column's own integral type, so the local frame
        // keeps the pair frame's schema (nullability included)
        val types = slim.schema.fields.map(_.dataType)
        def typed(v: Long, i: Int): Any = types(i) match {
          case org.apache.spark.sql.types.IntegerType => v.toInt
          case org.apache.spark.sql.types.ShortType => v.toShort
          case org.apache.spark.sql.types.ByteType => v.toByte
          case _ => v
        }
        val rows = edgeIds.grouped(2).map { case Array(a, b) => Row(typed(a, 0), typed(b, 1)) }
        sess.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), slim.schema)
      case Right((persisted, _)) => persisted
    }
    val sa = stored.select(col("node").as(aCol), col("cluster").as("__ra"))
    val sb = stored.select(col("node").as(bCol), col("cluster").as("__rb"))
    val reps = pairsLocal.select(col(aCol), col(bCol))
      .join(sa, Seq(aCol), "left")
      .join(sb, Seq(bCol), "left")
      .select(coalesce(col("__ra"), col(aCol)).as("ra"),
        coalesce(col("__rb"), col(bCol)).as("rb"))
      .filter(col("ra") =!= col("rb"))
    // merged-component labels over representatives; identity rows are
    // no-ops, so only genuine merges enter the relabel map
    val relabel = dedupClusters(reps, "ra", "rb")
      .filter(col("node") =!= col("cluster"))
      .withColumnRenamed("cluster", "__new")
      .withColumnRenamed("node", "cluster")
    // brand-new nodes (endpoints absent from stored) enter as singletons
    // labeled by themselves — exactly how the batch fixpoint sees them
    val newNodes = pairsLocal.select(col(aCol).as("node"))
      .unionByName(pairsLocal.select(col(bCol).as("node"))).distinct()
      .join(stored.select("node"), Seq("node"), "left_anti")
      .withColumn("cluster", col("node"))
    stored.select("node", "cluster").unionByName(newNodes)
      .join(relabel, Seq("cluster"), "left")
      .select(col("node"),
        coalesce(col("__new"), col("cluster")).as("cluster"))
  }

  /** Embedding-cosine near-duplicate pairs over a sampled id set.
    * Exact pairwise within the (small) sample; the full-scale path is
    * [[embeddingLshPairs]], which avoids the quadratic join.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val v = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val a = v.select(col(idCol).as("id_a"), col("v").as("va"))
    val b = v.select(col(idCol).as("id_b"), col("v").as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", graft.functions.VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
  }

  /** Corpus-scale embedding near-dup pairs — the embedding analogue of
    * [[lshVerifiedPairs]]: `nTables` independent random-hyperplane LSH
    * tables generate candidates (a per-table bucket equi-join, one
    * shuffle on (table, signature)), then exact cosine verifies every
    * candidate through two key joins back to the vectors. No cross join,
    * no corpus broadcast; the vector scan feeds signatures and
    * verification alike.
    *
    * Precision is exact by construction (the cosine filter is the last
    * step). Recall is 1-(1-p^nBits)^nTables with p = 1 - θ/π (Charikar's
    * hyperplane collision probability), so unlike minhash banding it
    * cannot be driven to ~1 cheaply at LOW thresholds — near-orthogonal
    * "duplicates" are not LSH-findable. Tune upward: for a true near-dup
    * threshold (cos ≥ 0.9, p ≈ 0.86) nBits=8 × nTables=16 reaches ~99.6%
    * recall with 256-way bucketing per table. Hence rows-only, not
    * oracle-equal — the miss probability is tunable but never ~4e-7.
    */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nBits: Int, nTables: Int,
                        dim: Int, seed: Long = 42L): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val sigCols = (0 until nTables).map { t =>
      val planes = Similarity.hyperplanes(nBits, dim, seed + t)
      struct(lit(t).as("tbl"),
        Similarity.lshSignature(col("v"), planes).as("sig")).as(s"t$t")
    }
    // persisted: the self-join would recompute the nTables × nBits
    // hyperplane projections per side; one row per (vector, table);
    // released by [[releaseCaches]]. Each row carries the vector's FULL
    // per-table signature array for the first-agreeing-table filter
    // below (the q85 lesson: the old `.distinct()` shuffled the
    // pairs×agreeing-tables multiset).
    val banded = trackPersist(v.select(col("id") +: sigCols: _*)
      .select(col("id"),
        array((0 until nTables).map(t => col(s"t$t.sig").cast("long")): _*).as("sigs"),
        explode(array((0 until nTables).map(t => col(s"t$t")): _*)).as("b"))
      .select(col("id"), col("b.tbl"), col("b.sig"), col("sigs")))
    val l = banded.select(col("id").as("id_a"), col("tbl"),
      col("sig"), col("sigs").as("sg_a"))
    val r = banded.select(col("id").as("id_b"), col("tbl"),
      col("sig"), col("sigs").as("sg_b"))
    val cands = saltedExplodeJoin(l, "id_a", r, Seq("tbl", "sig"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.BitmapFunctions
        .noEarlierBandMatch(col("sg_a"), col("sg_b"), col("tbl")))
      .select("id_a", "id_b")
    val va = v.select(col("id").as("id_a"), col("v").as("va"))
    val vb = v.select(col("id").as("id_b"), col("v").as("vb"))
    cands.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cos", graft.functions.VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
  }
}
