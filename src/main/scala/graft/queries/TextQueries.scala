package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{RollingHash, TextFunctions => TF}
import graft.operators.Multimodal
import graft.sources.Tables

/** Text analysis, multimodal, streaming-equivalent, and ML queries
  * (SURVEY.md §2, q27–q33).
  */
object TextQueries extends QuerySet {

  // Cache ownership ([[graft.util.CacheTracker]]): q80 persists its
  // per-doc bigram-count frame across the global-count fold and the
  // scoring join.
  private val caches = new graft.util.CacheTracker

  // --- q27: per-document text statistics ---
  def q27(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      TF.tokenCount(col("text")).as("n_tokens"),
      TF.alphaTokenCount(col("text")).as("n_alpha"),
      TF.punctCount(col("text")).as("n_punct"),
      TF.occurrences(col("text"), " the ").as("n_the"))
  }

  val q27Sql: String =
    """SELECT doc_id,
      | LEN(text) AS n_chars_calc,
      | CASE WHEN LEN(TRIM(text)) = 0 THEN 0 ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END AS n_tokens,
      | LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+')) AS n_alpha,
      | LEN(REGEXP_EXTRACT_ALL(text, '[.!?,;:]')) AS n_punct,
      | CAST((LEN(text) - LEN(REPLACE(text, ' the ', ''))) / 5 AS BIGINT) AS n_the
      |FROM documents""".stripMargin

  // --- q28: marker-based language identification ---
  def q28(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      TF.langId(col("text")).as("pred_lang"))

  val q28Sql: String = {
    val scores = TF.LangMarkers.map { case (lang, ms) =>
      val terms = ms.map(m =>
        // code-point divisor, matching TextFunctions.occurrences
        s"CAST((LEN(text) - LEN(REPLACE(text, '$m', ''))) / ${m.codePointCount(0, m.length)} AS BIGINT)")
      s"${terms.mkString(" + ")} AS s_$lang"
    }.mkString(",\n  ")
    val langs = TF.LangMarkers.map(_._1)
    val cases = langs.dropRight(1).zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(l => s"s_$lang >= s_$l")
      s"WHEN ${later.mkString(" AND ")} THEN '$lang'"
    }.mkString("\n  ")
    s"""WITH sc AS (SELECT doc_id, lang, text,
       |  $scores
       | FROM documents)
       |SELECT doc_id, lang,
       | CASE WHEN text IS NULL THEN NULL $cases ELSE '${langs.last}' END AS pred_lang
       |FROM sc""".stripMargin
  }

  // --- q29: quality-score filter pipeline ---
  def q29(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= 0.5)

  /** DuckDB expression computing [[TF.qualityScore]] over a `text`
    * column, term for term (shared by q29's oracle and q99's dataset
    * card).
    */
  val qualityExprSql: String = {
    val tokens = "CAST(CASE WHEN LEN(TRIM(text)) = 0 THEN 0 ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS DOUBLE)"
    val punct = "CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?,;:]')) AS DOUBLE)"
    val stops = "CAST(CAST((LEN(text) - LEN(REPLACE(text, ' the ', ''))) / 5 AS BIGINT) AS DOUBLE)"
    s"""LEAST($tokens / 50.0, 1.0) * 0.4 +
       |  (1.0 - LEAST($punct / GREATEST($tokens, 1.0), 1.0)) * 0.3 +
       |  LEAST($stops * 10.0 / GREATEST($tokens, 1.0), 1.0) * 0.3""".stripMargin
  }

  val q29Sql: String =
    s"""WITH q AS (SELECT doc_id, $qualityExprSql AS quality
       | FROM documents)
       |SELECT doc_id, quality FROM q WHERE quality >= 0.5""".stripMargin

  // --- q30: rolling-hash fingerprint via native Catalyst expression ---
  def q30(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), RollingHash.fingerprint(col("text")).as("fingerprint"))

  // --- q31: multimodal binary payload + metadata extraction (stub decode) ---
  def q31(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractMeta(
      Tables.documents(s, dir).withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload").toDF()

  // --- q32: windowed activity (streaming-equivalent batch semantics) ---
  def q32(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingFraud.windowedActivity(Tables.events(s, dir))

  val q32Sql: String =
    """SELECT TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      | event_type,
      | CAST(COUNT(*) AS BIGINT) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // --- q33: MLlib logistic-regression fraud scorer (rows-only) ---
  def q33(s: SparkSession, dir: String): DataFrame =
    graft.ml.FraudScorer.score(s, dir)

  // --- q78: held-out evaluation of q33's scorer — AUC-ROC / AUC-PR on
  // an unseen hashed test split (rows-only: MLlib metrics aren't
  // SQL-expressible; MlSpec asserts the AUC floor) ---
  def q78(s: SparkSession, dir: String): DataFrame =
    graft.ml.FraudScorer.evaluate(s, dir)

  // --- q74: stream-stream interval join, batch execution (the streaming
  // twin runs the SAME definition on two watermarked streams —
  // StreamingSpec proves batch/stream equality) ---
  def q74(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.streaming.StreamingFraud.purchasesAfterErrors(ev, ev, lookbackMinutes = 60)
  }

  // CAST(ts AS TIMESTAMP) truncates DuckDB's ns view to the same µs
  // precision Spark compares at — without it a pair within 1 µs of the
  // 60-minute boundary would be judged at ns precision on one side only
  val q74Sql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |  event_type FROM events)
      |SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
      | e.event_id AS error_id, e.ts AS e_ts
      |FROM ev p JOIN ev e
      | ON p.user_id = e.user_id
      | AND p.event_type = 'purchase' AND e.event_type = 'error'
      | AND e.ts BETWEEN p.ts - INTERVAL 60 MINUTES AND p.ts""".stripMargin

  // --- q77: intra-document repetition stats (Gopher quality rules) —
  // duplicate word-bigram fraction and top-bigram mass per document ---
  def q77(s: SparkSession, dir: String): DataFrame =
    graft.operators.Repetition.ngramStats(
      Tables.documents(s, dir), "doc_id", "text", n = 2)

  val q77Sql: String =
    """WITH tok AS (SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS w
      |  FROM documents),
      |g AS (SELECT doc_id, ARRAY_TO_STRING(w[i:i+1], ' ') AS ngram
      |  FROM (SELECT doc_id, w, UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS i
      |        FROM tok WHERE LEN(w) >= 2)),
      |pc AS (SELECT doc_id, ngram, COUNT(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id,
      | CAST(SUM(c) AS BIGINT) AS n_grams,
      | CAST(COUNT(*) AS BIGINT) AS n_distinct,
      | CAST(MAX(c) AS BIGINT) AS top_count,
      | CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_frac,
      | CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac
      |FROM pc GROUP BY 1""".stripMargin

  // --- q80: bigram language-model quality score (the KenLM-style
  // "perplexity filter" signal for pretraining curation): per document,
  // the mean natural-log probability of its word bigrams under the
  // corpus's own add-one-smoothed bigram model,
  // ln((c(w1,w2)+1) / (c(w1·)+V)). Everything is equi-joins on token
  // keys. The bigram stream is PRE-AGGREGATED to per-doc counts d12 =
  // (doc, tok_a, tok_b, c) before anything else touches it (guide
  // §2.3: aggregate before you shuffle): the global bigram table c12
  // folds from d12 (never a second corpus pass), first-token totals
  // re-aggregate c12, and the scoring join carries ONE row per
  // distinct per-doc bigram weighted by c instead of one row per
  // occurrence — avg(ln p) becomes Σ c·ln p / Σ c, the identical sum
  // evaluated with multiplication instead of repeated addition (well
  // inside the FLOOR grid's 1e-10 tolerance; oracle-hash-checked).
  // d12 is persisted across its two uses (the count fold and the
  // scoring join) like Dedup.lshVerifiedPairs persists its shingle
  // stream; the vocabulary size is a 1-row broadcast (the q47 scalar
  // pattern). Linear shuffles only.
  def q80(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    val docs = Tables.documents(s, dir)
    val bg = graft.functions.TextFunctions.wordBigrams(docs, "doc_id", "text")
    val d12 = caches.trackPersist(
      bg.groupBy("doc_id", "tok_a", "tok_b").agg(count(lit(1)).as("c")))
    val c12 = d12.groupBy("tok_a", "tok_b").agg(sum("c").as("n12"))
    val c1 = c12.groupBy("tok_a").agg(sum("n12").as("n1"))
    val vocab = docs.select(explode(toks).as("tok"))
      .filter(length(col("tok")) > 0)
      .agg(countDistinct(col("tok")).as("v"))
    d12.join(c12, Seq("tok_a", "tok_b"))
      .join(c1, Seq("tok_a"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      // FLOOR fixed-point, not ROUND(double, 6): identical doubles floor
      // identically on every engine version, while decimal rounding
      // tie-breaks differ (the r7 hash-fail class); LN last-ulp noise
      // flips a floor only within ~1e-10 of a grid point (q114 contract)
      .agg(sum(col("c")).as("n_bigrams"),
        floor(lit(1e6) * (sum(col("c").cast("double") *
            log((col("n12") + 1).cast("double") /
              (col("n1") + col("v")).cast("double"))) /
          sum(col("c").cast("double")))).cast("long").as("lm_score_micro"))
  }

  val q80Sql: String =
    """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+') AS toks
      |  FROM documents),
      |b AS (SELECT doc_id, UNNEST(toks[1:LEN(toks)-1]) AS tok_a,
      |             UNNEST(toks[2:LEN(toks)]) AS tok_b
      |      FROM t WHERE LEN(toks) > 1),
      |c12 AS (SELECT tok_a, tok_b, COUNT(*) AS n12 FROM b GROUP BY 1, 2),
      |c1 AS (SELECT tok_a, SUM(n12) AS n1 FROM c12 GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT tok) AS v
      |      FROM (SELECT UNNEST(toks) AS tok FROM t) WHERE LEN(tok) > 0)
      |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      | CAST(FLOOR(1000000.0 * AVG(LN((c12.n12 + 1) / (c1.n1 + v.v)))) AS BIGINT)
      |   AS lm_score_micro
      |FROM b JOIN c12 USING (tok_a, tok_b) JOIN c1 USING (tok_a) CROSS JOIN v
      |GROUP BY 1""".stripMargin

  // --- q82: tokenizer character-coverage analysis (the SentencePiece
  // `character_coverage` statistic): rank every character by corpus
  // frequency and keep the smallest prefix covering 99.9% of all
  // character occurrences — the vocabulary a byte/char tokenizer must
  // allocate before falling back to <unk>/bytes. The corpus pass is one
  // explode + hash agg (linear, partial-agg map-side); the ranking
  // window then runs over the CHARACTER ALPHABET — metadata-sized by
  // definition (≤ a few thousand even for CJK), the same bounded-window
  // argument as Dedup.shingleDict — and the coverage cut is exact
  // integer arithmetic (cum·1000 < total·999), no float rounding to
  // diverge between engines.
  def q82(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      // "(?!^)" splits between every pair of characters (zero-width
      // lookahead, so nothing is consumed); empty text yields one empty
      // token, dropped by the length guard
      .select(explode(split(col("text"), "(?!^)")).as("ch"))
      .filter(length(col("ch")) === 1)
      .groupBy("ch").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    val byFreq = Window.orderBy(col("n").desc, col("ch").asc)
    counts
      .withColumn("rank", row_number().over(byFreq))
      .withColumn("cum_n", sum("n").over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .filter((col("cum_n") - col("n")) * 1000 < col("total") * 999)
      .select("ch", "n", "rank", "cum_n")
  }

  val q82Sql: String =
    """WITH pos AS (SELECT text,
      |  UNNEST(GENERATE_SERIES(1, CAST(LEN(text) AS BIGINT))) AS i FROM documents),
      |g AS (SELECT SUBSTR(text, CAST(i AS INT), 1) AS ch, COUNT(*) AS n
      |  FROM pos GROUP BY 1),
      |r AS (SELECT ch, n,
      |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, ch ASC) AS INT) AS rank,
      |  SUM(n) OVER (ORDER BY n DESC, ch ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |  SUM(n) OVER () AS total
      | FROM g)
      |SELECT ch, CAST(n AS BIGINT) AS n, rank, CAST(cum_n AS BIGINT) AS cum_n
      |FROM r WHERE (cum_n - n) * 1000 < total * 999""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q82_char_coverage"   -> (q82 _),
    "q80_lm_score"        -> (q80 _),
    "q27_text_stats"      -> (q27 _),
    "q28_lang_id"         -> (q28 _),
    "q29_quality_filter"  -> (q29 _),
    "q30_fingerprint"     -> (q30 _),
    "q31_multimodal_meta" -> (q31 _),
    "q32_stream_windowed" -> (q32 _),
    "q33_fraud_score"     -> (q33 _),
    "q78_score_eval"      -> (q78 _),
    "q74_stream_join"     -> (q74 _),
    "q77_repetition"      -> (q77 _))

  override val oracle: Map[String, String] = Map(
    "q82_char_coverage"   -> q82Sql,
    "q80_lm_score"        -> q80Sql,
    "q27_text_stats"      -> q27Sql,
    "q28_lang_id"         -> q28Sql,
    "q29_quality_filter"  -> q29Sql,
    "q32_stream_windowed" -> q32Sql,
    "q74_stream_join"     -> q74Sql,
    "q77_repetition"      -> q77Sql)
}
