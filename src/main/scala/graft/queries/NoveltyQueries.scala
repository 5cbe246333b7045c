package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** Round-8 widening, fifth batch: corpus novelty & customer-value.
  *
  * q146 scores per-document n-gram novelty against the corpus prefix
  * before it (the data-curation ordering signal: a doc whose shingles
  * all appeared in earlier docs adds nothing to training), q147 the
  * token frequency spectrum (count-of-counts — the Good-Turing
  * smoothing input and the classic Zipf-tail readout, with no
  * logarithm anywhere near the compare surface), and q148 RFM
  * customer-value segmentation (recency/frequency/monetary — the
  * marketing-analytics staple the fraud team reuses to rank account
  * value at risk).
  *
  * Compare-surface posture: integer counts, integer cents, epoch-day
  * arithmetic, ppm by integer DIV.
  */
object NoveltyQueries extends QuerySet {

  // --- q146: per-doc 4-gram novelty vs the doc_id-ordered corpus
  // prefix. A shingle is NOVEL in the first doc (min doc_id) that
  // contains it; a doc's novelty is its novel fraction. Exactly the
  // q76 decontamination primitive turned inward: instead of an eval
  // set, each doc is screened against every doc before it — in ONE
  // shingle-keyed groupBy (min doc_id per shingle) plus the co-keyed
  // join back, never a per-pair comparison. At 100 TB both shuffles
  // hash the same high-cardinality shingle key; the per-doc fold is
  // the second, doc-keyed shuffle. Distinct-shingle semantics
  // (wordNgrams dedups per doc) keep the ratio a set measure.
  def q146(s: SparkSession, dir: String): DataFrame = {
    // whole-partition min window instead of groupBy(shingle) + self-join
    // (guide §2.4: the join re-planned the shingle subtree — two corpus
    // tokenizations — and shuffled the stream on shingle TWICE; the
    // window computes first_doc in the stream's single shingle
    // exchange). Shingle cardinality is corpus-scale, so the window
    // partitioning is skew-safe wherever the old groupBy was.
    val sh = TextFunctions.wordNgrams(Tables.documents(s, dir), "doc_id", "text", n = 4)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    sh.withColumn("first_doc", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(1000000 * n_novel) DIV n_shingles"))
  }

  val q146Sql: String =
    """WITH toks AS (
      | SELECT doc_id, LIST_FILTER(
      |   STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'), x -> x <> '') AS ws
      | FROM documents),
      |gr AS (SELECT doc_id, ws, UNNEST(RANGE(1, LEN(ws)-2)) AS i FROM toks),
      |sh AS (
      | SELECT DISTINCT doc_id,
      |  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
      | FROM gr),
      |f AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      | CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_novel,
      | CAST((1000000 * SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END))
      |   // COUNT(*) AS BIGINT) AS novelty_ppm
      |FROM sh JOIN f ON sh.s = f.s GROUP BY 1""".stripMargin

  // --- q147: token frequency spectrum per language — for each
  // occurrence count c, how many distinct token types occur exactly c
  // times, and the token mass they carry. The Good-Turing estimator's
  // N_c input, the Zipf-tail diagnostic, and the "how much of the
  // corpus is hapax junk" readout, all from counts alone. Shape: one
  // (lang, token) groupBy collapses the corpus; the spectrum fold runs
  // on the count-class frame (q132's posture — O(√corpus-ish) distinct
  // counts, never a vocabulary sort).
  def q147(s: SparkSession, dir: String): DataFrame = {
    // the shared tokenizer expression — an inline copy would silently
    // desynchronize from the oracle if wsTokens ever changes
    val toks = Tables.documents(s, dir)
      .select(col("lang"), explode(
        graft.functions.TextFunctions.wsTokens(lower(col("text")))).as("token"))
    toks.groupBy("lang", "token").agg(count(lit(1)).as("c"))
      .groupBy("lang", "c").agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("c") * col("n_types"))
      .select(col("lang"), col("c"), col("n_types"), col("mass"))
  }

  val q147Sql: String =
    """WITH tok AS (
      | SELECT lang, UNNEST(LIST_FILTER(
      |   STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'), x -> x <> '')) AS token
      | FROM documents),
      |tc AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2)
      |SELECT lang, c, CAST(COUNT(*) AS BIGINT) AS n_types,
      | CAST(c * COUNT(*) AS BIGINT) AS mass
      |FROM tc GROUP BY 1, 2""".stripMargin

  /** q148 thresholds (fixed literals so the segmentation is
    * deterministic and engine-free): recency ≤ 7 days = active,
    * ≤ 14 = warm; frequency ≥ 15 purchases = frequent; monetary
    * ≥ $5,000 = high value.
    */
  val RfmRecentDays = 7L
  val RfmWarmDays = 14L
  val RfmFreqMin = 15L
  val RfmValueCents = 500000L

  // --- q148: RFM (recency / frequency / monetary) customer-value
  // segments over purchases. Recency anchors to the corpus max event
  // time — a one-row scalar broadcast (the q09/q93 pattern), never a
  // second pass; frequency and monetary fold in the same per-user
  // groupBy. Segment labels combine three literal-threshold axes —
  // every cut in exact integer days/counts/cents. One high-cardinality
  // user shuffle; output is user-sized (the CRM export), with the
  // label ready for the bounded rollup any dashboard does next.
  def q148(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val anchor = e.agg(max(unix_micros(col("ts"))).as("max_us"))
    val rfm = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .groupBy("user_id")
      .agg(max("us").as("last_us"), count(lit(1)).as("f"),
        sum("cents").as("m_cents"))
    rfm.crossJoin(broadcast(anchor))
      .withColumn("r_days", expr("(max_us - last_us) DIV 86400000000"))
      .withColumn("segment",
        when(col("r_days") <= RfmRecentDays && col("f") >= RfmFreqMin &&
          col("m_cents") >= RfmValueCents, "champion")
          .when(col("r_days") <= RfmWarmDays && col("f") >= RfmFreqMin, "loyal")
          .when(col("m_cents") >= RfmValueCents, "big_spender")
          .when(col("r_days") > RfmWarmDays, "at_risk")
          .otherwise("regular"))
      .select(col("user_id"), col("r_days"), col("f"), col("m_cents"), col("segment"))
  }

  val q148Sql: String =
    s"""WITH a AS (SELECT MAX(EPOCH_US(ts)) AS max_us FROM events),
       |p AS (
       | SELECT user_id, MAX(EPOCH_US(ts)) AS last_us,
       |  CAST(COUNT(*) AS BIGINT) AS f,
       |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
       | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
       | GROUP BY 1),
       |r AS (SELECT p.*, (a.max_us - p.last_us) // 86400000000 AS r_days
       |      FROM p CROSS JOIN a)
       |SELECT user_id, CAST(r_days AS BIGINT) AS r_days, f, m_cents,
       | CASE WHEN r_days <= $RfmRecentDays AND f >= $RfmFreqMin
       |        AND m_cents >= $RfmValueCents THEN 'champion'
       |      WHEN r_days <= $RfmWarmDays AND f >= $RfmFreqMin THEN 'loyal'
       |      WHEN m_cents >= $RfmValueCents THEN 'big_spender'
       |      WHEN r_days > $RfmWarmDays THEN 'at_risk'
       |      ELSE 'regular' END AS segment
       |FROM r""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_novelty"       -> (q146 _),
    "q147_freq_spectrum" -> (q147 _),
    "q148_rfm"           -> (q148 _))

  override val oracle: Map[String, String] = Map(
    "q146_novelty"       -> q146Sql,
    "q147_freq_spectrum" -> q147Sql,
    "q148_rfm"           -> q148Sql)
}
