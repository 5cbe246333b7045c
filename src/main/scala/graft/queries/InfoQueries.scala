package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NgramFunctions
import graft.sources.Tables

/** Round-9 widening, third batch: information-theoretic profiling —
  * the entropy / scaling-law statistics that grade corpus diversity
  * and user-behavior regularity: per-user event-type entropy (bot /
  * automation detection for the fraud mart), per-source character
  * entropy (template & boilerplate detection for corpus curation),
  * and the Heaps-law vocabulary-growth fit per source (how fast new
  * vocabulary appears as a source grows — the data-mixing signal
  * behind "is this source adding diversity or repetition").
  *
  * Compare surface: the q166/posture-3 discipline for every LN —
  * each log term is FLOORed to an INTEGER before any summation, so
  * no cross-engine double-accumulation order exists (unlike a naive
  * SUM(p*ln(p)) whose partial-sum order differs per engine); the
  * final division is integer DIV with a non-negative numerator.
  * Entropy terms n·ln(N/n) are individually >= 0; the Heaps fit
  * emits the exact integer num/den of the least-squares slope
  * (beta = num/den, derivable exactly) instead of a double ratio.
  */
object InfoQueries extends QuerySet {

  // --- q178: per-user event-type entropy — the behavior-regularity
  // score: a user whose events are one type (entropy 0) is an
  // automation signature; a uniform mixer sits at ln(n_types). Terms
  // FLOOR(1e6 * n * ln(N/n)) are exact integers (one correctly-rounded
  // LN on a bit-identical double each), summed as BIGINTs, then one
  // integer DIV by N — entropy_micro is micro-nats. Shape: one
  // (user, type) groupBy (map-side combined), the per-user rollup,
  // and a user-keyed join — all on the same key, so the shuffle
  // partitioning is reused; no window. Long bound: 1e6 * n * ln(...)
  // <= 1e6 * N * ln(types) ~ 2e15 even at 1e9 events per user.
  // Both halves are SHARED with the deployed streaming monitor
  // (StreamingFraud.typeCountStream builds the same count frame as a
  // stream; StreamingFraud.entropyOf is this finisher — StreamingSpec
  // asserts stream = batch), so the oracle gate checks the monitor.
  def q178(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingFraud.entropyOf(
      graft.streaming.StreamingFraud.typeCountStream(Tables.events(s, dir)))

  val q178Sql: String =
    """WITH g AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(COUNT(*) AS BIGINT) AS n_types FROM g GROUP BY 1)
      |SELECT g.user_id, MIN(t.n_events) AS n_events, MIN(t.n_types) AS n_types,
      | CAST(SUM(CAST(FLOOR(1000000.0 * g.n *
      |    LN(CAST(t.n_events AS DOUBLE) / g.n)) AS BIGINT)) // MIN(t.n_events)
      |  AS BIGINT) AS entropy_micro
      |FROM g JOIN t ON g.user_id = t.user_id GROUP BY 1""".stripMargin

  // --- q179: per-source character entropy — the corpus-curation
  // twin of q178: a source whose characters concentrate on a few
  // symbols (low entropy vs ln(alphabet)) is template/boilerplate
  // heavy; extraction reuses the codegen'd CharNgramExpr at n = 1
  // (one boundary pass per document). Same integer-term posture.
  // Shape: linear explode, (source, char) map-side-combined groupBy
  // (bounded by |sources| x |alphabet|), then metadata-sized rollup
  // and join — the corpus is scanned once.
  def q179(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("source"),
        explode(NgramFunctions.charNgrams(col("text"), 1)).as("ch"))
      .groupBy("source", "ch")
      .agg(count(lit(1)).as("n"))
    val t = g.groupBy("source")
      .agg(sum("n").cast("long").as("n_chars"),
        count(lit(1)).as("n_distinct"))
    g.join(t, "source")
      .groupBy("source")
      .agg(min("n_chars").as("n_chars"), min("n_distinct").as("n_distinct"),
        sum(floor(lit(1e6) * col("n") *
          log(col("n_chars").cast("double") / col("n"))).cast("long"))
          .cast("long").as("term_sum"))
      .select(col("source"), col("n_chars"), col("n_distinct"),
        expr("term_sum DIV n_chars").as("entropy_micro"))
  }

  val q179Sql: String =
    """WITH c AS (
      | SELECT source, substring(text, CAST(i AS INT), 1) AS ch
      | FROM documents, UNNEST(range(1, CAST(length(text) + 1 AS BIGINT))) t(i)),
      |g AS (SELECT source, ch, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
      |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_chars,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct FROM g GROUP BY 1)
      |SELECT g.source, MIN(t.n_chars) AS n_chars, MIN(t.n_distinct) AS n_distinct,
      | CAST(SUM(CAST(FLOOR(1000000.0 * g.n *
      |    LN(CAST(t.n_chars AS DOUBLE) / g.n)) AS BIGINT)) // MIN(t.n_chars)
      |  AS BIGINT) AS entropy_micro
      |FROM g JOIN t ON g.source = t.source GROUP BY 1""".stripMargin

  // --- q180: Heaps-law vocabulary-growth fit per source — regress
  // log(distinct tokens) on log(total tokens) across the source's
  // documents: beta near 1 means every document brings new vocabulary
  // (diverse source), beta near 0 means the vocabulary saturates
  // (repetitive source) — the scaling-law input to the q166/q172
  // mixture decisions. Points x = FLOOR(1e3 * ln(n_toks)),
  // y = FLOOR(1e3 * ln(v_toks)) are exact integers; the least-squares
  // slope is emitted as its exact integer num/den
  // (n*Sxy - Sx*Sy, n*Sxx - Sx*Sx) — beta = num/den, no double ever
  // formed. Shape: token explode (linear), per-doc
  // count/countDistinct (doc-keyed shuffle), then a map-side-combined
  // rollup to <= |sources| rows. Long bound at milli-log scale:
  // x ~ 1e4, x*x ~ 1e8, n*Sxx ~ |docs|^2 * 1e8 — safe through ~1e5
  // docs/source per the §5 contract table (beyond that, drop to
  // centi-log).
  def q180(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    val perDoc = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), explode(toks).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n_toks"), countDistinct(col("tok")).as("v_toks"))
      .filter(col("n_toks") >= 2)
      .select(col("source"),
        floor(lit(1e3) * log(col("n_toks").cast("double"))).cast("long").as("x"),
        floor(lit(1e3) * log(col("v_toks").cast("double"))).cast("long").as("y"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) * sum(expr("x * y")) - sum("x") * sum("y"))
          .cast("long").as("slope_num"),
        (count(lit(1)) * sum(expr("x * x")) - sum("x") * sum("x"))
          .cast("long").as("slope_den"))
  }

  val q180Sql: String =
    """WITH d AS (
      | SELECT source, doc_id,
      |  STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+') AS toks
      | FROM documents),
      |p AS (
      | SELECT source,
      |  CAST(LEN(LIST_FILTER(toks, x -> LEN(x) > 0)) AS BIGINT) AS n_toks,
      |  CAST(LEN(LIST_DISTINCT(LIST_FILTER(toks, x -> LEN(x) > 0))) AS BIGINT)
      |    AS v_toks
      | FROM d),
      |x AS (
      | SELECT source,
      |  CAST(FLOOR(1000.0 * LN(CAST(n_toks AS DOUBLE))) AS BIGINT) AS x,
      |  CAST(FLOOR(1000.0 * LN(CAST(v_toks AS DOUBLE))) AS BIGINT) AS y
      | FROM p WHERE n_toks >= 2)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
      | CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den
      |FROM x GROUP BY 1""".stripMargin

  // --- q182: pointwise mutual information between event type and
  // weekday — the feature-dependence profile (which behaviors are
  // weekday-locked?) that feeds feature selection for the q33 scorer;
  // also the engine-proof template for ANY categorical-pair MI.
  // pmi_micro = FLOOR(1e6 * ln(n_xy*N / (n_x*n_y))) per pair — one
  // correctly-rounded LN on a bit-identical double, FLOORed (toward
  // -inf on both engines; pmi is legitimately negative for
  // anti-correlated pairs), NEVER divided — so no integer-division
  // sign trap and no accumulation order. MI itself is derivable
  // exactly as SUM(n_xy * pmi)/N. Shape: one (type, dow) groupBy
  // (map-side combined, bounded by |types| x 7), then the marginal /
  // total windows all on that metadata-sized frame — join-free. Long
  // bound: the BIGINT products n_xy*n and n_x*n_y must fit — safe
  // through ~3e9 events per marginal (Spark would wrap silently where
  // DuckDB raises); beyond that, pre-scale both counts by 1e3.
  def q182(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 86400000000 + 4) % 7").cast("long").as("dow"))
      .agg(count(lit(1)).as("n_xy"))
      .withColumn("n_x", sum("n_xy").over(Window.partitionBy("event_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).cast("long"))
      .withColumn("n_y", sum("n_xy").over(Window.partitionBy("dow")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).cast("long"))
      .withColumn("n", sum("n_xy").over(wAll).cast("long"))
      .select(col("event_type"), col("dow"), col("n_xy"), col("n_x"), col("n_y"),
        floor(lit(1e6) * log(expr("cast(n_xy * n as double)") /
          expr("cast(n_x * n_y as double)"))).cast("long").as("pmi_micro"))
  }

  val q182Sql: String =
    """WITH e AS (
      | SELECT event_type,
      |  (EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow
      | FROM events),
      |xy AS (SELECT event_type, CAST(dow AS BIGINT) AS dow,
      |  CAST(COUNT(*) AS BIGINT) AS n_xy FROM e GROUP BY 1, 2),
      |w AS (
      | SELECT event_type, dow, n_xy,
      |  CAST(SUM(n_xy) OVER (PARTITION BY event_type) AS BIGINT) AS n_x,
      |  CAST(SUM(n_xy) OVER (PARTITION BY dow) AS BIGINT) AS n_y,
      |  CAST(SUM(n_xy) OVER () AS BIGINT) AS n
      | FROM xy)
      |SELECT event_type, dow, n_xy, n_x, n_y,
      | CAST(FLOOR(1000000.0 * LN(CAST(n_xy * n AS DOUBLE)
      |   / CAST(n_x * n_y AS DOUBLE))) AS BIGINT) AS pmi_micro
      |FROM w""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q178_user_entropy" -> (q178 _),
    "q179_char_entropy" -> (q179 _),
    "q180_heaps_fit" -> (q180 _),
    "q182_pmi_profile" -> (q182 _))

  override val oracle: Map[String, String] = Map(
    "q178_user_entropy" -> q178Sql,
    "q179_char_entropy" -> q179Sql,
    "q180_heaps_fit" -> q180Sql,
    "q182_pmi_profile" -> q182Sql)
}
