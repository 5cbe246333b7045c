package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NgramFunctions
import graft.sources.Tables

/** Round-9 widening, second batch: series diagnostics & layout
  * planning — the time-series health checks a mart owner runs on the
  * warehouse's own daily series (autocorrelation structure, EWMA
  * anomaly flags, day-of-week seasonality) and the file-layout
  * planning pass a 100 TB table needs between ingest and query
  * (compaction bin assignment, q171's downstream step), plus
  * char-bigram LM statistics over the corpus (the character-level
  * sibling of q104's word transitions, feeding lang-id features).
  *
  * Compare surface: exact integers end to end (posture 1) — dollars /
  * cents via the tie-free cents ROUND (posture 2), epoch-integer
  * calendar arithmetic (posture 4), ppm via integer DIV, and every
  * output column explicitly cast (posture 5). The ACF and EWMA stay
  * exact by DESIGN: q173 emits the raw integer num/den sums instead of
  * a double ratio (no accumulation order exists), and q174's EWMA uses
  * INTEGER ppm weights fixed at plan time, so the smoothed value is an
  * exact integer dot product, not a recursive double.
  */
object SeriesQueries extends QuerySet {

  // --- q173: autocorrelation diagnostics of the daily revenue series —
  // the mart owner's "is there weekly structure / drift momentum in my
  // daily totals" readout. For lags 1..7: n_pairs, the centered cross
  // product num = SUM(y_t * y_{t+k}) and the common den = SUM(y_t^2)
  // (acf_k = num/den, derivable exactly from the emitted integers).
  // Centering subtracts the INTEGER mean (sum DIV n) so every value
  // stays an exact BIGINT on both engines — no double accumulation
  // order exists (the q166 posture, applied to a time series). Shape:
  // ONE corpus pass (groupBy day, map-side combined) down to <= |days|
  // rows; the row_number / totals / den windows all run on that
  // bounded daily frame; the lag pairing explodes 7 rows per day and
  // equi-joins the bounded frame to itself.
  //
  // Long bound, ENFORCED at any corpus scale (the sf3 sweep overflowed
  // the naive dollars unit: den = days·y² ≈ 2e20 at 30× > 2^63): the
  // centered values are shrunk by a DETERMINISTIC integer unit scale,
  // computed DIVISION-FIRST so the derivation itself cannot overflow
  // (the multiply-first form max|yv|·(1+⌊√nd⌋) has an uncovered
  // intermediate when max|yv| > 2^63/√nd):
  //   q  = max(1, 2e9 DIV (1+⌊√nd⌋))        — no multiply anywhere
  //   us = 1 + max|yv| DIV q
  // Then us > max|yv|/q, so |yv/us| < q ≤ 2e9/√nd and
  // den = Σ(yv/us)² < nd·(2e9)²/nd = 4e18 < 2^63 by construction,
  // with every intermediate ≤ max(max|yv|, 2e9). us is exact integer
  // arithmetic plus one
  // IEEE sqrt of a small integer — bit-identical on both engines — and
  // equals 1 at sf ≤ 1 (max|yv| ~1e7), so historical outputs are
  // unchanged; the emitted `unit_scale` column makes acf_k = num/den
  // still exactly derivable (both sums shrink by us², the ratio is
  // unit-free up to the integer truncation, which both engines apply
  // identically — truncation TOWARD ZERO, spelled as sign·(abs DIV us)
  // because DuckDB's // floors while Spark's DIV truncates).
  def q173(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val daily = Tables.orders(s, dir)
      .groupBy(expr("unix_micros(o_orderdate) div 86400000000").as("day"))
      .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100")
        .cast("long").as("x"))
    val y = daily
      .withColumn("rn", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("sx", sum("x").over(wAll).cast("long"))
      .withColumn("nd", count(lit(1)).over(wAll).cast("long"))
      .withColumn("yv0", expr("x - sx DIV nd"))
      .withColumn("mx", max(abs(col("yv0"))).over(wAll))
      .withColumn("us", expr(
        "1L + mx DIV greatest(1L, " +
          "2000000000L DIV (1L + cast(floor(sqrt(cast(nd as double))) as long)))"))
      .withColumn("yv", expr(
        "(case when yv0 < 0 then -1L else 1L end) * (abs(yv0) DIV us)"))
      .withColumn("den", sum(expr("yv * yv")).over(wAll).cast("long"))
      .select(col("rn"), col("yv"), col("nd"), col("den"), col("us"))
    val pairs = y
      .withColumn("lag_k", explode(sequence(lit(1L), lit(7L))))
      .withColumn("rn2", col("rn") + col("lag_k"))
      .join(y.select(col("rn").as("rnb"), col("yv").as("yb")),
        col("rn2") === col("rnb"))
    pairs.groupBy(col("lag_k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("yv * yb")).cast("long").as("num"),
        min("den").cast("long").as("den"),
        min("nd").cast("long").as("n_days"),
        min("us").cast("long").as("unit_scale"))
  }

  val q173Sql: String =
    """WITH d AS (
      | SELECT EPOCH_US(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
      | FROM orders GROUP BY 1),
      |w AS (
      | SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn,
      |  CAST(SUM(x) OVER () AS BIGINT) AS sx,
      |  CAST(COUNT(*) OVER () AS BIGINT) AS nd
      | FROM d),
      |y0 AS (
      | SELECT rn, nd, x - sx // nd AS yv0 FROM w),
      |u AS (
      | SELECT rn, nd, yv0,
      |  1 + MAX(ABS(yv0)) OVER () // GREATEST(1,
      |       2000000000 // (1 + CAST(FLOOR(SQRT(CAST(nd AS DOUBLE))) AS BIGINT)))
      |   AS us
      | FROM y0),
      |y AS (
      | SELECT rn, nd, us,
      |  (CASE WHEN yv0 < 0 THEN -1 ELSE 1 END) * (ABS(yv0) // us) AS yv,
      |  CAST(SUM(((CASE WHEN yv0 < 0 THEN -1 ELSE 1 END) * (ABS(yv0) // us)) *
      |           ((CASE WHEN yv0 < 0 THEN -1 ELSE 1 END) * (ABS(yv0) // us)))
      |    OVER () AS BIGINT) AS den
      | FROM u),
      |p AS (
      | SELECT CAST(l.lag AS BIGINT) AS lag_k, a.yv, a.nd, a.den, a.us, b.yv AS yb
      | FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) l(lag)
      | JOIN y a ON TRUE
      | JOIN y b ON b.rn = a.rn + l.lag)
      |SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      | CAST(SUM(yv * yb) AS BIGINT) AS num,
      | CAST(MIN(den) AS BIGINT) AS den,
      | CAST(MIN(nd) AS BIGINT) AS n_days,
      | CAST(MIN(us) AS BIGINT) AS unit_scale
      |FROM p GROUP BY 1""".stripMargin

  /** q174's EWMA weights: w_k = FLOOR(1e6 * 0.3 * 0.7^(k-1)) applied
    * to lag k = 1..14 — fixed INTEGER ppm weights computed once at
    * plan time, so the "exponential" smoothing is an exact integer dot
    * product over the PRIOR 14 days instead of a recursive double
    * (whose rounding would compound differently per engine). The day
    * under test is EXCLUDED from its own baseline — a spike smoothed
    * into its own EWMA damps its own deviation below any threshold.
    * The same literals are interpolated into the oracle SQL, so both
    * engines evaluate the identical integer expression.
    */
  val EwmaWeights: Seq[Long] =
    (0 until 14).map(k => math.floor(1e6 * 0.3 * math.pow(0.7, k)).toLong)
  val EwmaWSum: Long = EwmaWeights.sum

  // --- q174: EWMA anomaly readout over the daily purchase-value
  // series — the pipeline-health monitor behind the fraud mart: a day
  // whose total deviates >30% from the exponentially-weighted average
  // of its own PRIOR history is flagged. ewma_scaled =
  // SUM_{k=1..14} w_k * cents_{t-k} (exact BIGINT), dev =
  // cents_t * SUM(w) - ewma_scaled (so dev/ewma is the relative
  // deviation without ever forming a double). Rows emitted only past
  // the 14-day warmup, where every lag is defined. Shape: one corpus
  // pass down to <= |days| rows, then 14 LAG reads on that bounded
  // ordered frame. Long bound: cents * WSum ~ 1e7-cents days
  // * 1e6 ppm = 1e13 at sf0.1 << 2^63. Both halves are SHARED with
  // the deployed streaming monitor (StreamingFraud.dailyValueStream
  // aggregates the same daily frame as a stream;
  // StreamingFraud.ewmaOf is this finisher — StreamingSpec asserts
  // stream = batch), so the oracle gate checks the monitor itself.
  def q174(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingFraud.ewmaOf(
      graft.streaming.StreamingFraud.dailyValueStream(Tables.events(s, dir)))

  val q174Sql: String = {
    val terms = EwmaWeights.zipWithIndex.map { case (wt, k) =>
      s"$wt * LAG(c, ${k + 1}) OVER (ORDER BY day)"
    }.mkString(" + ")
    s"""WITH d AS (
       | SELECT EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
       | FROM events WHERE value IS NOT NULL GROUP BY 1),
       |w AS (
       | SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) AS rn,
       |  $terms AS ew
       | FROM d)
       |SELECT day, c, CAST(ew AS BIGINT) AS ewma_scaled,
       | CAST(c * $EwmaWSum - ew AS BIGINT) AS dev,
       | CASE WHEN ABS(c * $EwmaWSum - ew) * 10 > ew * 3
       |  THEN 'spike' ELSE 'ok' END AS flag
       |FROM w WHERE rn >= 15""".stripMargin
  }

  // --- q175: compaction-plan assignment — q171 says how many
  // partitions a table NEEDS; this query plans the merge that gets
  // there: ingest chunks (30-epoch-day slices here, standing in for
  // the small files an incremental load leaves behind) packed
  // greedily in chunk order into target-sized output bins:
  // bin = cum_bytes_before DIV target, the classic prefix-sum
  // bin-packing that never splits a chunk and keeps every bin within
  // one chunk of target. Byte model matches q171 (char mass + 8 B per
  // fixed column). Shape: one map-side-combined corpus pass down to
  // <= |chunks| rows, then one bounded-frame running-sum window — the
  // PLAN costs one scan; executing it is the rewrite
  // (graft.operators.Compactor.compact — q175 IS Compactor.plan's
  // oracle gate). 256 KiB target so the plan exercises multi-chunk
  // bins at oracle scale.
  def q175(s: SparkSession, dir: String): DataFrame =
    graft.operators.Compactor.plan(Tables.lineitem(s, dir),
        expr("unix_micros(l_shipdate) div 2592000000000"),
        length(col("l_returnflag")) + length(col("l_linestatus")) + lit(72L),
        targetBytes = 262144L)
      .select(col("chunk"), col("est_bytes"), col("cum_before"), col("bin"))

  val q175Sql: String =
    """WITH c AS (
      | SELECT EPOCH_US(CAST(l_shipdate AS TIMESTAMP)) // 2592000000000 AS chunk,
      |  CAST(SUM(LENGTH(l_returnflag) + LENGTH(l_linestatus))
      |    + 72 * COUNT(*) AS BIGINT) AS est_bytes
      | FROM lineitem GROUP BY 1),
      |w AS (
      | SELECT chunk, est_bytes,
      |  CAST(COALESCE(SUM(est_bytes) OVER (ORDER BY chunk
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS cum_before
      | FROM c)
      |SELECT chunk, est_bytes, cum_before,
      | CAST(cum_before // 262144 AS BIGINT) AS bin
      |FROM w""".stripMargin

  // --- q176: day-of-week seasonality index per region — revenue share
  // by weekday against the uniform 1/7 baseline (index_ppm = 1e6 means
  // "an average weekday"; the q138/q140 forecasting family's seasonal
  // factor input). Weekday from epoch-day arithmetic, (day + 4) % 7 —
  // 1970-01-01 was a Thursday, so 0 = Monday (posture 4; the calendar
  // builtins stay banned). Shape: orders joins three BROADCAST dims
  // (customer/nation/region — the q167 advisor's own verdict), one
  // map-side-combined groupBy down to 5 regions x 7 weekdays, then the
  // per-region share window on that 35-row frame. Long bound:
  // region-weekday cents ~ 1e11 at sf0.1, * 7e6 ~ 1e18 < 2^63 (at
  // sf >= 1, drop to dollars).
  def q176(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"),
        expr("(unix_micros(o_orderdate) div 86400000000 + 4) % 7")
          .cast("long").as("dow"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    j.groupBy("r_name", "dow")
      .agg(sum("cents").cast("long").as("rev_cents"))
      .withColumn("tot", sum("rev_cents").over(Window.partitionBy("r_name")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long"))
      .select(col("r_name"), col("dow"), col("rev_cents"),
        expr("(rev_cents * 1000000) DIV tot").as("share_ppm"),
        expr("(rev_cents * 7000000) DIV tot").as("index_ppm"))
  }

  val q176Sql: String =
    """WITH j AS (
      | SELECT r.r_name,
      |  (EPOCH_US(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow,
      |  CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      | JOIN nation n ON c.c_nationkey = n.n_nationkey
      | JOIN region r ON n.n_regionkey = r.r_regionkey),
      |g AS (
      | SELECT r_name, CAST(dow AS BIGINT) AS dow,
      |  CAST(SUM(cents) AS BIGINT) AS rev_cents
      | FROM j GROUP BY 1, 2)
      |SELECT r_name, dow, rev_cents,
      | CAST(rev_cents * 1000000
      |   // CAST(SUM(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
      |   AS BIGINT) AS share_ppm,
      | CAST(rev_cents * 7000000
      |   // CAST(SUM(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
      |   AS BIGINT) AS index_ppm
      |FROM g""".stripMargin

  // --- q177: char-bigram LM statistics — the top-50 character bigrams
  // of the corpus with deterministic rank (count DESC, gram ASC): the
  // character-level sibling of q104's word transitions, and the
  // feature table a char-n-gram lang-id model (q28's family) trains
  // from. Extraction is the codegen'd CharNgramExpr — one boundary
  // pass per document (the HOF form re-walks the string per gram,
  // O(d^2) interpreted; the PhraseScanExpr lesson). Shape: linear
  // explode (d-1 grams per doc), map-side-combined count, then the
  // rank window on a frame bounded by |alphabet|^2 distinct grams —
  // corpus size never enters the window. The rank runs through
  // graft.text.NgramRank.topK, whose `shards` dial (default 1 = this
  // exact plan) pre-prunes per first-char shard for CJK-scale
  // alphabets — the SURVEY §5 escape hatch, shard-count-independent
  // by construction (NgramRankPropertySpec).
  def q177(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(NgramFunctions.charNgrams(col("text"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
    graft.text.NgramRank.topK(counts, "gram", "n", 50)
      .select(col("gram"), col("n"), col("rnk"))
  }

  val q177Sql: String =
    """WITH b AS (
      | SELECT substring(text, CAST(i AS INT), 2) AS gram
      | FROM documents, UNNEST(range(1, CAST(length(text) AS BIGINT))) t(i)),
      |g AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
      |r AS (SELECT gram, n,
      | CAST(ROW_NUMBER() OVER (ORDER BY n DESC, gram) AS BIGINT) AS rnk
      | FROM g)
      |SELECT gram, n, rnk FROM r WHERE rnk <= 50""".stripMargin

  // --- q183: cohort LTV curves — cumulative purchase value per signup
  // cohort and week-of-life, normalized per cohort member: the revenue
  // twin of q66's retention counts (THAT counts who came back; THIS
  // accumulates what they spent). Exact integers end to end: cents via
  // the tie-free money ROUND, cohort/week from epoch-day arithmetic,
  // per-user LTV by integer DIV. Shape: the cohort assignment is one
  // user-keyed groupBy joined back user-keyed (shuffle key reused),
  // purchases fold map-side to the cohorts x weeks frame, and the
  // running-sum window runs on that bounded frame with the ≤ |cohorts|
  // size table broadcast.
  def q183(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val f = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    val cs = f.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    val w = e.join(f, "user_id")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(col("cohort_day"),
        expr("(day - cohort_day) div 7").cast("long").as("week_n"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).cast("long")
        .as("week_cents"))
      .withColumn("cum_cents",
        sum("week_cents").over(Window.partitionBy("cohort_day")
          .orderBy("week_n").rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
    w.join(broadcast(cs), "cohort_day")
      .select(col("cohort_day"), col("week_n"), col("cohort_size"),
        col("week_cents"), col("cum_cents"),
        expr("cum_cents DIV cohort_size").as("ltv_per_user_cents"))
  }

  val q183Sql: String =
    """WITH e AS (SELECT user_id, event_type, value,
      |  EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1),
      |cs AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
      | FROM f GROUP BY 1),
      |w AS (SELECT f.cohort_day,
      |  CAST((e.day - f.cohort_day) // 7 AS BIGINT) AS week_n,
      |  CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS week_cents
      | FROM e JOIN f ON e.user_id = f.user_id
      | WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
      | GROUP BY 1, 2),
      |c AS (SELECT cohort_day, week_n, week_cents,
      |  CAST(SUM(week_cents) OVER (PARTITION BY cohort_day ORDER BY week_n
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_cents
      | FROM w)
      |SELECT c.cohort_day, c.week_n, cs.cohort_size, c.week_cents, c.cum_cents,
      | CAST(c.cum_cents // cs.cohort_size AS BIGINT) AS ltv_per_user_cents
      |FROM c JOIN cs USING (cohort_day)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q173_acf" -> (q173 _),
    "q174_ewma_anomaly" -> (q174 _),
    "q175_compaction_plan" -> (q175 _),
    "q176_dow_seasonality" -> (q176 _),
    "q177_char_bigrams" -> (q177 _),
    "q183_cohort_ltv" -> (q183 _))

  override val oracle: Map[String, String] = Map(
    "q173_acf" -> q173Sql,
    "q174_ewma_anomaly" -> q174Sql,
    "q175_compaction_plan" -> q175Sql,
    "q176_dow_seasonality" -> q176Sql,
    "q177_char_bigrams" -> q177Sql,
    "q183_cohort_ltv" -> q183Sql)
}
