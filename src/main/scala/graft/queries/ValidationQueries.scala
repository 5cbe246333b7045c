package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Checks
import graft.sources.Tables

/** Round-8 widening, third batch: validation & diagnostics.
  *
  * q139 formalizes the data-quality gate (the Deequ-shaped declarative
  * check suite over the fact table — one scan, one metrics table),
  * q140 adds per-segment linear trend (exact-integer OLS slope
  * numerator/denominator — the "is this segment growing" readout next
  * to q112's drift and q128's breakpoint), and q141 the
  * near-duplicate-payment pair finder (same user, near-identical
  * amount, within 24 h — the double-charge fraud staple), built as a
  * numeric band join: bucket-explode one side by the tolerance so the
  * join is an equi-join on (user, bucket), never a per-user cross
  * product over amounts.
  *
  * Compare-surface posture as q130-q138: integer arithmetic only —
  * counts, epoch-µs gaps, integer cents, sign-only trend labels.
  */
object ValidationQueries extends QuerySet {

  /** Accepted event types for q139's InSet check. */
  val KnownTypes = Seq("view", "click", "purchase", "signup", "error")

  // --- q139: declarative check suite over events. Five constraints —
  // completeness (user_id), uniqueness (event_id), range (value ≥ 0),
  // domain (event_type in the known set), referential integrity
  // (user_id ⊆ customer.c_custkey) — evaluated by Checks.validate in
  // ONE scan of the fact: row-local checks share one partial-aggregable
  // aggregate; the referential check left-joins the broadcast distinct
  // customer keys before that same aggregate. Output is the audit
  // table: (check_name, violations, total, pass).
  def q139(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    Checks.validate(e, Seq(
      Checks.NotNull("user_id"),
      Checks.Unique("event_id"),
      Checks.NonNegative("value"),
      Checks.InSet("event_type", KnownTypes),
      Checks.RefIn("user_id", Tables.customer(s, dir), "c_custkey")))
  }

  val q139Sql: String =
    """WITH j AS (
      | SELECT e.*, c.c_custkey AS ref_key FROM events e LEFT JOIN
      |  (SELECT DISTINCT c_custkey FROM customer) c ON e.user_id = c.c_custkey),
      |m AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS total,
      |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
      |  CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) AS v_uq,
      |  CAST(SUM(CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS v_neg,
      |  CAST(SUM(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
      |    ('view','click','purchase','signup','error') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS v_set,
      |  CAST(SUM(CASE WHEN user_id IS NOT NULL AND ref_key IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS v_ref
      | FROM j)
      |SELECT check_name, violations, total, violations = 0 AS pass FROM (
      | SELECT 'not_null_user_id' AS check_name, v_nn AS violations, total FROM m
      | UNION ALL SELECT 'unique_event_id', v_uq, total FROM m
      | UNION ALL SELECT 'non_negative_value', v_neg, total FROM m
      | UNION ALL SELECT 'known_event_type', v_set, total FROM m
      | UNION ALL SELECT 'user_id_in_c_custkey', v_ref, total FROM m) t""".stripMargin

  // --- q140: per-type linear trend — exact-integer OLS slope of cents
  // against epoch-day. q112 says WHETHER the distribution moved and
  // q128 says WHEN; this says WHICH WAY and HOW STEEPLY each segment
  // trends. One partial-aggregable fold collects (n, Σx, Σy, Σxy, Σx²)
  // per type; slope = num/den is surfaced as the exact integer pair
  // (num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)² > 0) plus a sign-only
  // label — no division reaches the compare surface (the q119 ratio
  // lesson). x is centered on a CONSTANT origin near the data
  // ([[TrendOrigin]]): num and den are exactly translation-invariant
  // (num(x+c) = n·Σxy + cnΣy − ΣxΣy − cnΣy), so the origin changes no
  // output value — it only shrinks the int64 intermediates ~650×
  // (epoch-day ~19.7k → day-offset ≤ span). The raw-epoch form
  // overflowed n·Σxy at the sf1 sweep (n=2e5/type · Σxy~3.9e14);
  // centered, exact while n²·span·max_cents < 2^63 — n ≤ ~2.3e6/type
  // at a 30-day span — ANSI mode fails loudly past it, the q126
  // contract; past that bound lift the sums to decimal(38,0) or
  // re-center per coarse time chunk.
  def q140(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit(TrendOrigin).cast("date"))
          .cast("bigint").as("x"),
        round(col("value") * 100).cast("bigint").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("trend",
        when(col("slope_num") > 0, "up")
          .when(col("slope_num") < 0, "down").otherwise("flat"))
      .select(col("event_type"), col("n").cast("bigint").as("n"),
        col("slope_num").cast("bigint").as("slope_num"),
        col("slope_den").cast("bigint").as("slope_den"), col("trend"))
  }

  /** q140's constant slope origin — any date works (translation
    * invariance, see q140's doc); one near the corpus keeps the OLS
    * sums small. Spark and the oracle MUST share it.
    */
  val TrendOrigin = "2024-01-01"

  val q140Sql: String =
    s"""WITH b AS (
      | SELECT event_type,
      |  DATE_DIFF('day', DATE '$TrendOrigin', CAST(ts AS DATE)) AS x,
      |  CAST(ROUND(value * 100) AS BIGINT) AS y
      | FROM events WHERE value IS NOT NULL),
      |a AS (
      | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
      | FROM b GROUP BY 1)
      |SELECT event_type, n,
      | CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      | CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
      | CASE WHEN n * sxy - sx * sy > 0 THEN 'up'
      |      WHEN n * sxy - sx * sy < 0 THEN 'down' ELSE 'flat' END AS trend
      |FROM a""".stripMargin

  /** q141 tolerance: cents band half-width (±$5) and pair window (24 h). */
  val PairTolCents = 500L
  val PairWindowUs = 86400000000L

  // --- q141: near-duplicate payment pairs — two purchases by the same
  // user within ±$5 and 24 h of each other (the double-charge /
  // split-payment fraud heuristic; q67's debounce catches exact
  // repeats inside one bucket — this catches NEAR repeats across any
  // boundary, exactly). Shape: a numeric band join, the 1-D money
  // analog of q41's time-bucket range join — one side explodes to its
  // cents bucket ±1 (bucket width = tolerance, so any qualifying pair
  // differs by ≤ 1 bucket — for trunc-div buckets too, since an
  // interval of length tol spans at most one boundary), making the
  // join an EQUI-join on (user_id, bucket) with the exact |Δcents| and
  // |Δµs| predicates applied post-join. Never a per-user cross product
  // over amounts: per-task work is bounded by the (user, bucket) group
  // — 3× the linear explode cost plus matches. Canonical pair order
  // event_a < event_b; each pair emitted exactly once (the probe's
  // 3-bucket set contains the build side's bucket exactly once).
  def q141(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .withColumn("bkt", expr(s"cents DIV $PairTolCents"))
    val probe = p
      .withColumn("bkt", explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
      .select(col("user_id"), col("event_id").as("event_a"),
        col("us").as("us_a"), col("cents").as("cents_a"), col("bkt"))
    val build = p.select(col("user_id"), col("event_id").as("event_b"),
      col("us").as("us_b"), col("cents").as("cents_b"), col("bkt"))
    probe.join(build, Seq("user_id", "bkt"))
      .filter(col("event_a") < col("event_b") &&
        abs(col("cents_a") - col("cents_b")) <= PairTolCents &&
        abs(col("us_b") - col("us_a")) <= PairWindowUs)
      .select(col("user_id"), col("event_a"), col("event_b"),
        (col("us_b") - col("us_a")).as("gap_us"),
        col("cents_a"), col("cents_b"))
  }

  val q141Sql: String =
    s"""SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       | CAST(EPOCH_US(b.ts) - EPOCH_US(a.ts) AS BIGINT) AS gap_us,
       | CAST(ROUND(a.value * 100) AS BIGINT) AS cents_a,
       | CAST(ROUND(b.value * 100) AS BIGINT) AS cents_b
       |FROM events a JOIN events b
       | ON a.user_id = b.user_id AND a.event_id < b.event_id
       |WHERE a.event_type = 'purchase' AND b.event_type = 'purchase'
       | AND a.value IS NOT NULL AND b.value IS NOT NULL
       | AND ABS(ROUND(a.value * 100) - ROUND(b.value * 100)) <= $PairTolCents
       | AND ABS(EPOCH_US(b.ts) - EPOCH_US(a.ts)) <= $PairWindowUs""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_check_suite"  -> (q139 _),
    "q140_trend"        -> (q140 _),
    "q141_pair_charges" -> (q141 _))

  override val oracle: Map[String, String] = Map(
    "q139_check_suite"  -> q139Sql,
    "q140_trend"        -> q140Sql,
    "q141_pair_charges" -> q141Sql)
}
