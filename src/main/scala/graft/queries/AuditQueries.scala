package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-8 widening, fourth batch: financial-audit & lifecycle queries.
  *
  * q142 is the Benford first-digit fraud audit (the forensic-accounting
  * staple — fabricated amounts don't follow the log distribution real
  * ones do), q143 cross-table reconciliation (order headers vs their
  * line-item sums — the warehouse's double-entry integrity check),
  * q144 per-user dormancy/reactivation profiling (the
  * account-takeover precursor signal: long-idle accounts that suddenly
  * wake), and q145 the signup→purchase conversion-time survival
  * readout (how long activation takes, censored users counted).
  *
  * Compare-surface posture as q130-q141: integer arithmetic only —
  * counts, integer cents, epoch-µs gaps, ppm by integer DIV, and
  * Benford's expected shares as shared literal constants (never an
  * engine's log10).
  */
object AuditQueries extends QuerySet {

  /** FLOOR(1e6·log10(1+1/d)) for d = 1..9 — Benford's law as exact ppm
    * literals, shared verbatim by both compare sides so no engine ever
    * evaluates a logarithm.
    */
  val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  // --- q142: Benford first-digit audit per event type. First digit of
  // the integer cents amount (decimal-point-free, so the digit is a
  // pure string head — no float log/pow on either side), counted per
  // (type, digit): ONE partial-aggregable shuffle of ≤ types·9 groups;
  // the per-type total and ppm shares come from a window over that
  // bounded frame, never the event stream. observed_ppm is integer
  // DIV; expected_ppm joins the literal Benford table above. delta_ppm
  // is the fraud-screening readout (synthetic uniform amounts diverge
  // wildly — exactly what the audit is for).
  def q142(s: SparkSession, dir: String): DataFrame = {
    val expected = BenfordPpm.map { case (d, p) => s"WHEN $d THEN ${p}L" }
      .mkString("CASE digit ", " ", " END")
    val byDigit = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("bigint").as("cents"))
      .filter(col("cents") >= 1)
      .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("int"))
      .groupBy("event_type", "digit").agg(count(lit(1)).as("n"))
    byDigit
      .withColumn("total", sum("n").over(Window.partitionBy("event_type")))
      .withColumn("observed_ppm", expr("(1000000 * n) DIV total"))
      .withColumn("expected_ppm", expr(expected))
      .withColumn("delta_ppm", col("observed_ppm") - col("expected_ppm"))
      .select(col("event_type"), col("digit"), col("n"),
        col("observed_ppm"), col("expected_ppm"), col("delta_ppm"))
  }

  val q142Sql: String = {
    val expected = BenfordPpm.map { case (d, p) => s"WHEN $d THEN $p" }
      .mkString("CASE digit ", " ", " END")
    s"""WITH c AS (
       | SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
       | FROM events WHERE value IS NOT NULL AND ROUND(value * 100) >= 1),
       |g AS (
       | SELECT event_type,
       |  CAST(SUBSTR(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |  CAST(COUNT(*) AS BIGINT) AS n
       | FROM c GROUP BY 1, 2),
       |t AS (SELECT *, SUM(n) OVER (PARTITION BY event_type) AS total FROM g)
       |SELECT event_type, digit, n,
       | CAST((1000000 * n) // total AS BIGINT) AS observed_ppm,
       | CAST($expected AS BIGINT) AS expected_ppm,
       | CAST((1000000 * n) // total - ($expected) AS BIGINT) AS delta_ppm
       |FROM t""".stripMargin
  }

  // --- q143: order↔lineitem reconciliation — the double-entry audit
  // every warehouse load should end with (the reference's run-log
  // row-count check, upgraded to value-level). Per order: header cents
  // vs the exact integer sum of its line cents; the readout is the
  // bounded per-status fold (mismatch counts, total/max absolute
  // drift, orphan headers with no lines). Shape: lineitem partial-
  // aggregates to one row per order in its groupBy shuffle, then joins
  // the header co-keyed on orderkey — fact⋈fact on the SAME key, so at
  // 100 TB the two shuffles co-partition and AQE handles skew; the
  // final rollup is ≤ |statuses| groups. The synthetic tables don't
  // reconcile (headers and lines are drawn independently) — which is
  // what makes every audit column non-trivially exercised.
  def q143(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("bigint").as("ord_cents"))
    val l = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("line_cents"),
        count(lit(1)).as("n_lines"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .withColumn("delta", col("ord_cents") - coalesce(col("line_cents"), lit(0L)))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("n_lines").isNull, 1L).otherwise(0L)).as("n_orphan"),
        sum(when(col("delta") =!= 0, 1L).otherwise(0L)).as("n_mismatch"),
        sum(abs(col("delta"))).as("abs_delta_cents"),
        max(abs(col("delta"))).as("max_abs_delta_cents"))
  }

  val q143Sql: String =
    """WITH l AS (
      | SELECT l_orderkey,
      |  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS line_cents,
      |  COUNT(*) AS n_lines
      | FROM lineitem GROUP BY 1),
      |j AS (
      | SELECT o.o_orderstatus, l.n_lines,
      |  CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
      |    - COALESCE(l.line_cents, 0) AS delta
      | FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      | CAST(SUM(CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
      | CAST(SUM(CASE WHEN delta <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      | CAST(SUM(ABS(delta)) AS BIGINT) AS abs_delta_cents,
      | CAST(MAX(ABS(delta)) AS BIGINT) AS max_abs_delta_cents
      |FROM j GROUP BY 1""".stripMargin

  /** q144 dormancy threshold: a gap longer than this is a reactivation. */
  val DormantGapUs = 604800000000L // 7 days

  // --- q144: per-user dormancy & reactivation profile — the
  // account-takeover precursor (fraud teams watch long-idle accounts
  // that suddenly wake; q18's velocity rule fires WITHIN a session,
  // this fires on the lifecycle). One LAG window partitioned by
  // user_id — HIGH-cardinality key (the q137 contract: user count
  // scales with the corpus, so partitions stay balanced; never a
  // types-cardinality window), tie-safe (us, event_id) order, then the
  // per-user fold: event count, distinct active days, longest idle gap
  // in exact µs, reactivation count past the 7-day threshold.
  def q144(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint").as("ed"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("ed")).as("active_days"),
        max(col("gap")).as("max_gap_us"),
        sum(when(col("gap") > DormantGapUs, 1L).otherwise(0L)).as("n_react"))
  }

  val q144Sql: String =
    s"""WITH g AS (
       | SELECT user_id,
       |  DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
       |  EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
       |    PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id) AS gap
       | FROM events)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       | CAST(COUNT(DISTINCT ed) AS BIGINT) AS active_days,
       | CAST(MAX(gap) AS BIGINT) AS max_gap_us,
       | CAST(SUM(CASE WHEN gap > $DormantGapUs THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_react
       |FROM g GROUP BY 1""".stripMargin

  // --- q145: signup→purchase conversion-time survival buckets — the
  // activation readout (q123 measures view→purchase latency for
  // converters; this counts EVERY signed-up user, the censored 'never'
  // bucket included — the denominator growth teams actually need).
  // Shape: per-user min-signup fold (one user shuffle), purchases
  // re-join co-keyed and keep the first at-or-after signup, then a
  // ≤ 5-group bucket rollup on exact integer day arithmetic. At 100 TB
  // both shuffles hash the same high-cardinality user key.
  def q145(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("s_us"))
    val fp = e.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min("us").as("p_us"))
    su.join(fp, Seq("user_id"), "left")
      .withColumn("days", expr("(p_us - s_us) DIV 86400000000"))
      .withColumn("bucket",
        when(col("p_us").isNull, "never")
          .when(col("days") === 0, "same_day")
          .when(col("days") <= 3, "d1_3")
          .when(col("days") <= 7, "d4_7")
          .otherwise("d8_plus"))
      .groupBy("bucket").agg(count(lit(1)).as("n_users"))
  }

  val q145Sql: String =
    """WITH e AS (SELECT user_id, event_type, EPOCH_US(ts) AS us FROM events),
      |su AS (SELECT user_id, MIN(us) AS s_us FROM e
      |       WHERE event_type = 'signup' GROUP BY 1),
      |fp AS (SELECT p.user_id, MIN(p.us) AS p_us
      |       FROM e p JOIN su ON p.user_id = su.user_id AND p.us >= su.s_us
      |       WHERE p.event_type = 'purchase' GROUP BY 1),
      |b AS (
      | SELECT su.user_id,
      |  CASE WHEN p_us IS NULL THEN 'never'
      |       WHEN (p_us - s_us) // 86400000000 = 0 THEN 'same_day'
      |       WHEN (p_us - s_us) // 86400000000 <= 3 THEN 'd1_3'
      |       WHEN (p_us - s_us) // 86400000000 <= 7 THEN 'd4_7'
      |       ELSE 'd8_plus' END AS bucket
      | FROM su LEFT JOIN fp ON su.user_id = fp.user_id)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_users FROM b GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_benford"   -> (q142 _),
    "q143_reconcile" -> (q143 _),
    "q144_dormancy"  -> (q144 _),
    "q145_survival"  -> (q145 _))

  override val oracle: Map[String, String] = Map(
    "q142_benford"   -> q142Sql,
    "q143_reconcile" -> q143Sql,
    "q144_dormancy"  -> q144Sql,
    "q145_survival"  -> q145Sql)
}
