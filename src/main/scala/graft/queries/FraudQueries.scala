package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.FraudMart

/** Fraud mart queries (SURVEY.md §2, q16–q20) with DuckDB oracles. */
object FraudQueries extends QuerySet {

  private val EvCte =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  val q16Sql: String =
    s"""$EvCte
       |SELECT e.event_id, e.ts AS event_dt, e.user_id, c.c_name AS fio, CAST(1 AS INT) AS rule
       |FROM ev e JOIN customer c ON e.user_id = c.c_custkey
       |WHERE e.event_type = 'purchase' AND c.c_acctbal < 0""".stripMargin

  val q17Sql: String =
    s"""$EvCte, validity AS (
       | SELECT user_id, MIN(ts) + INTERVAL 20 DAY AS valid_to
       | FROM ev WHERE event_type = 'signup' GROUP BY user_id)
       |SELECT e.event_id, e.ts AS event_dt, e.user_id, CAST(2 AS INT) AS rule
       |FROM ev e JOIN validity v ON e.user_id = v.user_id
       |WHERE e.event_type = 'purchase' AND e.ts > v.valid_to""".stripMargin

  val q18Sql: String =
    s"""$EvCte, b AS (
       | SELECT event_id, ts, user_id,
       |  CAST(json_extract_string(props, '$$.k') AS INT) AS k,
       |  LAG(CAST(json_extract_string(props, '$$.k') AS INT)) OVER w AS prv_k,
       |  LAG(ts) OVER w AS prv_ts
       | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT event_id, ts AS event_dt, user_id, k, prv_k, CAST(3 AS INT) AS rule
       |FROM b WHERE k <> prv_k AND ts < prv_ts + INTERVAL 1 HOUR""".stripMargin

  val q19Sql: String =
    s"""$EvCte, a AS (
       | SELECT event_id, ts, user_id, event_type, value,
       |  LAG(value) OVER w AS prv_amt,
       |  MIN(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS min_dt,
       |  SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |   OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS errs
       | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |b AS (
       | SELECT *, MIN(CASE WHEN value < prv_amt THEN 1 ELSE 0 END)
       |   OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS red
       | FROM a)
       |SELECT event_id, ts AS event_dt, user_id, CAST(4 AS INT) AS rule
       |FROM b WHERE event_type = 'purchase' AND errs >= 2
       | AND ts < min_dt + INTERVAL 96 HOUR AND red = 1""".stripMargin

  val q20Sql: String = {
    def proj(sql: String): String =
      s"SELECT event_id, event_dt, user_id, rule FROM ($sql) t"
    s"""SELECT event_id, event_dt, user_id, rule, CAST(event_dt AS DATE) AS report_dt FROM (
       |${proj(q16Sql)}
       |UNION ALL ${proj(q17Sql)}
       |UNION ALL ${proj(q18Sql)}
       |UNION ALL ${proj(q19Sql)}
       |) u WHERE event_dt > TIMESTAMP '${FraudMart.Watermark}'""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q16_fraud_blacklist" -> ((s: SparkSession, d: String) => FraudMart.r1Blacklist(s, d)),
    "q17_fraud_expired"   -> ((s: SparkSession, d: String) => FraudMart.r2Expired(s, d)),
    "q18_fraud_velocity"  -> ((s: SparkSession, d: String) => FraudMart.r3Velocity(s, d)),
    "q19_fraud_guessing"  -> ((s: SparkSession, d: String) => FraudMart.r4Guessing(s, d)),
    "q20_fraud_report"    -> ((s: SparkSession, d: String) => FraudMart.report(s, d)))

  override val oracle: Map[String, String] = Map(
    "q16_fraud_blacklist" -> q16Sql,
    "q17_fraud_expired"   -> q17Sql,
    "q18_fraud_velocity"  -> q18Sql,
    "q19_fraud_guessing"  -> q19Sql,
    "q20_fraud_report"    -> q20Sql)
}
