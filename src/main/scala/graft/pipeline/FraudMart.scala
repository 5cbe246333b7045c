package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's fraud-report mart (trsh_rep_fraud_sync.sql) re-based
  * onto the `events` stream: users are clients, `value` is the amount,
  * `props.$.k` is the terminal-city analog, `event_type='error'` is a
  * rejected operation.
  *
  * Every rule is a single declarative plan: the dimension joins broadcast
  * (client dim ≪ fact stream), the window rules shuffle once on user_id.
  * The accumulation filter (`create_dt > MAX(report_dt)`,
  * trsh_rep_fraud_sync.sql:22-24) is the incremental watermark constant.
  */
object FraudMart {

  val Watermark = "2024-01-05 00:00:00"

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  private val wUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)

  // Each rule is defined once below — its dimension or window columns
  // and its firing predicate — and used by both the standalone rule
  // (q16-q19) and the fused report (unionRules).
  private val purchase = col("event_type") === "purchase"

  /** Blacklist = negative account balance. */
  private def blacklisted(customer: DataFrame): DataFrame = customer.filter(col("c_acctbal") < 0)

  /** R2 fires on a purchase past the client's `valid_to`. */
  private val expired = purchase && col("ts") > col("valid_to")

  /** R3's window columns: the location `k` and the previous event's. */
  private def withVelocityCols(ev: DataFrame): DataFrame =
    ev.withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("prv_k", lag(col("k"), 1).over(wUser))
      .withColumn("prv_ts", lag(col("ts"), 1).over(wUser))

  /** R3 fires on a location change within one hour. */
  private val velocity =
    col("k") =!= col("prv_k") && col("ts") < col("prv_ts") + expr("INTERVAL 1 HOUR")

  /** R4's window columns, framed like the reference: LAG(amt), MIN/SUM
    * over ROWS BETWEEN n PRECEDING.
    */
  private def withGuessingCols(ev: DataFrame): DataFrame = {
    val frame3 = wUser.rowsBetween(-3, -1)
    val frame2 = wUser.rowsBetween(-2, 0)
    ev.withColumn("prv_amt", lag(col("value"), 1).over(wUser))
      .withColumn("min_dt", min(col("ts")).over(frame3))
      .withColumn("errs",
        sum(when(col("event_type") === "error", 1).otherwise(0)).over(frame3))
      .withColumn("red",
        min(when(col("value") < col("prv_amt"), 1).otherwise(0)).over(frame2))
  }

  /** R4 fires on a purchase after >=2 errors inside 96 h, each attempt
    * smaller than the previous.
    */
  private val guessing = purchase && col("errs") >= 2 &&
    col("ts") < col("min_dt") + expr("INTERVAL 96 HOURS") && col("red") === 1

  /** R1 — operation while the client is blacklisted
    * (trsh_rep_fraud_sync.sql:3-24); the dim side broadcasts.
    */
  def r1Blacklist(s: SparkSession, dir: String): DataFrame =
    r1On(events(s, dir), Tables.customer(s, dir))

  private[graft] def r1On(ev: DataFrame, customer: DataFrame): DataFrame = {
    val bl = blacklisted(customer).select(col("c_custkey"), col("c_name").as("fio"))
    ev.filter(purchase)
      .join(broadcast(bl), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("ts").as("event_dt"), col("user_id"), col("fio"),
        lit(1).as("rule"))
  }

  /** R2 — operation after the client's validity window
    * (trsh_rep_fraud_sync.sql:27-44: trans_date > valid_to). Validity =
    * 20 days from first signup.
    */
  def r2Expired(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    r2On(ev, validityOf(ev))
  }

  /** Per-user validity from the FULL signup history — an incrementally
    * maintainable min-aggregate; the scan it needs prunes to the signup
    * slice (predicate pushed) and two columns.
    */
  private[graft] def validityOf(allEvents: DataFrame): DataFrame =
    allEvents.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg((min(col("ts")) + expr("INTERVAL 20 DAYS")).as("valid_to"))

  private[graft] def r2On(ev: DataFrame, validity: DataFrame): DataFrame =
    ev.join(validity, Seq("user_id"))
      .filter(expired)
      .select(col("event_id"), col("ts").as("event_dt"), col("user_id"), lit(2).as("rule"))

  /** R3 — operations from different locations within one hour
    * (trsh_rep_fraud_sync.sql:47-80: LAG(city) per client). Location =
    * the `k` property of the event JSON payload.
    */
  def r3Velocity(s: SparkSession, dir: String): DataFrame =
    withVelocityCols(events(s, dir)).filter(velocity)
      .select(col("event_id"), col("ts").as("event_dt"), col("user_id"),
        col("k"), col("prv_k"), lit(3).as("rule"))

  /** R4 — amount-guessing (trsh_rep_fraud_sync.sql:86-129): a successful
    * operation preceded by >=2 errors in the trailing window, each
    * attempt smaller than the previous.
    */
  def r4Guessing(s: SparkSession, dir: String): DataFrame =
    withGuessingCols(events(s, dir)).filter(guessing)
      .select(col("event_id"), col("ts").as("event_dt"), col("user_id"), lit(4).as("rule"))

  /** All four rules in ONE pass over the fact stream. The naive shape
    * (union of the four standalone rules) scans `ev` four times and
    * shuffles it by user_id twice (r3 and r4 window independently); at
    * 100 TB that is 4 fact scans + 2 fact shuffles for one report. Here:
    *
    *  - every window column of r3 AND r4 is computed over the same
    *    `wUser` spec, so Catalyst plans them over a single
    *    exchange+sort — one fact shuffle total;
    *  - the windowed frame leaves the exchange hash-partitioned AND
    *    sorted by user_id, so the validity join (also keyed user_id, an
    *    aggregate that shuffles only the tiny signup slice) needs no
    *    re-shuffle or re-sort of the fact side;
    *  - the blacklist dim broadcasts (left joins keep non-firing rows
    *    alive for the other rules — rule predicates re-check the
    *    inner-join conditions via null-rejecting flags);
    *  - one projection evaluates all four predicates and explodes the
    *    matching rule ids — rows firing k rules emit k rows, exactly the
    *    UNION ALL semantics.
    *
    * Net: one fact scan, one fact shuffle, zero extra sorts — vs four
    * scans and two shuffles. The window columns and predicates are the
    * standalone rules' own (FraudMartSpec asserts this fused plan equals
    * the four-way union row-for-row).
    */
  private def unionRules(ev: DataFrame, customer: DataFrame,
                         validity: DataFrame): DataFrame = {
    val bl = blacklisted(customer).select(col("c_custkey").as("user_id"), lit(1).as("bl"))
    withGuessingCols(withVelocityCols(ev))
      .join(broadcast(bl), Seq("user_id"), "left")
      .join(validity, Seq("user_id"), "left")
      .withColumn("rule", explode(filter(array(
        when(purchase && col("bl") === 1, lit(1)),
        when(expired, lit(2)),
        when(velocity, lit(3)),
        when(guessing, lit(4))), x => x.isNotNull)))
      .select(col("event_id"), col("ts").as("event_dt"), col("user_id"), col("rule"))
  }

  /** The fused rules over `ev`, only rows newer than `after`, stamped
    * with their report date.
    */
  private def reportOn(ev: DataFrame, customer: DataFrame, validity: DataFrame,
                       after: String): DataFrame =
    unionRules(ev, customer, validity)
      .filter(col("event_dt") > lit(after).cast("timestamp"))
      .withColumn("report_dt", to_date(col("event_dt")))

  /** The accumulated report: UNION ALL of the four rules projected to the
    * common schema, only rows newer than the last report watermark.
    */
  def report(s: SparkSession, dir: String,
             watermark: String = Watermark): DataFrame = {
    val ev = events(s, dir)
    reportOn(ev, Tables.customer(s, dir), validityOf(ev), watermark)
  }

  /** Incremental mart refresh — the 100 TB answer to the reference's
    * full-rebuild `mart_update`. Only events inside the rule lookback
    * horizon are re-windowed (one partition-prunable time filter on the
    * fact scan); everything older is provably irrelevant:
    *
    *  - r1 is per-event (dim join) — no history needed.
    *  - r2's validity is the min-signup aggregate, maintained from the
    *    SIGNUP SLICE of history (predicate+column-pruned scan — at 100 TB
    *    a tiny fraction of the facts; in a live deployment it's a
    *    watermark-maintained table).
    *  - r3 fires only when the previous event is < 1 h older.
    *  - r4's frames are row-based, but every FIRING row requires its
    *    trailing window inside 96 h (`ts < min_dt + 96h`), and truncating
    *    the buffer only removes rows that are FURTHER than the surviving
    *    ones — it can suppress only flags the 96 h filter kills anyway,
    *    and can never fabricate a closer preceding row. Hence
    *    lookbackHours = 96 (the widest rule horizon) reproduces the full
    *    rebuild exactly — asserted row-for-row in FraudMartSpec.
    */
  def incrementalReport(s: SparkSession, dir: String, since: String,
                        lookbackHours: Int = 96): DataFrame = {
    // Tables.eventsSince bounds the scan on the RAW time column, so the
    // horizon predicate reaches parquet row-group stats — on a
    // time-partitioned 100 TB fact table this is the difference between
    // reading 4 days and reading everything.
    val bufferStart = java.time.LocalDateTime.parse(since.replace(' ', 'T'))
      .minusHours(lookbackHours)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    reportOn(Tables.eventsSince(s, dir, bufferStart), Tables.customer(s, dir),
      validityOf(events(s, dir)), since)
  }
}
