package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Scd
import graft.sources.Tables

/** Warehouse/SCD operator suite (SURVEY.md §2, q11–q15).
  *
  * The `events` stream stands in for the reference's change-data feed:
  * each event is a new version of its user's state
  * (state = event_type), exactly how the reference versions dimensions
  * from daily snapshots (etl.py:297-388).
  */
object ScdQueries extends QuerySet {

  private val Split = "2024-01-16 00:00:00"
  private val DelTs = "2024-02-01 00:00:00"

  /** Oracle-side prelude: DuckDB sees events.ts as TIMESTAMP_NS, which
    * cannot represent 9999-12-31 — cast to µs TIMESTAMP to match Spark.
    */
  private val EvCte =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  // --- q11: change stream → SCD2 versioned dimension ---
  def q11(s: SparkSession, dir: String): DataFrame =
    Scd.buildHistory(Tables.events(s, dir), "user_id", "ts", "event_id",
        Seq("event_type", "value"))
      .withColumnRenamed("event_type", "state")

  val q11Sql: String =
    s"""$EvCte
       |SELECT user_id, event_type AS state, value, ts AS effective_from,
       | COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MICROSECOND,
       |          TIMESTAMP '9999-12-31 00:00:00') AS effective_to
       |FROM ev""".stripMargin

  // --- q12: point-in-time (as-of) join of facts to the versioned dim ---
  def q12(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val facts = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id").as("f_user"), col("ts").as("event_dt"))
    val dim = Scd.buildHistory(
      ev.filter(col("event_id") % 2 === 1), "user_id", "ts", "event_id", Seq("event_type"))
    Scd.asOfJoin(facts, dim, "f_user", "user_id", "event_dt")
      .select(col("event_id"), col("user_id"), col("event_dt"),
        col("event_type").as("state"), col("effective_from"))
  }

  val q12Sql: String =
    s"""$EvCte, dim AS (
       | SELECT user_id, event_type AS state, ts AS effective_from,
       |  COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MICROSECOND,
       |           TIMESTAMP '9999-12-31 00:00:00') AS effective_to
       | FROM ev WHERE event_id % 2 = 1)
       |SELECT f.event_id, d.user_id, f.ts AS event_dt, d.state, d.effective_from
       |FROM ev f JOIN dim d ON f.user_id = d.user_id
       | AND f.ts BETWEEN d.effective_from AND d.effective_to
       |WHERE f.event_id % 2 = 0""".stripMargin

  // --- q13: SCD1 merge (update changed, insert new, tag actions) ---
  def q13(s: SparkSession, dir: String): DataFrame = {
    val dwh = Tables.customer(s, dir).filter(col("c_custkey") < 100)
      .select(col("c_custkey").as("user_id"), col("c_acctbal").as("balance"))
    val wLatest = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val stg = Tables.events(s, dir)
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("value").as("balance"))
    Scd.scd1Merge(dwh, stg, "user_id", Seq("balance"))
  }

  val q13Sql: String =
    s"""$EvCte, dwh AS (
       | SELECT c_custkey AS user_id, c_acctbal AS balance FROM customer WHERE c_custkey < 100),
       |stg AS (
       | SELECT user_id, value AS balance FROM (
       |  SELECT user_id, value,
       |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM ev) t WHERE rn = 1)
       |SELECT COALESCE(d.user_id, s.user_id) AS user_id,
       | CASE WHEN s.user_id IS NOT NULL THEN s.balance ELSE d.balance END AS balance,
       | CASE WHEN d.user_id IS NULL THEN 'I'
       |      WHEN s.user_id IS NULL THEN 'N'
       |      WHEN d.balance IS DISTINCT FROM s.balance THEN 'U'
       |      ELSE 'N' END AS action
       |FROM dwh d FULL OUTER JOIN stg s ON d.user_id = s.user_id""".stripMargin

  // --- q14: SCD2 merge (close changed, tombstone deleted, insert new) ---
  def q14(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val hist = Scd.buildHistory(
      ev.filter(col("ts") < lit(Split).cast("timestamp")),
      "user_id", "ts", "event_id", Seq("event_type"))
      .withColumnRenamed("event_type", "state")
    val wLatest = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val stg = ev.filter(col("ts") >= lit(Split).cast("timestamp"))
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("state"), col("ts").as("create_dt"))
    Scd.scd2Merge(hist, stg, "user_id", Seq("state"), DelTs)
  }

  val q14Sql: String =
    s"""$EvCte, h AS (
       | SELECT user_id, event_type AS state, ts AS effective_from,
       |  COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MICROSECOND,
       |           TIMESTAMP '9999-12-31 00:00:00') AS effective_to
       | FROM ev WHERE ts < TIMESTAMP '$Split'),
       |stg AS (
       | SELECT user_id, state, create_dt FROM (
       |  SELECT user_id, event_type AS state, ts AS create_dt,
       |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM ev WHERE ts >= TIMESTAMP '$Split') t WHERE rn = 1),
       |openv AS (SELECT * FROM h WHERE effective_to = TIMESTAMP '9999-12-31 00:00:00'),
       |closedv AS (SELECT user_id, state, effective_from, effective_to, FALSE AS deleted_flg
       |            FROM h WHERE effective_to <> TIMESTAMP '9999-12-31 00:00:00'),
       |j AS (SELECT d.user_id AS d_key, d.state AS d_state, d.effective_from AS d_from,
       |             s.user_id AS s_key, s.state AS s_state, s.create_dt AS s_dt
       |      FROM openv d FULL OUTER JOIN stg s ON d.user_id = s.user_id)
       |SELECT * FROM closedv
       |UNION ALL SELECT d_key, d_state, d_from, TIMESTAMP '9999-12-31 00:00:00', FALSE
       | FROM j WHERE d_key IS NOT NULL AND s_key IS NOT NULL AND d_state = s_state
       |UNION ALL SELECT d_key, d_state, d_from, s_dt - INTERVAL 1 MICROSECOND, FALSE
       | FROM j WHERE d_key IS NOT NULL AND s_key IS NOT NULL AND d_state <> s_state
       |UNION ALL SELECT d_key, s_state, s_dt, TIMESTAMP '9999-12-31 00:00:00', FALSE
       | FROM j WHERE d_key IS NOT NULL AND s_key IS NOT NULL AND d_state <> s_state
       |UNION ALL SELECT d_key, d_state, d_from, TIMESTAMP '$DelTs' - INTERVAL 1 MICROSECOND, FALSE
       | FROM j WHERE s_key IS NULL
       |UNION ALL SELECT d_key, d_state, TIMESTAMP '$DelTs', TIMESTAMP '9999-12-31 00:00:00', TRUE
       | FROM j WHERE s_key IS NULL
       |UNION ALL SELECT s_key, s_state, s_dt, TIMESTAMP '9999-12-31 00:00:00', FALSE
       | FROM j WHERE d_key IS NULL""".stripMargin

  // --- q15: run-log audit (reference trsh_meta_etl_run_log) ---
  def q15(s: SparkSession, dir: String): DataFrame = {
    val runId = lit(1)
    // eventsSince(strict) == Incremental.newerThan but with the bound
    // pushed to the parquet scan (the converted ts column can't push)
    val ev = Tables.eventsSince(s, dir, "2024-01-20 00:00:00", inclusive = false)
      .agg(count(lit(1)).as("rows_inserted"))
      .select(runId.as("run_id"), lit("events").as("table_name"), col("rows_inserted"))
    val ord = graft.operators.Incremental
      .newerThan(Tables.orders(s, dir), "o_orderdate", "2000-12-31 00:00:00")
      .agg(count(lit(1)).as("rows_inserted"))
      .select(runId.as("run_id"), lit("orders").as("table_name"), col("rows_inserted"))
    val cust = Tables.customer(s, dir)
      .agg(count(lit(1)).as("rows_inserted"))
      .select(runId.as("run_id"), lit("customer").as("table_name"), col("rows_inserted"))
    ev.unionByName(ord).unionByName(cust)
  }

  val q15Sql: String =
    """SELECT CAST(1 AS INT) AS run_id, 'events' AS table_name,
      | CAST(COUNT(*) AS BIGINT) AS rows_inserted
      |FROM events WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-20 00:00:00'
      |UNION ALL SELECT CAST(1 AS INT), 'orders', CAST(COUNT(*) AS BIGINT)
      |FROM orders WHERE o_orderdate > TIMESTAMP '2000-12-31 00:00:00'
      |UNION ALL SELECT CAST(1 AS INT), 'customer', CAST(COUNT(*) AS BIGINT)
      |FROM customer""".stripMargin

  // --- q84: snapshot-diff CDC extraction — two per-user state snapshots
  // (aggregates over shifted 7-day windows of the event stream) diffed
  // into the I/U/D change stream the SCD merges consume. max() (not
  // sum-of-doubles) keeps the payload order-independent, so equality
  // classification is exact on both engines. One full-outer key join.
  def q84(s: SparkSession, dir: String): DataFrame = {
    def snap(lo: String, hi: String): DataFrame =
      Tables.events(s, dir)
        .filter(col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max("value").as("max_value"))
    Scd.snapshotDiff(
      snap("2024-01-01 00:00:00", "2024-01-08 00:00:00"),
      snap("2024-01-04 00:00:00", "2024-01-11 00:00:00"),
      Seq("user_id"), Seq("n_events", "max_value"))
  }

  val q84Sql: String =
    s"""$EvCte,
      |o AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, MAX(value) AS max_value
      |  FROM ev WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
      |  GROUP BY 1),
      |n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, MAX(value) AS max_value
      |  FROM ev WHERE ts >= TIMESTAMP '2024-01-04' AND ts < TIMESTAMP '2024-01-11'
      |  GROUP BY 1)
      |SELECT COALESCE(o.user_id, n.user_id) AS user_id,
      | CASE WHEN o.user_id IS NULL THEN 'I'
      |      WHEN n.user_id IS NULL THEN 'D' ELSE 'U' END AS change_type,
      | o.n_events AS old_n_events, o.max_value AS old_max_value,
      | n.n_events AS new_n_events, n.max_value AS new_max_value
      |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
      |WHERE o.user_id IS NULL OR n.user_id IS NULL
      |   OR o.n_events IS DISTINCT FROM n.n_events
      |   OR o.max_value IS DISTINCT FROM n.max_value""".stripMargin

  // --- q129: 3-hop SCD2 dimension-chain PIT join — the reference's
  // actual mart join shape: every fraud rule reads the fact through
  // THREE chained validity dims, each `BETWEEN effective_from AND
  // effective_to` (trsh_rep_fraud_sync.sql:114-121 — transaction →
  // cards_hist → accounts_hist → clients_hist). The repo's remapped
  // data model collapses that to one dim per rule (FraudMart), so this
  // query exercises the chain explicitly: three versioned dims derived
  // from disjoint event slices (card→account, account→client,
  // client→segment), the fact PIT-joined through all three.
  //
  // Scale shape (the part the chain stresses — REWRITTEN round 10):
  // each hop is a NATIVE as-of join ([[graft.plans.AsOfJoinExec]]) of
  // the fact stream to the RAW change rows, keyed on the hop's dim
  // key. The previous equi-join + BETWEEN-filter form (the broadcast
  // PIT shape that is right for high-cardinality keys like FraudMart's
  // user_id) is quadratic here: account_num has 50 values and
  // client_id 20, so every fact fanned out over EVERY interval of its
  // key before the range filter pruned — ~1.6e10 intermediate rows at
  // sf1, measured 119 s (71× the sf0.1 time, the round-10 sweep's
  // worst scaler; the same shape is why DuckDB needs >1 h on the
  // oracle SQL). The as-of merge consumes each side ONCE per hop —
  // O(facts + changes) after the (key, ts) sort — and needs no
  // interval materialization, so the three buildHistory windows
  // disappear too: the merge's "latest change at-or-before, ties to
  // the highest event_id" IS the LEAD-tiling interval semantics
  // (degenerate same-instant intervals match nothing; facts before a
  // key's first change drop on both forms). sf1: 119 s → 1.3 s
  // (BENCH_sf1.json).
  // Parallelism on hops 2/3 is capped by the 50/20-key cardinality —
  // inherent to the data model, not the operator (each key's merge is
  // one linear pass).
  def q129(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val facts = ev.select(col("event_id"), col("ts"), col("user_id").as("card_id"))
    val cards = ev.filter(col("event_id") % 3 === 0)
      .select(col("user_id").as("c_card"), col("ts").as("c_ts"),
        col("event_id").as("c_id"),
        expr("(user_id * 7 + length(event_type)) % 50").as("account_num"))
    val accounts = ev.filter(col("event_id") % 3 === 1)
      .select(expr("user_id % 50").as("a_account"), col("ts").as("a_ts"),
        col("event_id").as("a_id"),
        expr("(user_id * 13 + event_id) % 20").as("client_id"))
    val clients = ev.filter(col("event_id") % 3 === 2)
      .select(expr("user_id % 20").as("l_client"), col("ts").as("l_ts"),
        col("event_id").as("l_id"), col("event_type").as("segment"))
    val h1 = graft.plans.AsOfNative.join(facts, cards,
      "card_id", "ts", "c_card", "c_ts", "c_id")
    val h2 = graft.plans.AsOfNative.join(h1, accounts,
      "account_num", "ts", "a_account", "a_ts", "a_id")
    val h3 = graft.plans.AsOfNative.join(h2, clients,
      "client_id", "ts", "l_client", "l_ts", "l_id")
    h3.select(col("event_id"), col("card_id"), col("account_num"),
      col("client_id"), col("segment"))
  }

  val q129Sql: String =
    s"""$EvCte,
       |cards AS (
       | SELECT user_id AS card_id, (user_id * 7 + LENGTH(event_type)) % 50 AS account_num,
       |  ts AS c_from,
       |  COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MICROSECOND,
       |           TIMESTAMP '9999-12-31 00:00:00') AS c_to
       | FROM ev WHERE event_id % 3 = 0),
       |accounts AS (
       | SELECT user_id % 50 AS account_num, (user_id * 13 + event_id) % 20 AS client_id,
       |  ts AS a_from,
       |  COALESCE(LEAD(ts) OVER (PARTITION BY user_id % 50 ORDER BY ts, event_id) - INTERVAL 1 MICROSECOND,
       |           TIMESTAMP '9999-12-31 00:00:00') AS a_to
       | FROM ev WHERE event_id % 3 = 1),
       |clients AS (
       | SELECT user_id % 20 AS client_id, event_type AS segment,
       |  ts AS l_from,
       |  COALESCE(LEAD(ts) OVER (PARTITION BY user_id % 20 ORDER BY ts, event_id) - INTERVAL 1 MICROSECOND,
       |           TIMESTAMP '9999-12-31 00:00:00') AS l_to
       | FROM ev WHERE event_id % 3 = 2)
       |SELECT f.event_id, f.user_id AS card_id, c.account_num, a.client_id, l.segment
       |FROM ev f
       |JOIN cards c ON f.user_id = c.card_id AND f.ts BETWEEN c.c_from AND c.c_to
       |JOIN accounts a ON c.account_num = a.account_num AND f.ts BETWEEN a.a_from AND a.a_to
       |JOIN clients l ON a.client_id = l.client_id AND f.ts BETWEEN l.l_from AND l.l_to""".stripMargin

  /** q159's two clocks: VALID time V (what state was in effect then)
    * and TRANSACTION time T (what the warehouse knew by then). Arrival
    * lateness is the deterministic `(event_id % 3)` days, modeling the
    * reference's late-arriving snapshots (create_dt lagging the
    * business date it describes, etl.py:297-370).
    */
  private val BtV = "2024-01-20 00:00:00"
  private val BtT = "2024-01-21 00:00:00"

  // --- q159: bitemporal as-of — for every user, the state the
  // warehouse BELIEVED (versions that had ARRIVED by transaction time
  // T) was in effect at valid time V, against the state FULL knowledge
  // assigns to V, with a `revised` flag marking the late-arriving
  // corrections (the audit a regulator asks for: "what did you know
  // and when"). Shape: a literal-V as-of needs no interval build —
  // latest version with ts ≤ V is one max(struct(ts, event_id, state))
  // per user, so BOTH beliefs fold in the same high-cardinality
  // user_id shuffle (tie-safe: (ts, event_id) is a total order), then
  // join co-keyed. No window over the corpus, no dim materialization.
  // Day arithmetic is fixed 24h in the UTC session on both engines —
  // no calendar builtin (the r7 q127 contract).
  def q159(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts") <= lit(BtV).cast("timestamp"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("timestampadd(DAY, CAST(event_id % 3 AS INT), ts)").as("arr"))
    val actual = ev.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("a"))
      .select(col("user_id"), col("a.event_type").as("actual_state"))
    val believed = ev.filter(col("arr") <= lit(BtT).cast("timestamp"))
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("b"))
      .select(col("user_id"), col("b.event_type").as("believed_state"))
    actual.join(believed, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("believed_state"), lit("<none>")).as("believed_state"),
        col("actual_state"),
        (coalesce(col("believed_state"), lit("<none>")) =!= col("actual_state"))
          .cast("int").as("revised"))
  }

  val q159Sql: String =
    s"""WITH ev AS (
       | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
       |  CAST(ts AS TIMESTAMP) + (event_id % 3) * INTERVAL 1 DAY AS arr
       | FROM events
       | WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '$BtV'),
       |a AS (SELECT user_id, event_type FROM (
       |  SELECT user_id, event_type,
       |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM ev) WHERE rn = 1),
       |b AS (SELECT user_id, event_type FROM (
       |  SELECT user_id, event_type,
       |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM ev WHERE arr <= TIMESTAMP '$BtT') WHERE rn = 1)
       |SELECT a.user_id,
       | COALESCE(b.event_type, '<none>') AS believed_state,
       | a.event_type AS actual_state,
       | CAST(CASE WHEN COALESCE(b.event_type, '<none>') <> a.event_type
       |   THEN 1 ELSE 0 END AS INT) AS revised
       |FROM a LEFT JOIN b USING (user_id)""".stripMargin

  // --- q160: q12's point-in-time lookup through the NATIVE as-of
  // operator (plans/AsOfJoin.scala: custom LogicalPlan → Strategy →
  // one-pass merge SparkPlan). Same semantics as the composed
  // interval form — the oracle is the latest-version-at-or-before
  // rank — but the dimension needs NO lead-window interval build and
  // the join no candidate expansion: both sides shuffle+sort by
  // (key, ts) once, each output row is an O(1) pointer advance.
  // AsOfNativeSpec proves equality with the composed q12 shape and
  // pins the exec + tie semantics. Honest bench note: at sf0.1 the
  // composed form edges it (0.44 s vs 0.52 s) because the test dim
  // BROADCASTS and the interval build is cheap; the native shape is
  // for the regime where the dimension outgrows broadcast — there the
  // composed form pays a corpus-wide lead window over the dim plus a
  // shuffled join with interval post-filter, while this stays two
  // plain (key, ts) shuffle+sorts and a streaming merge.
  def q160(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val facts = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id").as("f_user"), col("ts").as("event_dt"))
    val vers = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"), col("event_type").as("state"))
    graft.plans.AsOfNative.join(facts, vers,
        "f_user", "event_dt", "v_user", "v_ts", "v_id")
      .select(col("event_id"), col("f_user").as("user_id"), col("event_dt"),
        col("state"), col("v_ts").as("version_ts"))
  }

  val q160Sql: String =
    s"""$EvCte
       |SELECT event_id, user_id, event_dt, state, version_ts FROM (
       | SELECT f.event_id, f.user_id, f.ts AS event_dt,
       |  d.event_type AS state, d.ts AS version_ts,
       |  ROW_NUMBER() OVER (PARTITION BY f.event_id
       |    ORDER BY d.ts DESC, d.event_id DESC) AS rn
       | FROM ev f JOIN ev d
       |  ON f.user_id = d.user_id AND d.event_id % 2 = 1 AND d.ts <= f.ts
       | WHERE f.event_id % 2 = 0) WHERE rn = 1""".stripMargin

  // --- q186: q160's lookup in LEFT-OUTER mode — facts with no version
  // at-or-before survive with a null-extended version side (absence as
  // signal: a fact earlier than its dimension's first version is a
  // finding, not a row to hide). Same native one-pass merge
  // (plans/AsOfJoin.scala, isLeftOuter), same two (key, ts)
  // shuffle+sorts; the oracle is the composed rank form LEFT-joined
  // back onto the fact set.
  def q186(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val facts = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id").as("f_user"), col("ts").as("event_dt"))
    val vers = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"), col("event_type").as("state"))
    graft.plans.AsOfNative.join(facts, vers,
        "f_user", "event_dt", "v_user", "v_ts", "v_id", joinType = "left_outer")
      .select(col("event_id"), col("f_user").as("user_id"), col("event_dt"),
        col("state"), col("v_ts").as("version_ts"))
  }

  val q186Sql: String =
    s"""$EvCte
       |, f AS (SELECT event_id, user_id, ts AS event_dt FROM ev
       |        WHERE event_id % 2 = 0),
       |m AS (
       | SELECT event_id, state, version_ts FROM (
       |  SELECT f.event_id, d.event_type AS state, d.ts AS version_ts,
       |   ROW_NUMBER() OVER (PARTITION BY f.event_id
       |     ORDER BY d.ts DESC, d.event_id DESC) AS rn
       |  FROM f JOIN ev d
       |   ON f.user_id = d.user_id AND d.event_id % 2 = 1 AND d.ts <= f.event_dt)
       | WHERE rn = 1)
       |SELECT f.event_id, f.user_id, f.event_dt, m.state, m.version_ts
       |FROM f LEFT JOIN m ON f.event_id = m.event_id""".stripMargin

  // --- q187: q160's lookup with the standard ASOF TOLERANCE — a match
  // must be no staler than one hour (WITHIN '1 hour'): the latest
  // version at-or-before the fact wins ONLY if fact_ts − version_ts ≤
  // 1 h, else the fact counts as unmatched and drops (inner mode).
  // Models the reference's bounded-validity R2 join
  // (trsh_rep_fraud_sync.sql:27-44) and keeps enrichments from
  // matching unboundedly-stale dimensions. Same native one-pass merge
  // — the tolerance is one primitive compare inside it, not a second
  // pass (plans/AsOfJoin.scala `within`); the oracle is the rank form
  // post-filtered to the window, which is equivalent because versions
  // arrive in ts order (the latest at-or-before IS the latest within
  // the window whenever any window match exists).
  def q187(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val facts = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id").as("f_user"), col("ts").as("event_dt"))
    val vers = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"), col("event_type").as("state"))
    graft.plans.AsOfNative.join(facts, vers,
        "f_user", "event_dt", "v_user", "v_ts", "v_id",
        within = Some(3600L * 1000000L))
      .select(col("event_id"), col("f_user").as("user_id"), col("event_dt"),
        col("state"), col("v_ts").as("version_ts"))
  }

  val q187Sql: String =
    s"""$EvCte
       |SELECT event_id, user_id, event_dt, state, version_ts FROM (
       | SELECT f.event_id, f.user_id, f.ts AS event_dt,
       |  d.event_type AS state, d.ts AS version_ts,
       |  ROW_NUMBER() OVER (PARTITION BY f.event_id
       |    ORDER BY d.ts DESC, d.event_id DESC) AS rn
       | FROM ev f JOIN ev d
       |  ON f.user_id = d.user_id AND d.event_id % 2 = 1 AND d.ts <= f.ts
       | WHERE f.event_id % 2 = 0)
       |WHERE rn = 1 AND version_ts >= event_dt - INTERVAL 1 HOUR""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_asof_within" -> (q187 _),
    "q186_asof_outer" -> (q186 _),
    "q160_asof_native" -> (q160 _),
    "q159_bitemporal" -> (q159 _),
    "q84_cdc_diff"   -> (q84 _),
    "q11_scd2_build" -> (q11 _),
    "q12_asof_join"  -> (q12 _),
    "q13_scd1_merge" -> (q13 _),
    "q14_scd2_merge" -> (q14 _),
    "q15_run_log"    -> (q15 _),
    "q129_dim_chain" -> (q129 _))

  override val oracle: Map[String, String] = Map(
    "q187_asof_within" -> q187Sql,
    "q186_asof_outer" -> q186Sql,
    "q160_asof_native" -> q160Sql,
    "q159_bitemporal" -> q159Sql,
    "q84_cdc_diff"   -> q84Sql,
    "q11_scd2_build" -> q11Sql,
    "q12_asof_join"  -> q12Sql,
    "q13_scd1_merge" -> q13Sql,
    "q14_scd2_merge" -> q14Sql,
    "q15_run_log"    -> q15Sql,
    "q129_dim_chain" -> q129Sql)
}
