package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** OLAP widening suite (SURVEY.md §2, q34–q40): cube/pivot/grouping
  * sets, sessionization, approximate aggregates, skew-salted join, and
  * point-in-time snapshot.
  */
object OlapQueries extends QuerySet {

  private val D = DecimalType(18, 2)

  // --- q34: CUBE ---
  def q34(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))

  val q34Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  // --- q35: pivot (event value totals per user across event types) ---
  // shared with q59's unpivot so the two column sets cannot diverge
  private[queries] val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q35(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(sum(col("value").cast(D)).cast("double"))

  val q35Sql: String = {
    val cols = EventTypes.map(t =>
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS $t")
    s"""SELECT user_id, ${cols.mkString(", ")}
       |FROM events GROUP BY user_id""".stripMargin
  }

  // --- q36: approximate aggregates (HLL distinct, quantile sketch) ---
  def q36(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_price"),
        count(lit(1)).as("n_rows"))

  // --- q37: sessionization (30-minute inactivity gap) ---
  def q37(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("prv_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prv_ts").isNull ||
          col("ts") > col("prv_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(wCum))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"))
  }

  val q37Sql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
      |b AS (
      | SELECT user_id, ts, event_id,
      |  CASE WHEN LAG(ts) OVER w IS NULL
      |        OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      | SELECT user_id, ts,
      |  CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      | FROM b)
      |SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
      | MIN(ts) AS session_start
      |FROM c GROUP BY user_id, session_seq""".stripMargin

  // --- q38: GROUPING SETS (Dataset API — no temp-view registration,
  // which would mutate shared session state as a query-construction
  // side effect, racy under concurrent plan building) ---
  def q38(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D)).cast("double").as("sum_price"))

  val q38Sql: String =
    """SELECT o_orderpriority, o_orderstatus,
      | CAST(COUNT(*) AS BIGINT) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())""".stripMargin

  // --- q39: skew-salted join ≡ plain join (oracle proves equivalence) ---
  def q39(s: SparkSession, dir: String): DataFrame =
    graft.operators.SkewJoin.saltedEquiJoin(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        "l_orderkey", "o_orderkey",
        saltSource = Seq("l_orderkey", "l_linenumber"), salt = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(D)).cast("double").as("sum_price"))

  val q39Sql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // --- q40: point-in-time dimension snapshot ("as of" reconstruction) ---
  private val AsOf = "2024-01-20 12:00:00"

  def q40(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd.buildHistory(Tables.events(s, dir),
        "user_id", "ts", "event_id", Seq("event_type", "value"))
      .filter(col("effective_from") <= lit(AsOf).cast("timestamp") &&
        col("effective_to") >= lit(AsOf).cast("timestamp"))
      .select(col("user_id"), col("event_type").as("state"), col("value"),
        col("effective_from"))

  val q40Sql: String =
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
       |h AS (
       | SELECT user_id, event_type AS state, value, ts AS effective_from,
       |  COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MICROSECOND,
       |           TIMESTAMP '9999-12-31 00:00:00') AS effective_to
       | FROM ev)
       |SELECT user_id, state, value, effective_from
       |FROM h WHERE effective_from <= TIMESTAMP '$AsOf'
       | AND effective_to >= TIMESTAMP '$AsOf'""".stripMargin

  // --- q75: supplier/part revenue star — the 4-way dim join (fact
  // lineitem ⋈ supplier ⋈ nation ⋈ part). All three dims broadcast; the
  // fact is scanned once with only 4 columns read. Top revenue per
  // (nation, brand) with deterministic ordering.
  def q75(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("n_name"), col("p_brand"))
      .agg(
        // q01's proven decimal-parity formulation: product at full
        // precision, decimal sum, surfaced as double
        sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  val q75Sql: String =
    """SELECT n_name, p_brand,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      | CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN part ON l_partkey = p_partkey
      |GROUP BY n_name, p_brand""".stripMargin

  // --- q83: bloom-prefiltered semi-join ≡ plain EXISTS (oracle proves
  // equivalence). The dim (negative-balance customers — the repo's
  // blacklist notion, q05/q16) builds a bloom filter in one small-side
  // aggregation; the fact table is pruned MAP-SIDE by a codegen'd probe
  // before the exact semi-join removes the bloom's false positives —
  // the explicit runtime-filter pattern for 100 TB facts vs selective
  // dims (see operators.BloomJoin).
  def q83(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir)
      .filter(col("c_acctbal") < 0).select("c_custkey")
    graft.operators.BloomJoin.semiJoin(
        Tables.orders(s, dir), dim, "o_custkey", "c_custkey",
        expectedDimKeys = 100000L, fpp = 0.01)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D)).cast("double").as("sum_total"))
  }

  val q83Sql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM customer c
      |              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
      |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_bloom_join"    -> (q83 _),
    "q34_cube"          -> (q34 _),
    "q35_pivot"         -> (q35 _),
    "q36_approx_agg"    -> (q36 _),
    "q37_sessionize"    -> (q37 _),
    "q38_grouping_sets" -> (q38 _),
    "q39_salted_join"   -> (q39 _),
    "q40_pit_snapshot"  -> (q40 _),
    "q75_supplier_part" -> (q75 _))

  override val oracle: Map[String, String] = Map(
    "q83_bloom_join"    -> q83Sql,
    "q34_cube"          -> q34Sql,
    "q35_pivot"         -> q35Sql,
    "q37_sessionize"    -> q37Sql,
    "q38_grouping_sets" -> q38Sql,
    "q39_salted_join"   -> q39Sql,
    "q40_pit_snapshot"  -> q40Sql,
    "q75_supplier_part" -> q75Sql)
}
