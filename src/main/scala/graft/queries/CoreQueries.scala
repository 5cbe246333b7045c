package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Core relational operators (SURVEY.md §2, q01–q10).
  *
  * Money aggregates are computed in decimal (deterministic across
  * engines and partition orders) and cast to double only in the final
  * projection, so the DuckDB oracle hashes identically.
  */
object CoreQueries extends QuerySet {

  private val D = DecimalType(18, 2)
  /** Decimal-exact money sum surfaced as double. */
  private def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  // --- q01: pricing summary (groupBy agg; reference's report-style agg) ---
  def q01(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(COUNT(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // --- q02: filter + projection pushed to the parquet scan ---
  def q02(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin

  // --- q03: star join, small dims broadcast (revenue by region/nation) ---
  def q03(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q03Sql: String =
    """SELECT r_name, n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      | CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // --- q04: top-k per group (deterministic tie-break on the key) ---
  def q04(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
  }

  val q04Sql: String =
    """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
      | SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rnk
      | FROM orders) t WHERE rnk <= 3""".stripMargin

  // --- q05: semi join (EXISTS — reference's blacklist membership check) ---
  def q05(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)""".stripMargin

  // --- q06: anti join (NOT EXISTS — reference's SCD insert pattern) ---
  def q06(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin

  // --- q07: rollup (multi-level aggregation) ---
  def q07(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))

  val q07Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // --- q08: distinct + conditional aggregation ---
  def q08(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"))

  val q08Sql: String =
    """SELECT o_orderpriority,
      | CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      | CAST(COUNT(*) AS BIGINT) AS n_orders,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // --- q09: incremental watermark filter (reference etl.py:190-199) ---
  def q09(s: SparkSession, dir: String): DataFrame =
    graft.operators.Incremental.newerThan(
        Tables.orders(s, dir), "o_orderdate", "2000-12-31 00:00:00")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")

  val q09Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      |FROM orders WHERE o_orderdate > TIMESTAMP '2000-12-31 00:00:00'""".stripMargin

  // --- q10: exact dedup (normalize → hash-groupBy, keep lowest id) ---
  def q10(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.exact(
      Tables.documents(s, dir),
      keyCols = Seq(lower(substring(col("text"), 1, 40)).as("norm_key")),
      idCol = col("doc_id"))

  val q10Sql: String =
    """SELECT LOWER(SUBSTR(text, 1, 40)) AS norm_key,
      | CAST(MIN(doc_id) AS BIGINT) AS keep_id,
      | CAST(COUNT(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_pushdown" -> (q02 _),
    "q03_star_join"       -> (q03 _),
    "q04_topk_per_group"  -> (q04 _),
    "q05_semi_join"       -> (q05 _),
    "q06_anti_join"       -> (q06 _),
    "q07_rollup"          -> (q07 _),
    "q08_distinct_agg"    -> (q08 _),
    "q09_incremental"     -> (q09 _),
    "q10_dedup_exact"     -> (q10 _))

  override val oracle: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_pushdown" -> q02Sql,
    "q03_star_join"       -> q03Sql,
    "q04_topk_per_group"  -> q04Sql,
    "q05_semi_join"       -> q05Sql,
    "q06_anti_join"       -> q06Sql,
    "q07_rollup"          -> q07Sql,
    "q08_distinct_agg"    -> q08Sql,
    "q09_incremental"     -> q09Sql,
    "q10_dedup_exact"     -> q10Sql)
}
