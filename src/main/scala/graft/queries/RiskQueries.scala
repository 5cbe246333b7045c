package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-8 widening, seventh batch: per-entity risk calibration.
  *
  * q150 flags purchases that are outliers AGAINST THE USER'S OWN
  * HISTORY (the per-account baseline the global 3σ of q60 and the
  * per-type MAD of q120 both miss: $500 is routine for a whale and an
  * alarm for a student), and q151 profiles fulfillment latency
  * percentiles per order priority from the order↔lineitem join — the
  * SLA readout, built on the bounded distinct-day histogram so no
  * priority ever sorts its share of the corpus.
  *
  * Compare surface: exact integer cents/days/ranks only.
  */
object RiskQueries extends QuerySet {

  // Cache ownership ([[graft.util.CacheTracker]]): q151 persists its
  // bounded ship-latency histogram across two consumers.
  private val caches = new graft.util.CacheTracker

  /** q150 contract: ≥ MinHistory purchases before a user's own σ is
    * trusted; flag when (c·n − s)² > 9·(n·ssq − s²) — the exact
    * integer cross-multiplied form of |c − μ| > 3σ (population σ, the
    * flagged event included). int64-exact while cents·n < 2^31.5-ish
    * per factor (n·ssq < 2^63); ANSI mode fails loudly past it (the
    * q126 contract) — past that bound lift the three sums to
    * decimal(38,0) on both engines.
    */
  val MinHistory = 5

  // --- q150: self-calibrated outlier purchases. Shape: one per-user
  // aggregate of (n, Σc, Σc²) — the SAME high-cardinality user shuffle
  // the purchase stream re-joins co-keyed (stats frame is user-sized,
  // never broadcast-able at population scale but co-partitioned by
  // construction) — then a map-side exact-integer filter. No window,
  // no sort, no floats.
  def q150(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val st = p.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_c"),
        sum(col("cents") * col("cents")).as("ssq"))
      .filter(col("n") >= MinHistory)
    val dev = col("cents") * col("n") - col("sum_c")
    p.join(st, "user_id")
      .filter(dev * dev > lit(9L) * (col("n") * col("ssq") - col("sum_c") * col("sum_c")))
      .select(col("user_id"), col("event_id"), col("cents"),
        col("n").cast("bigint").as("n"), col("sum_c"))
  }

  val q150Sql: String =
    s"""WITH p AS (
       | SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
       | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |st AS (
       | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(cents) AS BIGINT) AS sum_c,
       |  CAST(SUM(cents * cents) AS BIGINT) AS ssq
       | FROM p GROUP BY 1 HAVING COUNT(*) >= $MinHistory)
       |SELECT p.user_id, p.event_id, p.cents, st.n, st.sum_c
       |FROM p JOIN st USING (user_id)
       |WHERE (p.cents * st.n - st.sum_c) * (p.cents * st.n - st.sum_c)
       |  > 9 * (st.n * st.ssq - st.sum_c * st.sum_c)""".stripMargin

  // --- q151: fulfillment-latency percentiles per order priority — the
  // SLA dashboard over the order↔lineitem join (the one fact⋈fact
  // shape q143 audits for value, profiled here for time). Latency =
  // ship date − order date in exact integer days; p50/p90 via the
  // house rank convention on the (priority, distinct-day) histogram
  // (q136's shape: value v covering cumulative ranks (C−cnt, C] holds
  // rank k iff C−cnt < k ≤ C, k_p = ceil(p·n/100)) — the cumulative
  // window runs over the bounded day frame, never the corpus; the join
  // itself is co-keyed on orderkey.
  def q151(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
      col("o_orderdate").cast("date").as("od"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_shipdate").cast("date").as("sd"))
    // persisted: the bounded (priority × ship-delay-days) histogram is
    // referenced by the n census AND the cumulative-window chain — each
    // reference otherwise re-ran the lineitem⋈orders join (guide §2.4)
    val hist = caches.trackPersist(
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderpriority"), datediff(col("sd"), col("od")).cast("bigint").as("d"))
        .groupBy("o_orderpriority", "d").agg(count(lit(1)).as("cnt")))
    val n = hist.groupBy("o_orderpriority").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("o_orderpriority").orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(n), Seq("o_orderpriority"))
      .withColumn("k50", expr("(50 * n + 99) DIV 100"))
      .withColumn("k90", expr("(90 * n + 99) DIV 100"))
      .groupBy("o_orderpriority")
      .agg(max(col("n")).as("n_lines"),
        min(col("d")).as("min_days"),
        max(when(col("cum") - col("cnt") < col("k50") && col("k50") <= col("cum"),
          col("d"))).as("p50_days"),
        max(when(col("cum") - col("cnt") < col("k90") && col("k90") <= col("cum"),
          col("d"))).as("p90_days"),
        max(col("d")).as("max_days"))
  }

  val q151Sql: String =
    """WITH j AS (
      | SELECT o.o_orderpriority,
      |  CAST(DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
      |                 CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d
      | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |n AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY 1),
      |r AS (
      | SELECT j.o_orderpriority, d,
      |  ROW_NUMBER() OVER (PARTITION BY j.o_orderpriority ORDER BY d ASC) AS rk, n.n
      | FROM j JOIN n USING (o_orderpriority))
      |SELECT o_orderpriority, MAX(n) AS n_lines,
      | CAST(MIN(d) AS BIGINT) AS min_days,
      | CAST(MAX(CASE WHEN rk = (50 * n + 99) // 100 THEN d END) AS BIGINT) AS p50_days,
      | CAST(MAX(CASE WHEN rk = (90 * n + 99) // 100 THEN d END) AS BIGINT) AS p90_days,
      | CAST(MAX(d) AS BIGINT) AS max_days
      |FROM r GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q150_self_outlier" -> (q150 _),
    "q151_ship_latency" -> (q151 _))

  override val oracle: Map[String, String] = Map(
    "q150_self_outlier" -> q150Sql,
    "q151_ship_latency" -> q151Sql)
}
