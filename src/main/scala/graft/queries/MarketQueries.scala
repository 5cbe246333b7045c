package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-8 widening, eighth batch: market-structure analytics over the
  * star schema's product/supplier dims (the procurement counterpart of
  * the customer-side q143/q148/q151).
  *
  * q152 profiles price dispersion per brand, q153 measures supplier
  * revenue concentration per product type (the Herfindahl–Hirschman
  * index every competition audit starts with), and q154 mines
  * co-purchased part pairs with lift (market-basket affinity — the
  * cross-sell staple).
  *
  * Compare surface: integer cents/counts; shares and lift as
  * fixed-point integer DIV (the floor-ppm house convention — both
  * engines run the identical integer op sequence).
  */
object MarketQueries extends QuerySet {

  // Cache ownership ([[graft.util.CacheTracker]]): q154 persists its
  // basket frame across the order-census / part-count / pair-explode
  // consumers.
  private val caches = new graft.util.CacheTracker

  // --- q152: price-dispersion audit per brand — list-price spread of a
  // brand's catalog plus its realized lineitem revenue. Shape: part is
  // a DIM (broadcast at test scale, co-keyed at 100 TB where the part
  // population grows with the catalog); revenue folds in the same
  // partkey groupBy before the ≤ |brands| rollup. spread_ppm =
  // (max−min)·1e6 DIV min on integer cents.
  def q152(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"),
      round(col("p_retailprice") * 100).cast("bigint").as("rp_cents"))
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("rev_cents"),
        count(lit(1)).as("n_lines"))
    p.join(rev, p("p_partkey") === rev("l_partkey"), "left")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        min("rp_cents").as("min_cents"),
        max("rp_cents").as("max_cents"),
        sum("rp_cents").as("sum_cents"),
        sum(coalesce(col("rev_cents"), lit(0L))).as("rev_cents"),
        sum(coalesce(col("n_lines"), lit(0L))).as("n_lines"))
      .withColumn("spread_ppm",
        expr("((max_cents - min_cents) * 1000000) DIV min_cents"))
  }

  val q152Sql: String =
    """WITH p AS (
      | SELECT p_partkey, p_brand,
      |  CAST(ROUND(p_retailprice * 100) AS BIGINT) AS rp_cents
      | FROM part),
      |r AS (
      | SELECT l_partkey,
      |  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev_cents,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      | FROM lineitem GROUP BY 1)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
      | MIN(rp_cents) AS min_cents, MAX(rp_cents) AS max_cents,
      | CAST(SUM(rp_cents) AS BIGINT) AS sum_cents,
      | CAST(SUM(COALESCE(r.rev_cents, 0)) AS BIGINT) AS rev_cents,
      | CAST(SUM(COALESCE(r.n_lines, 0)) AS BIGINT) AS n_lines,
      | CAST(((MAX(rp_cents) - MIN(rp_cents)) * 1000000) // MIN(rp_cents)
      |   AS BIGINT) AS spread_ppm
      |FROM p LEFT JOIN r ON p.p_partkey = r.l_partkey
      |GROUP BY 1""".stripMargin

  // --- q153: supplier revenue concentration per product type — the
  // HHI competition audit (who controls each product segment). Revenue
  // folds per (type, supplier) in ONE shuffle (part dim broadcast onto
  // the lineitem scan), shares are basis-point floors ((rev·1e4) DIV
  // total — the deterministic cross-engine convention; both engines
  // floor identically), HHI = Σ share² ∈ [0, 1e8]. Output ≤ |types|
  // rows with the top supplier's share alongside.
  def q153(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
    val bySupp = Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("rev"))
    val tot = bySupp.groupBy("p_type").agg(sum("rev").as("tot"),
      count(lit(1)).as("n_suppliers"))
    bySupp.join(tot, "p_type")
      .withColumn("share_bp", expr("(rev * 10000) DIV tot"))
      .groupBy("p_type")
      .agg(max("n_suppliers").as("n_suppliers"),
        max("tot").as("rev_cents"),
        sum(col("share_bp") * col("share_bp")).as("hhi"),
        max("share_bp").as("top_share_bp"))
  }

  val q153Sql: String =
    """WITH j AS (
      | SELECT p.p_type, l.l_suppkey,
      |  SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rev
      | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      | GROUP BY 1, 2),
      |t AS (SELECT p_type, SUM(rev) AS tot, CAST(COUNT(*) AS BIGINT)
      |        AS n_suppliers FROM j GROUP BY 1),
      |sh AS (SELECT j.p_type, (rev * 10000) // tot AS share_bp, t.tot,
      |        t.n_suppliers FROM j JOIN t USING (p_type))
      |SELECT p_type, MAX(n_suppliers) AS n_suppliers,
      | CAST(MAX(tot) AS BIGINT) AS rev_cents,
      | CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi,
      | CAST(MAX(share_bp) AS BIGINT) AS top_share_bp
      |FROM sh GROUP BY 1""".stripMargin

  /** q154: top-k pair count (deterministic (support, pa, pb) order),
    * and the basket-width cap that BOUNDS the self-join: an order with
    * more distinct parts than this is excluded from pairing (pair work
    * is quadratic in basket width — a pathological mega-order, e.g. a
    * consolidated B2B dump, must not plan O(width²) rows into one
    * task). Test baskets max out at ~13; the cap is the enforced scale
    * contract, not a tuning knob.
    */
  val BasketTopK = 20
  val MaxBasketParts = 1000L

  // --- q154: market-basket part-pair affinity — co-purchase support
  // and lift for the top pairs. The pair source is the per-order BASKET
  // (sorted distinct part array, built by ONE collect_set shuffle on
  // orderkey — the set dedups (order, part) inside the same
  // aggregation); pairs explode map-side from the array, so per-task
  // work stays bounded by basket width (≤ tens of parts per order, a
  // data contract that holds at any corpus scale — the MaxBasketParts
  // filter excludes a pathological mega-order before any quadratic
  // work). The r13 self-join form re-planned the distinct (order, part)
  // subtree for every reference — TWENTY lineitem scans in the physical
  // plan (guide §2.4: remove shuffles outright / share one exchange);
  // the basket frame is persisted across its three consumers (order
  // census, part counts, pair explode) instead. Support counts fold in
  // one (pa, pb) shuffle; lift_ppm = (support·n_orders·1e6) DIV
  // (cnt_a·cnt_b) — int64-exact while support·n_orders < 2^43 (the
  // q126 ANSI-loud contract; lift the factors to decimal(38,0) past
  // it). Top-20 by (support desc, pa, pb) plans as TakeOrdered — a
  // distributed per-partition top-k merge.
  def q154(s: SparkSession, dir: String): DataFrame = {
    val baskets = caches.trackPersist(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("pks"))
        .filter(size(col("pks")) <= MaxBasketParts))
    val nOrders = baskets.select(count(lit(1)).as("n_orders"))
    val partCnt = baskets.select(explode(col("pks")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("cnt"))
    // all i<j pairs of the sorted array — pa < pb by construction, each
    // unordered pair once per order (the exact self-join semantics)
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(pks, (x, i) -> " +
          "transform(slice(pks, i + 2, size(pks) - i - 1), " +
          "y -> struct(x AS pa, y AS pb))))")).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("support"))
    pairs
      .join(partCnt.withColumnRenamed("pk", "pa").withColumnRenamed("cnt", "cnt_a"), "pa")
      .join(partCnt.withColumnRenamed("pk", "pb").withColumnRenamed("cnt", "cnt_b"), "pb")
      .crossJoin(broadcast(nOrders))
      .withColumn("lift_ppm",
        expr("(support * n_orders * 1000000) DIV (cnt_a * cnt_b)"))
      .orderBy(col("support").desc, col("pa").asc, col("pb").asc)
      .limit(BasketTopK)
      .select(col("pa"), col("pb"), col("support"), col("cnt_a"), col("cnt_b"),
        col("lift_ppm"))
  }

  val q154Sql: String =
    s"""WITH op0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |nw AS (SELECT ok FROM op0 GROUP BY 1 HAVING COUNT(*) <= $MaxBasketParts),
       |op AS (SELECT op0.* FROM op0 JOIN nw USING (ok)),
       |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
       |pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS cnt FROM op GROUP BY 1),
       |pr AS (
       | SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS support
       | FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       | GROUP BY 1, 2)
       |SELECT pa, pb, support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       | CAST((support * n.n_orders * 1000000) // (ca.cnt * cb.cnt) AS BIGINT)
       |   AS lift_ppm
       |FROM pr JOIN pc ca ON pr.pa = ca.pk JOIN pc cb ON pr.pb = cb.pk
       |CROSS JOIN n
       |ORDER BY support DESC, pa ASC, pb ASC LIMIT $BasketTopK""".stripMargin

  // --- q184: discount sensitivity per brand — the least-squares slope
  // of quantity on discount across a brand's line items (positive:
  // discounts move volume; ~zero: discounting buys nothing): the
  // market-structure read behind promotion planning, and the q180
  // integer-slope posture applied to the FACT side. x = discount in
  // permille (the 0.01 price grid ×1000 — tie-free near-integer
  // ROUND, posture 2), y = quantity (integral-valued double, exact
  // ROUND); the slope ships as exact integer num/den. Shape: one
  // lineitem pass joined to the BROADCAST part dim, map-side-combined
  // groupBy(brand) — the sums are partial-aggregable, no window at
  // all. Long bound: n·Σxy ~ |lines/brand|²·5e3 — safe through ~1e6
  // lines per brand (beyond: centi-discount units).
  def q184(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        expr("cast(round(l_discount * 1000) as bigint)").as("x"),
        expr("cast(round(l_quantity) as bigint)").as("y"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        (count(lit(1)) * sum(expr("x * y")) - sum("x") * sum("y"))
          .cast("long").as("slope_num"),
        (count(lit(1)) * sum(expr("x * x")) - sum("x") * sum("x"))
          .cast("long").as("slope_den"))
  }

  val q184Sql: String =
    """WITH x AS (
      | SELECT p.p_brand,
      |  CAST(ROUND(l.l_discount * 1000) AS BIGINT) AS x,
      |  CAST(ROUND(l.l_quantity) AS BIGINT) AS y
      | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
      | CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
      | CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den
      |FROM x GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q152_price_spread" -> (q152 _),
    "q153_hhi"          -> (q153 _),
    "q154_basket_pairs" -> (q154 _),
    "q184_discount_sensitivity" -> (q184 _))

  override val oracle: Map[String, String] = Map(
    "q152_price_spread" -> q152Sql,
    "q153_hhi"          -> q153Sql,
    "q154_basket_pairs" -> q154Sql,
    "q184_discount_sensitivity" -> q184Sql)
}
