package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.RangeJoin
import graft.sources.Tables

/** Round-2 widening (SURVEY.md §2, q41–q48): keyless range join, the
  * full analytic-window function surface, exact percentiles, set
  * operations, correlated-subquery semantics, time-series gap fill,
  * TF-IDF scoring, and semi-structured JSON extraction. All eight are
  * oracle-checked.
  */
object ExtendedQueries extends QuerySet {

  private val D = DecimalType(18, 2)

  // --- q41: keyless range join (priority launch windows ⋈ shipments) ---
  // Each order priority gets a 30-day window from its first order date;
  // count lineitems shipped inside each window. The interval side is
  // metadata-sized; the fact side maps to one month-bucket per row.
  def q41(s: SparkSession, dir: String): DataFrame = {
    val windows = Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(min(col("o_orderdate")).as("win_start"))
      .withColumn("win_end", col("win_start") + expr("INTERVAL 30 DAYS"))
    RangeJoin.pointInInterval(
        Tables.lineitem(s, dir).select("l_shipdate", "l_quantity"),
        "l_shipdate", windows, "win_start", "win_end", "month")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"))
  }

  val q41Sql: String =
    """WITH w AS (
      | SELECT o_orderpriority, MIN(o_orderdate) AS win_start,
      |        MIN(o_orderdate) + INTERVAL 30 DAY AS win_end
      | FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN w
      |  ON l_shipdate >= win_start AND l_shipdate <= win_end
      |GROUP BY o_orderpriority""".stripMargin

  // --- q42: analytic window-function suite over per-customer orders ---
  // The (o_orderdate, o_orderkey) order is UNIQUE per partition, so
  // percent_rank = (rn-1)/(n-1) and cume_dist = rn/n exactly; both are
  // emitted as exact-integer ppm via DIV — no double anywhere on the
  // compare surface (ROUND(double, 6) is the r7 engine-version hash-fail
  // class; the rank/count identities make this one fully rational).
  def q42(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wp = Window.partitionBy("o_custkey")
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      row_number().over(w).as("rn"),
      ntile(4).over(w).as("quartile"),
      count(lit(1)).over(wp).as("n"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"))
      // rn is IntegerType: promote BEFORE the ×1e6 or the product wraps
      // silently past rn ≈ 2147 in non-ANSI mode while the BIGINT-native
      // oracle doesn't — a silent cross-engine divergence at scale
      .withColumn("pct_rank_ppm",
        expr("CASE WHEN n = 1 THEN CAST(0 AS BIGINT) " +
          "ELSE ((CAST(rn AS BIGINT) - 1) * 1000000) DIV (n - 1) END"))
      .withColumn("cdist_ppm", expr("(CAST(rn AS BIGINT) * 1000000) DIV n"))
      .drop("n")
  }

  val q42Sql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(ROW_NUMBER() OVER w AS INT) AS rn,
      | CAST(NTILE(4) OVER w AS INT) AS quartile,
      | LAG(o_totalprice, 1) OVER w AS prev_price,
      | LEAD(o_totalprice, 1) OVER w AS next_price,
      | CAST(CASE WHEN COUNT(*) OVER p = 1 THEN 0
      |   ELSE ((ROW_NUMBER() OVER w - 1) * 1000000) // (COUNT(*) OVER p - 1)
      |   END AS BIGINT) AS pct_rank_ppm,
      | CAST((ROW_NUMBER() OVER w * 1000000) // COUNT(*) OVER p AS BIGINT) AS cdist_ppm
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       p AS (PARTITION BY o_custkey)""".stripMargin

  // --- q43: exact percentiles per group (linear interpolation) ---
  // Prices live on a cents grid and the quartile interpolation fraction
  // is in {0, .25, .5, .75}, so every true percentile lies EXACTLY on a
  // quarter-cent grid. The compare surface is that integer (value*400
  // rounded): a near-integer double rounds tie-free — engines can differ
  // only in the last ulps, never across the .5 midpoint — where a
  // ROUND(double, 4) decimal-places surface depends on each engine's
  // decimal-rounding implementation (the r7 hash-fail class).
  def q43(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)") * 400).cast("long").as("p25_qc"),
        round(expr("percentile(l_extendedprice, 0.5)") * 400).cast("long").as("p50_qc"),
        round(expr("percentile(l_extendedprice, 0.75)") * 400).cast("long").as("p75_qc"),
        round(min(col("l_extendedprice")) * 100).cast("long").as("lo_cents"),
        round(max(col("l_extendedprice")) * 100).cast("long").as("hi_cents"))

  val q43Sql: String =
    """SELECT l_returnflag,
      | CAST(ROUND(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice) * 400) AS BIGINT) AS p25_qc,
      | CAST(ROUND(PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) * 400) AS BIGINT) AS p50_qc,
      | CAST(ROUND(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_extendedprice) * 400) AS BIGINT) AS p75_qc,
      | CAST(ROUND(MIN(l_extendedprice) * 100) AS BIGINT) AS lo_cents,
      | CAST(ROUND(MAX(l_extendedprice) * 100) AS BIGINT) AS hi_cents
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --- q44: set operations (INTERSECT / EXCEPT, set semantics) ---
  // Building-segment customers who have ordered, minus delinquent ones.
  def q44(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val haveOrdered = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
    val delinquent = c.filter(col("c_acctbal") < 0).select("c_custkey")
    building.intersect(haveOrdered).except(delinquent)
  }

  val q44Sql: String =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT o_custkey AS c_custkey FROM orders
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal < 0""".stripMargin

  // --- q45: correlated-subquery semantics (above-nation-average) ---
  // DuckDB states it as a correlated scalar subquery; the scalable Spark
  // plan is a broadcast join against the per-nation aggregate. Balances
  // live on a cents grid, so BOTH the membership test and the compare
  // surface are exact integers: cents·n > sum_cents replaces the double
  // comparison (no ulp-flip possible) and the published average is
  // micro-dollars by integer DIV — no ROUND(double) anywhere (the r7
  // engine-version hash-fail class). sum_cents·10⁴ fits int64 up to
  // ~9·10¹⁴ cents per nation; past that lift to DECIMAL(38,0) (ANSI
  // mode fails loudly rather than wrapping — the q126 contract).
  def q45(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .withColumn("cents", round(col("c_acctbal") * 100).cast("long"))
    // divisor counts NON-NULL balances, matching AVG's null-exclusion
    val natAvg = c.groupBy("c_nationkey")
      .agg(sum(col("cents")).as("sc"), count(col("cents")).as("n"))
    c.join(broadcast(natAvg), Seq("c_nationkey"))
      .filter(col("cents") * col("n") > col("sc"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        expr("(sc * 10000) DIV n").as("nation_avg_micro"))
  }

  val q45Sql: String =
    """WITH c AS (SELECT c_custkey, c_nationkey, c_acctbal,
      |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
      |na AS (
      | SELECT c_nationkey, SUM(cents) AS sc, COUNT(cents) AS n
      | FROM c GROUP BY c_nationkey)
      |SELECT c_custkey, c1.c_nationkey, c_acctbal,
      | CAST((sc * 10000) // n AS BIGINT) AS nation_avg_micro
      |FROM c c1 JOIN na ON c1.c_nationkey = na.c_nationkey
      |WHERE cents * n > sc""".stripMargin

  // --- q46: time-series gap fill (dense daily grid, zero-filled) ---
  def q46(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val days = ev.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val types = ev.select(col("event_type")).distinct()
    val counts = ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    days.crossJoin(types)
      .join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  val q46Sql: String =
    """WITH bounds AS (
      | SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
      |days AS (SELECT UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS day FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      | SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      | FROM events GROUP BY 1, 2)
      |SELECT CAST(days.day AS DATE) AS day, types.event_type,
      | CAST(COALESCE(counts.n, 0) AS BIGINT) AS n_events
      |FROM days CROSS JOIN types
      |LEFT JOIN counts ON counts.day = CAST(days.day AS DATE)
      |  AND counts.event_type = types.event_type""".stripMargin

  // --- q47: TF-IDF top terms per document (integer tie-safe ranking) ---
  // Ranking orders by (tf DESC, df ASC, token ASC) — all integers/strings,
  // so cross-engine float noise in ln() cannot flip ranks.
  def q47(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val tokens = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("token"))
      .filter(length(col("token")) >= 3)
    val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      // FLOOR fixed-point micro-units, not ROUND(double, 6): FLOOR of
      // bit-identical doubles never tie-breaks across engines, while
      // decimal rounding semantics shifted across DuckDB versions (the
      // r7 hash-fail class). LN is the one libm call; a last-ulp
      // difference flips the floor only within ~1e-10 of a grid point
      // (the q114 contract).
      .withColumn("tfidf_micro",
        floor(lit(1e6) * col("tf") * log(col("n_docs").cast("double") / col("df")))
          .cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("tfidf_micro"), col("rnk"))
  }

  val q47Sql: String =
    """WITH toks AS (
      | SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS token
      | FROM documents),
      |t3 AS (SELECT doc_id, token FROM toks WHERE LEN(token) >= 3),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t3 GROUP BY 1, 2),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      | SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
      |  CAST(df.df AS BIGINT) AS df,
      |  CAST(FLOOR(1000000.0 * tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df)) AS BIGINT) AS tfidf_micro,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |       ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS INT) AS rnk
      | FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, token, tf, df, tfidf_micro, rnk FROM scored WHERE rnk <= 5""".stripMargin

  // --- q48: semi-structured JSON extraction + aggregation ---
  def q48(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        // exact integer average: cents sum / non-null count via DIV —
        // order-independent AND engine-version-proof (ROUND(double, 6)
        // is the r7 hash-fail class); NULLs excluded from the divisor
        // like AVG. int64-safe to ~9·10¹⁴ summed cents per key.
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        count(col("value")).as("n_vals"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("avg_value_micro", expr("(sum_cents * 10000) DIV n_vals"))
      .drop("sum_cents", "n_vals")

  val q48Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
      | CAST(COUNT(*) AS BIGINT) AS n_events,
      | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      | CAST((SUM(CAST(ROUND(value * 100) AS BIGINT)) * 10000) // COUNT(value) AS BIGINT)
      |   AS avg_value_micro
      |FROM events GROUP BY 1""".stripMargin

  // --- q49: IVF ANN (KMeans coarse quantizer; rows-only — not SQL).
  // indexKey shares the session's cell-assigned corpus with q122's
  // recall eval — one stored IVF index per corpus, every probe batch
  // queries it (the verifiedPairs warehouse posture).
  def q49(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.operators.Similarity.ivfTopK(e, e.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4,
      indexKey = Some(dir))
  }

  // --- q50: keep-first dedup (first event per user+type) ---
  def q50(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("ts").as("first_ts"), col("event_id").as("first_event_id"))
  }

  val q50Sql: String =
    """SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS first_ts,
      | event_id AS first_event_id
      |FROM (SELECT user_id, event_type, ts, event_id,
      |       ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                          ORDER BY ts, event_id) AS rn
      |      FROM events) t
      |WHERE rn = 1""".stripMargin

  // --- q51: embedding centroid analytics per label ---
  // Element-wise centroid via posexplode + per-(label,pos) mean, then
  // each vector's cosine to its label centroid — all in native
  // functions; the oracle rebuilds the centroid with UNNEST+ORDINALITY.
  def q51(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    // raw double avg: accepted determinism risk — per-(label,pos) groups
    // are small and values O(1), so partition-order accumulation noise
    // (~1e-15 rel) cannot reach the 1e-6 rounding boundary downstream;
    // decimal-summing would truncate the embeddings' full mantissas
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg(col("x")).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), expr("transform(pm, p -> p.m)").as("centroid"))
    e.join(broadcast(cent), Seq("label"))
      .withColumn("cos", graft.functions.VectorFunctions.cosine(col("v"), col("centroid")))
      .groupBy("label")
      // FLOOR fixed-point, not ROUND(double, 6): identical doubles floor
      // identically on every engine version, while decimal rounding
      // tie-breaks differ (the r7 hash-fail class). The boundary risk of
      // the documented ~1e-15 accumulation noise is the same measure as
      // ROUND's tie risk — this trades no robustness for version-proofness.
      .agg(count(lit(1)).as("n_vectors"),
        floor(lit(1e6) * avg(col("cos"))).cast("long").as("avg_cos_micro"),
        floor(lit(1e6) * min(col("cos"))).cast("long").as("min_cos_micro"))
  }

  val q51Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT label, UNNEST(v) AS x,
      |       UNNEST(GENERATE_SERIES(1, CAST(LEN(v) AS BIGINT))) AS pos FROM e),
      |cent AS (SELECT label, LIST(m ORDER BY pos) AS centroid
      |         FROM (SELECT label, pos, AVG(x) AS m FROM ex GROUP BY label, pos)
      |         GROUP BY label),
      |sc AS (SELECT e.label,
      |        LIST_DOT_PRODUCT(v, centroid) /
      |         (SQRT(LIST_DOT_PRODUCT(v, v)) * SQRT(LIST_DOT_PRODUCT(centroid, centroid))) AS cos
      |       FROM e JOIN cent ON e.label = cent.label)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
      | CAST(FLOOR(1000000.0 * AVG(cos)) AS BIGINT) AS avg_cos_micro,
      | CAST(FLOOR(1000000.0 * MIN(cos)) AS BIGINT) AS min_cos_micro
      |FROM sc GROUP BY label""".stripMargin

  // --- q52: sliding-window aggregation (1h window, 15min slide) ---
  // Spark's window() assigns each event to size/slide overlapping
  // windows; the oracle reproduces the epoch-aligned window set by
  // enumerating the 4 candidate starts per event.
  def q52(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("sum_value"))

  val q52Sql: String =
    """WITH cand AS (
      | SELECT value,
      |  TIME_BUCKET(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
      |    - UNNEST([0, 1, 2, 3]) * INTERVAL '15 minutes' AS window_start,
      |  CAST(ts AS TIMESTAMP) AS tts
      | FROM events)
      |SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM cand
      |WHERE tts >= window_start AND tts < window_start + INTERVAL '1 hour'
      |GROUP BY window_start""".stripMargin

  // --- q53: histogram via width_bucket ---
  def q53(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(12L))
        .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"))

  // explicit width_bucket arithmetic — this DuckDB build has no
  // WIDTH_BUCKET function
  val q53Sql: String =
    """SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
      |      WHEN o_totalprice >= 600000.0 THEN 13
      |      ELSE FLOOR(o_totalprice / 50000.0) + 1 END AS BIGINT) AS bucket,
      | CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin

  // --- q54: arg-max aggregation (max_by with a total-order key) ---
  // The comparison key is (price, orderkey) — a total order, so the
  // selected order is unique and engine-independent.
  def q54(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("top_order"),
        max(col("o_totalprice")).as("top_price"))

  // composite ARG_MAX is unsupported here; the lexicographic-max pick is
  // reproduced with a (price DESC, key DESC) window — the same total
  // order max_by(struct) maximizes
  val q54Sql: String =
    """WITH r AS (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn,
      |  MAX(o_totalprice) OVER (PARTITION BY o_custkey) AS top_price
      | FROM orders)
      |SELECT o_custkey, o_orderkey AS top_order, top_price
      |FROM r WHERE rn = 1""".stripMargin

  // --- q55: near-dup clusters (connected components over 0.65-Jaccard
  // pairs — tighter than q21's 0.6 exploration threshold, which chains
  // half the corpus into one giant high-diameter component; 0.65 keeps
  // genuine template families with small diameters) ---
  // (shared with CorpusQueries.q95's canonical-doc selection, which
  // builds on q55's cluster assignment)
  // Pair source: the session-shared recall-budgeted LSH+verify frame
  // (DedupQueries.verifiedPairs) — oracle-equal to the exact all-pairs
  // result and the 100 TB contract shape; the whole cluster family
  // (q55/q95/q190/q191) reads ONE stored pair table per session.
  val ClusterT = 0.65

  def q55(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dedupClusters(
      DedupQueries.verifiedPairs(s, dir, ClusterT).select("id_a", "id_b"),
      "id_a", "id_b")

  // transitive closure by recursive CTE (UNION dedups, so it terminates);
  // cluster id = min reachable node — same fixpoint the iterative Spark
  // label propagation converges to
  /** CTE chain whose final relation `cl(node, cluster)` is q55's cluster
    * assignment (transitive closure, cluster id = min reachable node —
    * the fixpoint the Spark union-find / label propagation reaches).
    * Shared with CorpusQueries.q95's canonical-doc selection.
    */
  val clustersCteSql: String = {
    val pairs = DedupQueries.ngramPairsSql(ClusterT)
    s"""pairs AS ($pairs),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM pairs
       | UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |walk AS (
       | WITH RECURSIVE w(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT w.node, e.dst FROM w JOIN edges e ON e.src = w.r)
       | SELECT node, r FROM w),
       |cl AS (SELECT node, MIN(r) AS cluster FROM walk GROUP BY node)""".stripMargin
  }

  val q55Sql: String =
    s"WITH $clustersCteSql\nSELECT node, cluster FROM cl"

  // --- q56: BPE-style pre-tokenization token counts ---
  def q56(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      graft.functions.TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_ws"))

  val q56Sql: String =
    """SELECT doc_id,
      | CAST(LEN(REGEXP_EXTRACT_ALL(text,
      |   '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s'']+')) AS BIGINT) AS n_bpe,
      | CAST(CASE WHEN LEN(TRIM(text)) = 0 THEN 0 ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END AS BIGINT) AS n_ws
      |FROM documents""".stripMargin

  // --- q57: multimodal frame sampling (binary windows; stats oracle) ---
  // The Spark side genuinely slices binary frames (256B windows, 128B
  // stride); the oracle validates the frame count and byte totals from
  // length arithmetic (documents are ASCII, so LEN == byte length).
  def q57(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.frameSample(
        Tables.documents(s, dir).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", frameBytes = 256, strideBytes = 128)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("frame")).cast("long")).as("frame_bytes"))

  val q57Sql: String =
    """SELECT doc_id,
      | CAST(FLOOR((LEN(text) - 256) / 128) + 1 AS BIGINT) AS n_frames,
      | CAST((FLOOR((LEN(text) - 256) / 128) + 1) * 256 AS BIGINT) AS frame_bytes
      |FROM documents WHERE LEN(text) >= 256""".stripMargin

  // --- q58: single-pass column profiling (data-quality audit) ---
  // All per-column stats come from ONE aggregation over one scan, then
  // unpivot to long form — the per-column-query formulation (the
  // oracle's UNION ALL) would scan the table once per column.
  private val ProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  def q58(s: SparkSession, dir: String): DataFrame = {
    val aggs = ProfileCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"))
    }
    val wide = Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
    val stackExpr = ProfileCols.map { c =>
      s"'$c', ${c}__n, ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max"
    }.mkString(", ")
    wide.selectExpr(s"stack(${ProfileCols.length}, $stackExpr) AS " +
      "(col_name, n_values, n_nulls, n_distinct, vmin, vmax)")
  }

  val q58Sql: String = ProfileCols.map { c =>
    s"""SELECT '$c' AS col_name, CAST(COUNT($c) AS BIGINT) AS n_values,
       | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
       | MIN($c) AS vmin, MAX($c) AS vmax FROM lineitem""".stripMargin
  }.mkString("\nUNION ALL\n")

  // --- q59: unpivot (melt) — inverse of the q35 pivot round-trips to
  // the direct long-form aggregation ---
  def q59(s: SparkSession, dir: String): DataFrame =
    OlapQueries.q35(s, dir)
      .unpivot(Array(col("user_id")), OlapQueries.EventTypes.map(col).toArray,
        "event_type", "total")
      .filter(col("total").isNotNull)

  // HAVING mirrors the unpivot's isNotNull filter: after a pivot,
  // "no events of this type" and "events with all-NULL values" are both
  // a NULL cell, so the round-trip only restores groups with at least
  // one non-null value — the oracle states that same contract.
  val q59Sql: String =
    """SELECT user_id, event_type,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY user_id, event_type
      |HAVING SUM(CAST(value AS DECIMAL(18,2))) IS NOT NULL""".stripMargin

  // --- q60: z-score outlier detection with deterministic moments ---
  // Mean and variance come from DECIMAL sums of x and x² (exact — value
  // has 2dp, so x² has 4dp), combined with a handful of double ops both
  // engines execute identically; a native stddev() accumulates running
  // moments in partition order and could flip membership at the 3σ
  // boundary across engines.
  def q60(s: SparkSession, dir: String): DataFrame = {
    val d4 = DecimalType(28, 4)
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy(col("event_type").as("et"))
      .agg(
        sum(col("value").cast(D)).cast("double").as("sx"),
        sum((col("value") * col("value")).cast(d4)).cast("double").as("sxx"),
        count(col("value")).as("n"))
      .filter(col("n") > 1)
      // clamp at 0: an all-identical group's FP variance can compute to
      // a tiny negative, which Spark's sqrt turns into NaN but DuckDB's
      // SQRT REJECTS with an error — both engines must see >= 0
      .select(col("et"), (col("sx") / col("n")).as("mean"),
        sqrt(greatest(
          (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1),
          lit(0.0))).as("sd"))
    ev.join(broadcast(stats), col("event_type") === col("et"))
      .filter(col("sd") > 0.0 &&
        abs(col("value") - col("mean")) > lit(3.0) * col("sd"))
      // mean/sd derive from exact decimal sums, so both engines hold
      // bit-identical doubles here; FLOOR fixed-point publishes them
      // without the decimal-rounding tie-break that ROUND(double, 6)
      // exposes across engine versions (the r7 hash-fail class)
      .select(col("event_id"), col("event_type"), col("value"),
        floor(lit(1e6) * col("mean")).cast("long").as("mean_micro"),
        floor(lit(1e6) * col("sd")).cast("long").as("sd_micro"))
  }

  val q60Sql: String =
    """WITH st AS (
      | SELECT event_type AS et,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
      |  COUNT(value) AS n
      | FROM events GROUP BY event_type HAVING COUNT(value) > 1),
      |m AS (SELECT et, sx / n AS mean,
      |       SQRT(GREATEST((sxx - sx * sx / n) / (n - 1), 0.0)) AS sd FROM st)
      |SELECT event_id, event_type, value,
      | CAST(FLOOR(1000000.0 * mean) AS BIGINT) AS mean_micro,
      | CAST(FLOOR(1000000.0 * sd) AS BIGINT) AS sd_micro
      |FROM events JOIN m ON event_type = et
      |WHERE sd > 0.0 AND ABS(value - mean) > 3.0 * sd""".stripMargin

  // --- q61: moving aggregate (trailing 4-row window per user) ---
  // ROWS frame over the (ts, event_id) total order — deterministic on
  // ties, unlike a RANGE frame keyed on a non-unique timestamp; sums in
  // decimal so window accumulation order cannot drift.
  def q61(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-3, 0)
    Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("ts"),
        sum(col("value").cast(D)).over(w).cast("double").as("mov_sum"),
        count(lit(1)).over(w).as("mov_n"))
      .withColumn("mov_avg", col("mov_sum") / col("mov_n"))
  }

  val q61Sql: String =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
      | CAST(COUNT(*) OVER w AS BIGINT) AS mov_n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |   / COUNT(*) OVER w AS mov_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q41_range_join"    -> (q41 _),
    "q42_window_suite"  -> (q42 _),
    "q43_percentiles"   -> (q43 _),
    "q44_set_ops"       -> (q44 _),
    "q45_corr_subquery" -> (q45 _),
    "q46_gap_fill"      -> (q46 _),
    "q47_tfidf"         -> (q47 _),
    "q48_json_extract"  -> (q48 _),
    "q49_ann_ivf"       -> (q49 _),
    "q50_first_event"   -> (q50 _),
    "q51_embed_centroids" -> (q51 _),
    "q52_sliding_window" -> (q52 _),
    "q53_histogram"     -> (q53 _),
    "q54_argmax"        -> (q54 _),
    "q55_dedup_clusters" -> (q55 _),
    "q56_bpe_tokens"    -> (q56 _),
    "q57_multimodal_frames" -> (q57 _),
    "q58_profile"       -> (q58 _),
    "q59_unpivot"       -> (q59 _),
    "q60_outliers"      -> (q60 _),
    "q61_moving_avg"    -> (q61 _))

  override val oracle: Map[String, String] = Map(
    "q41_range_join"    -> q41Sql,
    "q42_window_suite"  -> q42Sql,
    "q43_percentiles"   -> q43Sql,
    "q44_set_ops"       -> q44Sql,
    "q45_corr_subquery" -> q45Sql,
    "q46_gap_fill"      -> q46Sql,
    "q47_tfidf"         -> q47Sql,
    "q48_json_extract"  -> q48Sql,
    "q50_first_event"   -> q50Sql,
    "q51_embed_centroids" -> q51Sql,
    "q52_sliding_window" -> q52Sql,
    "q53_histogram"     -> q53Sql,
    "q54_argmax"        -> q54Sql,
    "q55_dedup_clusters" -> q55Sql,
    "q56_bpe_tokens"    -> q56Sql,
    "q57_multimodal_frames" -> q57Sql,
    "q58_profile"       -> q58Sql,
    "q59_unpivot"       -> q59Sql,
    "q60_outliers"      -> q60Sql,
    "q61_moving_avg"    -> q61Sql)
}
