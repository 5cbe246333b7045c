package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-6 widening (SURVEY.md §2, q86–q93): interval analytics,
  * scalable fuzzy matching, iterative graph computation, feature
  * engineering, incremental aggregate maintenance, and operational
  * diagnostics — the ops a 100 TB warehouse runs daily that no earlier
  * query covered.
  *
  * Scale notes are per query; the common discipline: no global sorts
  * (per-day / per-key windows only), no cross joins (blocking turns
  * similarity into equi-joins; PlanLintSpec enforces repo-wide), and
  * iterative work (q88) touches the corpus once — iterations run on the
  * metadata-sized derived graph.
  */
object AnalyticsQueries extends QuerySet {

  // Cache ownership ([[graft.util.CacheTracker]]): q88 persists its
  // vocabulary-sized graph frames for the 3 iterative joins.
  private val caches = new graft.util.CacheTracker

  private def trackPersist(df: DataFrame): DataFrame = caches.trackPersist(df)

  // --- q86: max concurrent intervals per day (sweep line). Each event
  // opens a half-open 30-minute activity interval [ts, ts+30m); the
  // query reports, per calendar day, the peak number of simultaneously
  // open intervals. Intervals are split at midnight so the sweep is a
  // PER-DAY window (bounded partitions — the 100 TB shape), never a
  // global sort. Ends sort before starts at the same instant (half-open
  // semantics: an interval ending exactly when another starts does not
  // overlap it); the default RANGE frame gives sort-key peers one shared
  // cumulative value, so ties are deterministic across engines.
  def q86(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(s, dir)
      .select(col("ts").as("t0"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("t1"))
    val segs = iv
      .withColumn("day",
        explode(expr("sequence(to_date(t0), to_date(t1 - INTERVAL 1 MICROSECOND))")))
      .select(col("day"),
        greatest(col("t0"), col("day").cast("timestamp")).as("s0"),
        least(col("t1"), date_add(col("day"), 1).cast("timestamp")).as("s1"))
    // both sweep points of a segment emit from ONE pass (a self-union
    // would re-scan the fact table per branch — the q14/q20 lesson)
    val pts = segs.select(col("day"), explode(array(
        struct(col("s0").as("t"), lit(1L).as("delta")),
        struct(col("s1").as("t"), lit(-1L).as("delta")))).as("p"))
      .select(col("day"), col("p.t").as("t"), col("p.delta").as("delta"))
    val w = Window.partitionBy("day").orderBy(col("t").asc, col("delta").asc)
    pts.withColumn("cur", sum("delta").over(w))
      .groupBy("day")
      .agg(max("cur").as("max_concurrent"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_intervals"))
  }

  val q86Sql: String =
    """WITH iv AS (SELECT CAST(ts AS TIMESTAMP) AS t0,
      |  CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS t1 FROM events),
      |segs AS (SELECT CAST(UNNEST(GENERATE_SERIES(CAST(t0 AS DATE),
      |    CAST(t1 - INTERVAL 1 MICROSECOND AS DATE), INTERVAL 1 DAY)) AS DATE) AS day,
      |  t0, t1 FROM iv),
      |seg2 AS (SELECT day, GREATEST(t0, CAST(day AS TIMESTAMP)) AS s0,
      |  LEAST(t1, CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) AS s1 FROM segs),
      |pts AS (SELECT day, s0 AS t, 1 AS delta FROM seg2
      |        UNION ALL SELECT day, s1, -1 FROM seg2),
      |cum AS (SELECT day, delta,
      |  SUM(delta) OVER (PARTITION BY day ORDER BY t, delta) AS cur FROM pts)
      |SELECT day, CAST(MAX(cur) AS BIGINT) AS max_concurrent,
      | CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals
      |FROM cum GROUP BY 1""".stripMargin

  // --- q87: fuzzy entity-resolution join — customer-name pairs within
  // edit distance 1, found WITHOUT a cross join. Blocking is the exact
  // deletion-neighborhood (FastSS): every name emits itself plus each
  // single-character deletion; two names at edit distance ≤ 1 MUST share
  // a variant (equal-length substitutions share the deletion at the
  // differing position; insert/delete pairs share the shorter name
  // itself), so an equi-join on the variant produces a candidate
  // superset and `levenshtein ≤ 1` verifies. Cost is (len+1)·n variant
  // rows and one hash join — linear at corpus scale, vs the oracle's
  // quadratic brute force (which is why the query bounds its input set;
  // the operator itself has no such bound).
  def q87(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_custkey") < 2000L)
      .select(col("c_custkey").as("key"), col("c_name").as("name"))
    val variants = c
      .withColumn("i", explode(sequence(lit(0), length(col("name")))))
      .select(col("key"), col("name"),
        when(col("i") === 0, col("name"))
          .otherwise(concat(expr("substring(name, 1, i - 1)"),
            expr("substring(name, i + 1)"))).as("v"))
    val a = variants.select(col("key").as("key_a"), col("name").as("name_a"), col("v"))
    val b = variants.select(col("key").as("key_b"), col("name").as("name_b"), col("v"))
    a.join(b, Seq("v"))
      .filter(col("key_a") < col("key_b"))
      .select("key_a", "key_b", "name_a", "name_b").distinct()
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select("key_a", "key_b")
  }

  val q87Sql: String =
    """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 2000)
      |SELECT a.c_custkey AS key_a, b.c_custkey AS key_b
      |FROM c a JOIN c b
      |ON a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  // --- q88: PageRank, 3 power iterations, over the token-adjacency
  // graph (distinct bigram pairs, self-loops dropped). The corpus is
  // scanned ONCE to build edges; iterations then run on the derived
  // graph (vocabulary-sized — metadata next to a 100 TB corpus), each
  // iteration one equi-join + one aggregation, the classic distributed
  // PageRank shape. Dangling-node mass is deliberately not redistributed
  // (ranks sum < 1) — same fixed formula both engines. The node count
  // driving the teleport term is a driver-side count of the cached
  // vocabulary — metadata-sized by construction, like Dedup's bounded
  // union-find.
  def q88(s: SparkSession, dir: String): DataFrame = {
    val edges = trackPersist(graft.functions.TextFunctions
      .wordBigrams(Tables.documents(s, dir), "doc_id", "text")
      .select(col("tok_a").as("src"), col("tok_b").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    val nodes = trackPersist(
      edges.select(col("src").as("tok"))
        .unionByName(edges.select(col("dst").as("tok")))
        .distinct())
    val nN = nodes.count().toDouble // vocabulary-bounded metadata count
    val deg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("outd"))
    var r = nodes.withColumn("r", lit(1.0 / nN))
    for (_ <- 1 to 3) {
      val contrib = r.withColumnRenamed("tok", "src")
        .join(deg, "src").join(edges, "src")
        .groupBy("dst").agg(sum(col("r") / col("outd")).as("m"))
      r = nodes.join(contrib, nodes("tok") === contrib("dst"), "left")
        .select(nodes("tok"),
          (lit(0.15 / nN) + lit(0.85) * coalesce(col("m"), lit(0.0))).as("r"))
    }
    // FLOOR fixed-point micro-units, not ROUND(double, 6): identical
    // doubles floor identically on every engine version, while decimal
    // rounding tie-breaks shifted across DuckDB versions (the r7
    // hash-fail class)
    r.select(col("tok"), floor(lit(1e6) * col("r")).cast("long").as("pr_micro"))
  }

  private def q88IterSql(k: Int): String =
    s"""r$k AS (SELECT nodes.tok, 0.15/nn.n + 0.85*COALESCE(m.m, 0) AS r
       | FROM nodes CROSS JOIN nn LEFT JOIN (SELECT bg.dst, SUM(p.r/deg.outd) AS m
       |   FROM bg JOIN r${k - 1} p ON p.tok = bg.src
       |   JOIN deg ON deg.src = bg.src GROUP BY 1) m ON m.dst = nodes.tok)""".stripMargin

  val q88Sql: String =
    s"""WITH t AS (SELECT STRING_SPLIT_REGEX(TRIM(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |bg AS (SELECT DISTINCT tok_a AS src, tok_b AS dst FROM (
       |  SELECT UNNEST(toks[1:LEN(toks)-1]) AS tok_a, UNNEST(toks[2:LEN(toks)]) AS tok_b
       |  FROM t WHERE LEN(toks) > 1) WHERE tok_a <> tok_b),
       |nodes AS (SELECT DISTINCT tok FROM (SELECT src AS tok FROM bg UNION SELECT dst FROM bg)),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outd FROM bg GROUP BY 1),
       |r0 AS (SELECT tok, 1.0/nn.n AS r FROM nodes CROSS JOIN nn),
       |${q88IterSql(1)},
       |${q88IterSql(2)},
       |${q88IterSql(3)}
       |SELECT tok, CAST(FLOOR(1000000.0 * r) AS BIGINT) AS pr_micro FROM r3""".stripMargin

  // --- q89: equal-frequency feature binning — decile buckets of event
  // value per event type (the standard numeric-feature quantization
  // before model training). The output (per-bin count/min/max) is
  // invariant to how ntile's event_id tie-break permutes EQUAL values
  // across a bin boundary, so it needs no per-row ranks: the corpus
  // folds once into a (type, distinct-value) count histogram — bounded
  // for 2-decimal money — and ntile's bucket arithmetic (n = 10·base +
  // r rows → buckets 1..r hold base+1, the rest base) maps each
  // value's rank interval [C+1, C+cnt] onto the ≤ 10 bins it overlaps.
  // The r7 shape (ntile over partitionBy(event_type) on the raw
  // stream) was exact but sorted ~1/|types| of the corpus in a single
  // task per type at scale; the cumulative window here runs over the
  // bounded histogram. The oracle stays the literal NTILE formulation.
  def q89(s: SparkSession, dir: String): DataFrame = {
    // persisted: the bounded histogram feeds the n census AND the
    // cumulative-window chain — each reference otherwise re-ran the
    // events scan + groupBy (guide §2.4, the q120 treatment)
    val hist = trackPersist(Tables.events(s, dir)
      .groupBy("event_type", "value").agg(count(lit(1)).as("cnt")))
    val n = hist.groupBy("event_type").agg(sum(col("cnt")).as("n"))
    // ntile(10) bucket of rank rk, with n = 10·base + r: buckets 1..r
    // hold base+1 rows, buckets r+1..10 hold base — the CASE arms below
    // are that arithmetic for a rank interval's two endpoints
    val w = Window.partitionBy("event_type").orderBy(col("value").asc)
    hist.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("lo_rk", col("cum") - col("cnt") + 1)
      .join(broadcast(n), Seq("event_type"))
      .withColumn("base", expr("n div 10"))
      .withColumn("r", expr("n % 10"))
      .withColumn("b_lo", expr(
        "CASE WHEN lo_rk <= r * (base + 1) THEN (lo_rk - 1) div (base + 1) + 1" +
          " ELSE r + (lo_rk - r * (base + 1) - 1) div base + 1 END"))
      .withColumn("b_hi", expr(
        "CASE WHEN cum <= r * (base + 1) THEN (cum - 1) div (base + 1) + 1" +
          " ELSE r + (cum - r * (base + 1) - 1) div base + 1 END"))
      .withColumn("bin", explode(sequence(col("b_lo"), col("b_hi"))))
      .withColumn("bin_start", expr(
        "CASE WHEN bin <= r THEN (bin - 1) * (base + 1) + 1" +
          " ELSE r * (base + 1) + (bin - 1 - r) * base + 1 END"))
      .withColumn("bin_end", expr(
        "bin_start + CASE WHEN bin <= r THEN base + 1 ELSE base END - 1"))
      .groupBy(col("event_type"), col("bin").cast("int").as("bin"))
      .agg(sum(least(col("cum"), col("bin_end")) -
        greatest(col("lo_rk"), col("bin_start")) + 1).as("n_rows"),
        min("value").as("min_value"), max("value").as("max_value"))
  }

  val q89Sql: String =
    """WITH b AS (SELECT event_type, value,
      |  NTILE(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
      | FROM events)
      |SELECT event_type, CAST(bin AS INT) AS bin,
      | CAST(COUNT(*) AS BIGINT) AS n_rows,
      | MIN(value) AS min_value, MAX(value) AS max_value
      |FROM b GROUP BY 1, 2""".stripMargin

  // --- q90: per-type z-score standardization (feature scaling). The
  // stats frame is one row per event type — broadcast back onto the
  // fact, so the normalization pass is map-side: at 100 TB this is one
  // aggregation plus one streaming projection, no second shuffle.
  // Moments come from exact decimal sums (q60's posture) rather than
  // avg/stddev_samp builtins, whose accumulation algorithms differ
  // between engines; downstream both engines then hold bit-identical
  // doubles, and the z publishes as FLOOR fixed-point — no
  // ROUND(double, 6) tie-break surface (the r7 hash-fail class).
  def q90(s: SparkSession, dir: String): DataFrame = {
    val d2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val d4 = org.apache.spark.sql.types.DecimalType(28, 4)
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy(col("event_type").as("et"))
      .agg(
        sum(col("value").cast(d2)).cast("double").as("sx"),
        sum((col("value") * col("value")).cast(d4)).cast("double").as("sxx"),
        count(col("value")).as("n"))
      .filter(col("n") > 1)
      .select(col("et"), (col("sx") / col("n")).as("mu"),
        sqrt(greatest(
          (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1),
          lit(0.0))).as("sd"))
    ev.join(broadcast(stats), col("event_type") === col("et"))
      .filter(col("sd") > 0)
      .select(col("event_id"), col("event_type"),
        floor(lit(1e6) * (col("value") - col("mu")) / col("sd"))
          .cast("long").as("z_micro"))
  }

  val q90Sql: String =
    """WITH st AS (SELECT event_type AS et,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
      |  COUNT(value) AS n
      | FROM events GROUP BY 1 HAVING COUNT(value) > 1),
      |m AS (SELECT et, sx / n AS mu,
      |       SQRT(GREATEST((sxx - sx * sx / n) / (n - 1), 0.0)) AS sd FROM st)
      |SELECT event_id, event_type,
      | CAST(FLOOR(1000000.0 * (value - mu) / sd) AS BIGINT) AS z_micro
      |FROM events JOIN m ON event_type = et WHERE sd > 0""".stripMargin

  // --- q91: incremental aggregate maintenance — the mart-refresh
  // algebra made explicit. Per-user (count, sum) partials are computed
  // separately for the history (< Jan 15) and the delta (≥ Jan 15) and
  // MERGED by re-aggregation; avg derives from merged sums. The oracle
  // aggregates the union directly — proving partial-merge ≡ full
  // recompute, which is what lets a 100 TB mart refresh touch only the
  // delta partition (the reference's accumulation semantics,
  // trsh_rep_fraud_sync.sql:22-24, as re-aggregatable state).
  //
  // All money math is exact integer cents: double sums are order-
  // dependent in the last bits, and round(·, 6) sits exactly on a
  // half-way boundary whenever the group size is a power of two (the
  // sf0.01 data hit one) — so sum and avg derive from an exact BIGINT
  // cent total via truncating integer division, then one exact
  // int→double division. Values are non-negative (div vs floor-div
  // agree); the *10000 step is ANSI-loud beyond ±9·10^14 cents.
  def q91(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "2024-01-15 00:00:00"
    def partial(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sc"))
    val hist  = partial(Tables.events(s, dir).filter(col("ts") < lit(cutoff).cast("timestamp")))
    val delta = partial(Tables.eventsSince(s, dir, cutoff))
    hist.unionByName(delta)
      .groupBy("user_id")
      .agg(sum("n").as("n_events"), sum("sc").as("sc"))
      .select(col("user_id"), col("n_events"),
        (col("sc") / 100.0).as("sum_value"),
        (expr("sc * 10000 div n_events") / 1000000.0).as("avg_value"))
  }

  val q91Sql: String =
    """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sc FROM events GROUP BY 1)
      |SELECT user_id, n_events, sc / 100.0 AS sum_value,
      | CAST(sc * 10000 // n_events AS BIGINT) / 1000000.0 AS avg_value
      |FROM c""".stripMargin

  // --- q92: inter-arrival statistics — per-user event-gap distribution
  // (burst detection / rate modeling input; the velocity rule R3's
  // LAG-over-user shape, reference trsh_rep_fraud_sync.sql:47-80,
  // generalized to full gap statistics). One shuffle on user_id;
  // microsecond longs convert exactly to double seconds (< 2^53).
  def q92(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("prev", lag("ts", 1).over(w))
      .filter(col("prev").isNotNull)
      // gaps stay exact epoch-microsecond integers end to end; the mean
      // publishes by integer DIV — no double and no ROUND anywhere on
      // the compare surface (the r7 engine-version hash-fail class)
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(col("prev")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_us").as("sum_us"),
        min("gap_us").as("min_gap_us"), max("gap_us").as("max_gap_us"))
      .withColumn("avg_gap_us", expr("sum_us DIV n_gaps"))
      .drop("sum_us")
  }

  val q92Sql: String =
    """WITH g AS (SELECT user_id,
      |  (epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(LAG(CAST(ts AS TIMESTAMP), 1)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS gap_us
      | FROM events)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      | MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
      | CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS avg_gap_us
      |FROM g WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin

  // --- q93: key-skew diagnostics — the profile a join/agg planner (or
  // an engineer deciding whether q39's salting is needed) reads first:
  // the 5 hottest keys with their share of all rows. Top-5 is
  // orderBy+limit (TakeOrderedAndProject: per-partition top-K merge,
  // never a full sort); the total is a separate 1-row aggregate joined
  // by broadcast.
  def q93(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val total = counts.agg(sum("n_events").as("total"))
    val top = counts.orderBy(col("n_events").desc, col("user_id").asc).limit(5)
    val w = Window.orderBy(col("n_events").desc, col("user_id").asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      // share as exact-integer ppm DIV — no ROUND(double) on the
      // compare surface (the r7 engine-version hash-fail class)
      .select(col("rank"), col("user_id"), col("n_events"),
        expr("(n_events * 1000000) DIV total").as("share_ppm"))
  }

  val q93Sql: String =
    """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1),
      |t AS (SELECT SUM(n_events) AS total FROM c)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS INT) AS rank,
      | user_id, n_events, CAST((n_events * 1000000) // t.total AS BIGINT) AS share_ppm
      |FROM c CROSS JOIN t ORDER BY n_events DESC, user_id LIMIT 5""".stripMargin

  // --- q104: first-order event-transition (Markov) matrix — for each
  // ordered pair of event types, how often does one directly follow the
  // other within a user's stream, and with what conditional
  // probability. The behavioral-modeling twin of q65's funnel: funnels
  // check one prescribed path, the transition matrix surfaces ALL
  // paths (and feeds next-event prediction / anomaly scoring).
  // Scale shape: the lag window partitions by user_id — high
  // cardinality, so the one corpus shuffle spreads evenly — and the
  // pair aggregate has at most |types|² keys (partial-aggregable,
  // metadata-sized). Row normalization is a window over that
  // metadata-sized matrix, NOT a join back to a second aggregation of
  // the corpus — a totals-join formulation makes Spark recompute the
  // whole pairs branch (scan + user_id shuffle twice); the window form
  // scans the corpus once and re-shuffles only types² rows.
  def q104(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wTot = Window.partitionBy("prev_type")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
      // conditional probability as exact-integer ppm DIV over the
      // row total — no ROUND(double) on the compare surface (the r7
      // engine-version hash-fail class)
      .withColumn("n_from", sum("n_trans").over(wTot))
      .withColumn("p_trans_ppm", expr("(n_trans * 1000000) DIV n_from"))
      .select("prev_type", "next_type", "n_trans", "p_trans_ppm")
  }

  val q104Sql: String =
    """WITH e AS (SELECT user_id, ts, event_id, event_type,
      |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      | FROM events),
      |p AS (SELECT prev_type, event_type AS next_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_trans
      | FROM e WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT prev_type, SUM(n_trans) AS n_from FROM p GROUP BY 1)
      |SELECT p.prev_type, p.next_type, p.n_trans,
      | CAST((p.n_trans * 1000000) // t.n_from AS BIGINT) AS p_trans_ppm
      |FROM p JOIN t USING (prev_type)""".stripMargin

  // --- q111: pareto frontier (skyline) per language on (length,
  // lexical diversity) — the data-selection primitive "which documents
  // are not strictly beaten on BOTH axes", used to pick the
  // quality-vs-cost frontier of a corpus. A doc is dominated iff some
  // same-lang doc has x' ≥ x ∧ y' ≥ y with one strict.
  //
  // Scale shape: frontier membership depends only on (lang, x, y) and
  // only the max-y point at each x can survive, so the corpus
  // tokenizes ONCE and partial-aggregates to max(y) per (lang, x) — a
  // bounded set (langs × distinct doc lengths, NOT corpus-sized) — the
  // classic desc-x sweep (running max of y) runs as a window over THAT
  // bounded frame, and the recovery join probes on the CHEAP columns
  // (lang, x=n_chars): only the few docs at a frontier (lang, x)
  // re-tokenize to confirm y. One tokenize pass + one partial-agg
  // shuffle + metadata-sized window + broadcast join — never a
  // per-lang sort of the full corpus, and never a second corpus-wide
  // tokenize (the naive window formulation the oracle uses does both).
  def q111(s: SparkSession, dir: String): DataFrame = {
    def diversity(c: org.apache.spark.sql.Column) =
      size(array_distinct(graft.functions.TextFunctions.wsTokens(c))).cast("long")
    val docs = Tables.documents(s, dir)
    val reduced = docs
      .select(col("lang"), col("n_chars").as("x"), diversity(col("text")).as("y"))
      .groupBy("lang", "x").agg(max("y").as("y"))
    val wGt = Window.partitionBy("lang").orderBy(col("x").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val frontier = reduced
      .withColumn("max_y_gt", max("y").over(wGt))
      .filter(coalesce(col("max_y_gt"), lit(-1L)) < col("y"))
      .select("lang", "x", "y")
    docs.select(col("lang"), col("doc_id"), col("n_chars").as("x"), col("text"))
      .join(broadcast(frontier.withColumnRenamed("y", "fy")), Seq("lang", "x"))
      .filter(diversity(col("text")) === col("fy"))
      .select(col("lang"), col("doc_id"), col("x"), col("fy").as("y"))
  }

  val q111Sql: String =
    """WITH d AS (SELECT lang, doc_id, n_chars AS x,
      |  CAST(LEN(LIST_DISTINCT(LIST_FILTER(
      |    STRING_SPLIT_REGEX(TRIM(text), '\s+'), t -> t <> ''))) AS BIGINT) AS y
      | FROM documents),
      |w AS (SELECT *,
      |  MAX(y) OVER (PARTITION BY lang ORDER BY x DESC
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_y_gt,
      |  MAX(y) OVER (PARTITION BY lang, x) AS max_y_eq
      | FROM d)
      |SELECT lang, doc_id, x, y FROM w
      |WHERE NOT (max_y_eq > y) AND NOT (COALESCE(max_y_gt, -1) >= y)""".stripMargin

  // --- q112: distribution drift between two time windows per event
  // type — the day-over-day feature-drift monitor a fraud model needs
  // before its scores decay. Values histogram into 20 fixed-width
  // bins; drift is total-variation distance, reported as the EXACT
  // integer numerator Σ|n1·N2 − n2·N1| over bins (TV = num / (2·N1·N2))
  // — cross-multiplied instead of divided, so no float ever forms and
  // the oracle hash-matches bit-for-bit. Exact while N1·N2 < 2^63
  // (windows of ~3·10⁹ rows each; ANSI overflow is loud past that —
  // cast the products to double for the approximate regime beyond).
  //
  // Scale shape: one corpus scan → one partial-aggregable shuffle on
  // (type, bin); everything after runs on the types×bins frame
  // (≤ hundreds of rows — per-type totals as a window over that tiny
  // frame, then the final per-type fold).
  def q112(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"), 1)
          .otherwise(2).as("w"),
        least(floor(col("value") / 25), lit(19L)).cast("long").as("bin"))
    val c = e.groupBy("event_type", "bin")
      .agg(sum(when(col("w") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("w") === 2, 1L).otherwise(0L)).as("n2"))
    // totals via a window over the METADATA-SIZED bin frame, not an
    // aggregate-then-join back (which makes Spark recompute the whole
    // corpus branch for the totals side — the q104 lesson, 1ffadc8)
    val w = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c.withColumn("tot1", sum("n1").over(w))
      .withColumn("tot2", sum("n2").over(w))
      .groupBy("event_type")
      .agg(max("tot1").as("n_w1"), max("tot2").as("n_w2"),
        sum(abs(col("n1") * col("tot2") - col("n2") * col("tot1"))).as("drift_num"))
  }

  val q112Sql: String =
    """WITH e AS (SELECT event_type,
      |  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 2 END AS w,
      |  LEAST(CAST(FLOOR(value/25) AS BIGINT), 19) AS bin
      | FROM events WHERE value IS NOT NULL),
      |c AS (SELECT event_type, bin,
      |  SUM(CASE WHEN w=1 THEN 1 ELSE 0 END) AS n1,
      |  SUM(CASE WHEN w=2 THEN 1 ELSE 0 END) AS n2
      | FROM e GROUP BY 1,2),
      |t AS (SELECT event_type, SUM(n1) AS tot1, SUM(n2) AS tot2 FROM c GROUP BY 1)
      |SELECT c.event_type, CAST(MAX(t.tot1) AS BIGINT) AS n_w1,
      | CAST(MAX(t.tot2) AS BIGINT) AS n_w2,
      | CAST(SUM(ABS(n1*t.tot2 - n2*t.tot1)) AS BIGINT) AS drift_num
      |FROM c JOIN t ON t.event_type = c.event_type GROUP BY 1""".stripMargin

  // --- q161: latest-error-before-purchase enrichment through the
  // NATIVE as-of operator (plans/AsOfJoin.scala) on a fact-to-fact
  // shape: every purchase annotated with the user's most recent error
  // at-or-before it and the exact gap — the root-cause companion to
  // q74, which pairs ALL errors in a window (this keeps exactly one,
  // the freshest). One pass: both event-type slices cluster by user
  // and sort (user, ts); no window, no interval dim, no candidate
  // expansion. Purchases with no prior error drop (inner as-of).
  def q161(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
    graft.plans.AsOfNative.join(purchases, errors,
        "p_user", "p_ts", "e_user", "e_ts", "error_id")
      .select(col("purchase_id"), col("p_user").as("user_id"), col("p_ts"),
        col("error_id"), col("e_ts"),
        (unix_micros(col("p_ts")) - unix_micros(col("e_ts"))).as("gap_us"))
  }

  val q161Sql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |  event_type FROM events)
      |SELECT purchase_id, user_id, p_ts, error_id, e_ts,
      | EPOCH_US(p_ts) - EPOCH_US(e_ts) AS gap_us FROM (
      | SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
      |  e.event_id AS error_id, e.ts AS e_ts,
      |  ROW_NUMBER() OVER (PARTITION BY p.event_id
      |    ORDER BY e.ts DESC, e.event_id DESC) AS rn
      | FROM ev p JOIN ev e
      |  ON p.user_id = e.user_id AND p.event_type = 'purchase'
      |  AND e.event_type = 'error' AND e.ts <= p.ts) WHERE rn = 1""".stripMargin

  // --- q162: out-of-order depth audit — the number every
  // `withWatermark` delay is chosen from. Under q159's deterministic
  // lateness model (an event with timestamp ts ARRIVES at
  // ts + (event_id % 3) days), replay each user's stream in arrival
  // order and measure how far each event's timestamp falls behind the
  // event-time high-water mark at its arrival; the per-day-class
  // histogram is the watermark designer's readout (a delay of
  // max(late_days)+1 days loses nothing). Scale: ONE lag-style window
  // on the high-cardinality user key (arrival order is a total order
  // per user), then a ≤ |day classes| aggregate — exact epoch-µs
  // integers end to end, day arithmetic fixed-24h UTC (q127 contract).
  def q162(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("arr").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        expr("timestampadd(DAY, CAST(event_id % 3 AS INT), ts)").as("arr"))
      .withColumn("hwm", max(col("ts_us")).over(w))
      .filter(col("hwm").isNotNull)
      .withColumn("late_us", greatest(lit(0L), col("hwm") - col("ts_us")))
      .withColumn("late_days", expr("late_us DIV 86400000000"))
      .groupBy("late_days")
      .agg(count(lit(1)).as("n_events"), max("late_us").as("max_late_us"))
  }

  val q162Sql: String =
    """WITH e AS (SELECT user_id, event_id,
      |  EPOCH_US(CAST(ts AS TIMESTAMP)) AS ts_us,
      |  CAST(ts AS TIMESTAMP) + (event_id % 3) * INTERVAL 1 DAY AS arr
      | FROM events),
      |w AS (SELECT user_id, event_id, ts_us,
      |  MAX(ts_us) OVER (PARTITION BY user_id ORDER BY arr, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      | FROM e),
      |l AS (SELECT GREATEST(0, hwm - ts_us) AS late_us FROM w WHERE hwm IS NOT NULL)
      |SELECT CAST(late_us // 86400000000 AS BIGINT) AS late_days,
      | CAST(COUNT(*) AS BIGINT) AS n_events, MAX(late_us) AS max_late_us
      |FROM l GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_last_error"      -> (q161 _),
    "q162_disorder_audit"  -> (q162 _),
    "q112_drift"           -> (q112 _),
    "q111_pareto_frontier" -> (q111 _),
    "q104_transitions"  -> (q104 _),
    "q86_concurrency"   -> (q86 _),
    "q87_fuzzy_join"    -> (q87 _),
    "q88_pagerank"      -> (q88 _),
    "q89_quantile_bins" -> (q89 _),
    "q90_zscore"        -> (q90 _),
    "q91_agg_merge"     -> (q91 _),
    "q92_interarrival"  -> (q92 _),
    "q93_skew_profile"  -> (q93 _))

  override val oracle: Map[String, String] = Map(
    "q161_last_error"      -> q161Sql,
    "q162_disorder_audit"  -> q162Sql,
    "q111_pareto_frontier" -> q111Sql,
    "q112_drift"           -> q112Sql,
    "q104_transitions"  -> q104Sql,
    "q86_concurrency"   -> q86Sql,
    "q87_fuzzy_join"    -> q87Sql,
    "q88_pagerank"      -> q88Sql,
    "q89_quantile_bins" -> q89Sql,
    "q90_zscore"        -> q90Sql,
    "q91_agg_merge"     -> q91Sql,
    "q92_interarrival"  -> q92Sql,
    "q93_skew_profile"  -> q93Sql)
}
