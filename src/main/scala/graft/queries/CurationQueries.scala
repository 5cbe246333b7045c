package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** Round-7 widening: retrieval, audits, and curation end-caps.
  * Everything before this round filters or transforms the corpus
  * wholesale; these operators answer targeted questions against it —
  * score documents for a query (q114 BM25), find the documents
  * covering a full concept set (q115 relational division), carve
  * leakage-free rolling backtest folds (q117), run the learned BPE
  * vocabulary end-to-end (q113 learns → q118 encodes) — and audit it:
  * deflate-ratio quality (q116, Gopher's compressibility heuristic),
  * whale-concentration (q119), MAD robust outliers (q120), asymmetric
  * containment dedup (q121), ANN recall (q122), conversion latency
  * (q123), and session journey paths (q124).
  *
  * Scale notes per query at the definition site; shared shape: query
  * terms are LITERALS (map-side `isin` prune — the corpus shuffle only
  * ever carries matching tokens), scalar corpus stats broadcast (the
  * q47 pattern), and per-row imperative work (deflate, BPE merge loop)
  * stays in mapPartitions operators.
  */
object CurationQueries extends QuerySet {

  // Cache ownership ([[graft.util.CacheTracker]]): q120 persists its
  // bounded value histogram across its four consumers.
  private val caches = new graft.util.CacheTracker

  /** BM25 probe query (Robertson/Spärck Jones; the Lucene-style idf).
    * Terms are data-independent literals, like q76's eval split.
    */
  val Bm25Terms: Seq[String] = Seq("window", "merge", "spark")
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Relational-division probe: docs must contain ALL of these. */
  val DivisionTerms: Seq[String] = Seq("vector", "stream", "window", "merge")

  // --- q114: BM25 retrieval — top-50 documents for a 3-term query.
  // The inverted-index shape without materializing the index: the token
  // stream is pruned to the query terms BEFORE the shuffle (isin on a
  // literal set — a map-side filter), so the groupBy carries
  // |terms|·n_docs rows at most, never the corpus token stream. Corpus
  // stats (N, total token count) are one scalar aggregate broadcast to
  // the scored rows (q47 pattern — BNLJ on a 1-row side, allowlisted).
  // Per-term scores FLOOR to fixed-point micro-units (×1e6, BIGINT) so
  // the per-doc sum is exact integer arithmetic — order-independent AND
  // engine-version-proof. ROUND(double, 6) is NOT: Spark rounds the
  // shortest-decimal repr HALF_UP via BigDecimal while DuckDB rounds the
  // binary value, and DuckDB's tie behavior has shifted across versions
  // (the r7 driver hash-fail); FLOOR of identical IEEE doubles never
  // tie-breaks. Everything upstream of the floor is +,·,/ on doubles —
  // IEEE-exact-rounded, bit-identical cross-engine (LN is the one libm
  // call; a last-ulp difference flips the floor only within ~1e-10 of a
  // micro-unit boundary). The rank tie-break keys on the fixed-point
  // score, never a double. Top-50 is orderBy+limit
  // (TakeOrderedAndProject — distributed top-k, no global window over
  // the corpus); rank is computed on the bounded result.
  def q114(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"))
    // dl (per-doc token count) rides the SAME scan as the term explode
    // and folds through the (doc, token) groupBy as first(dl) — the r13
    // form scanned the corpus a third time for dl and re-shuffled the
    // tf frame by doc_id to join it (guide §2.4); dl is identical for
    // every exploded row of a doc, so first() is exact.
    val tf = docs
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("dl0"),
        explode(TextFunctions.wsTokens(lower(col("text")))).as("token"))
      .filter(col("token").isin(Bm25Terms: _*))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first(col("dl0")).as("dl"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score_t",
        floor(lit(1e6) * col("idf") * col("tf") * lit(Bm25K1 + 1) /
          (col("tf") + lit(Bm25K1) *
            (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .cast("bigint"))
    val perDoc = scored.groupBy("doc_id")
      .agg(sum(col("score_t")).as("score_fp"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(50)
    val w = Window.orderBy(col("score_fp").desc, col("doc_id").asc)
    perDoc.withColumn("rnk", row_number().over(w).cast("int"))
      .select(col("doc_id"), col("n_terms_hit"), col("score_fp"), col("rnk"))
  }

  val q114Sql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH stats AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  SUM(CAST(CASE WHEN LEN(TRIM(text)) = 0 THEN 0
       |      ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS BIGINT))
       |    AS total_tokens
       | FROM documents),
       |dl AS (
       | SELECT doc_id, CAST(CASE WHEN LEN(TRIM(text)) = 0 THEN 0
       |    ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS BIGINT) AS dl
       | FROM documents),
       |toks AS (
       | SELECT doc_id, UNNEST(LIST_FILTER(
       |   STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'), x -> x <> '')) AS token
       | FROM documents),
       |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       | FROM toks WHERE token IN ($terms) GROUP BY 1, 2),
       |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |scored AS (
       | SELECT tf.doc_id,
       |  CAST(FLOOR(1000000.0 * LN(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
       |    * tf.tf * ${Bm25K1 + 1} /
       |    (tf.tf + ${Bm25K1} *
       |      (${1 - Bm25B} + ${Bm25B} * dl.dl /
       |        (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs))))
       |   AS BIGINT) AS score_t
       | FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
       |per_doc AS (
       | SELECT doc_id, CAST(SUM(score_t) AS BIGINT) AS score_fp,
       |  CAST(COUNT(*) AS BIGINT) AS n_terms_hit
       | FROM scored GROUP BY 1),
       |ranked AS (
       | SELECT doc_id, n_terms_hit, score_fp,
       |  CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id ASC) AS INT) AS rnk
       | FROM per_doc)
       |SELECT doc_id, n_terms_hit, score_fp, rnk FROM ranked WHERE rnk <= 50""".stripMargin
  }

  // --- q115: relational division — documents containing ALL probe
  // terms (the "FORALL" join, the one classic relational operator the
  // inventory lacked). Shape: map-side isin prune, DISTINCT(doc, term)
  // then a count-matches-|terms| filter — one bounded shuffle; the
  // probe set never leaves the driver (literals). The reference's
  // blacklist EXISTS (q05) is the ∃ version; this is ∀.
  def q115(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val full = docs
      .select(col("doc_id"),
        explode(TextFunctions.wsTokens(lower(col("text")))).as("token"))
      .filter(col("token").isin(DivisionTerms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("token")).as("n_hit"))
      .filter(col("n_hit") === DivisionTerms.size)
    docs.join(full, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  val q115Sql: String = {
    val terms = DivisionTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       | SELECT doc_id, UNNEST(LIST_FILTER(
       |   STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'), x -> x <> '')) AS token
       | FROM documents),
       |hit AS (
       | SELECT doc_id FROM toks WHERE token IN ($terms)
       | GROUP BY 1 HAVING COUNT(DISTINCT token) = ${DivisionTerms.size})
       |SELECT d.doc_id, d.lang, d.source
       |FROM documents d JOIN hit USING (doc_id)""".stripMargin
  }

  // --- q116: deflate compression-ratio quality signal (rows-only: the
  // DEFLATE bitstream is JDK-specific, not portable SQL). Zero-shuffle
  // map stage; see operators.CompressionStats for the scale contract.
  def q116(s: SparkSession, dir: String): DataFrame =
    graft.operators.CompressionStats.deflateStats(
      Tables.documents(s, dir), "doc_id", "text")

  // --- q117: rolling-origin backtest folds with a 1-day embargo — the
  // temporal-leakage analog of q62's id-hash split (purged walk-forward
  // validation: train < cutoff, 1-day gap, 7-day test). One corpus scan:
  // the fold spine is a 3-element literal array exploded per event (no
  // per-fold re-scan), the origin is one scalar MIN broadcast (q47
  // pattern). Output is fold×split counts — the audit a modeler checks
  // before trusting a backtest.
  def q117(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val t0 = ev.agg(min(col("ts")).as("t0"))
    ev.crossJoin(broadcast(t0))
      .select(col("ts"), col("user_id"), col("t0"),
        explode(array((1 to 3).map(lit): _*)).as("fold"))
      .withColumn("split",
        when(col("ts") < expr("timestampadd(DAY, 7*fold, t0)"), lit("train"))
          .when(col("ts") >= expr("timestampadd(DAY, 7*fold+1, t0)") &&
            col("ts") < expr("timestampadd(DAY, 7*fold+8, t0)"), lit("test")))
      .filter(col("split").isNotNull)
      .groupBy(col("fold"), col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val q117Sql: String =
    """WITH t0 AS (SELECT MIN(ts) AS t0 FROM events),
      |folds AS (SELECT UNNEST([1, 2, 3]) AS fold),
      |tagged AS (
      | SELECT f.fold, e.user_id,
      |  CASE WHEN e.ts < t0.t0 + TO_DAYS(7*f.fold) THEN 'train'
      |       WHEN e.ts >= t0.t0 + TO_DAYS(7*f.fold + 1)
      |        AND e.ts < t0.t0 + TO_DAYS(7*f.fold + 8) THEN 'test'
      |  END AS split
      | FROM events e CROSS JOIN t0 CROSS JOIN folds f)
      |SELECT fold, split, CAST(COUNT(*) AS BIGINT) AS n_events,
      | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM tagged WHERE split IS NOT NULL GROUP BY 1, 2""".stripMargin

  // --- q118: BPE encode with the q113-learned merge table — the full
  // tokenizer loop (learn → broadcast merges → one encode map pass over
  // the corpus). Rows-only (the greedy merge loop isn't SQL);
  // CurationSpec pins the encoding against a driver-side reference and
  // the trainer's own final symbol state.
  def q118(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.operators.BpeTrainer.learn(docs, "text", 12)
      .orderBy(col("rank"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    graft.operators.BpeEncoder.encode(docs, "doc_id", "text", merges)
  }

  // --- q119: per-type value concentration — do a handful of users
  // dominate the volume? (the single-source-dominance audit a dataset
  // card wants, and the fraud analog of "whale" accounts). One
  // (type, user) integer-cents aggregation shuffle; the per-type top-10
  // then comes from GroupSample.TopPairsAgg — a bounded O(k) heap that
  // folds each partition to ≤ 10 (−cents, user) pairs and merges
  // associatively, so only |types|·10 pairs ever ship. The r7 shape (a
  // rank window over the per-user frame partitioned by event_type) was
  // exact but scale-weak: at 100 TB distinct users are ~10⁸-10⁹ rows
  // sorted inside ~5 type partitions. The share is FLOOR fixed-point
  // ppm — IEEE division of identical integers is bit-identical
  // cross-engine and FLOOR never tie-breaks (ROUND(double, 6) was the
  // r7 driver hash-fail); all sums are exact integer cents.
  def q119(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val top = udaf(new graft.operators.GroupSample.TopPairsAgg(10),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val perUser = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy("event_type", "user_id")
      .agg(sum(round(col("value") * 100).cast("bigint")).as("cents"))
    perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("total_cents"),
        top(-col("cents"), col("user_id")).as("s"))
      // kept keys are −cents of the top-10: negate-and-sum them back
      .withColumn("top10_cents",
        aggregate(col("s.keys"), lit(0L), (acc, x) => acc - x))
      .withColumn("top10_share_ppm",
        when(col("total_cents") === 0, lit(null).cast("bigint"))
          .otherwise(floor(lit(1e6) * col("top10_cents").cast("double") /
            col("total_cents").cast("double")).cast("bigint")))
      .select(col("event_type"), col("n_users"), col("total_cents"),
        col("top10_cents"), col("top10_share_ppm"))
  }

  val q119Sql: String =
    """WITH pu AS (
      | SELECT event_type, user_id,
      |  SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |r AS (
      | SELECT event_type, cents,
      |  ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY cents DESC, user_id ASC) AS rn
      | FROM pu)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      | CAST(SUM(cents) AS BIGINT) AS total_cents,
      | CAST(SUM(CASE WHEN rn <= 10 THEN cents ELSE 0 END) AS BIGINT) AS top10_cents,
      | CASE WHEN SUM(cents) = 0 THEN NULL
      |  ELSE CAST(FLOOR(1000000.0 * CAST(SUM(CASE WHEN rn <= 10 THEN cents ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(cents) AS DOUBLE)) AS BIGINT) END AS top10_share_ppm
      |FROM r GROUP BY 1""".stripMargin

  // --- q120: median-absolute-deviation robust outliers per type — the
  // robust twin of q60's 3σ rule (a single whale account drags a mean
  // and σ; it cannot drag a median). Exact type-1 order statistics via
  // the house rank convention (q97/q107) WITHOUT a corpus sort: the
  // corpus folds once into a (type, distinct-value) count histogram —
  // bounded for 2-decimal money values regardless of row count — and
  // the k-th order statistic falls out of a cumulative-count window
  // over that bounded frame (value v covering ranks C+1..C+cnt holds
  // rank k iff C < k ≤ C+cnt). The r7 shape (row_number over
  // partitionBy(event_type) on the raw stream, twice) was exact but
  // sorted ~1/|types| of the corpus in a single task per type at scale.
  // The deviation pass reuses the SAME histogram (weights ride along),
  // so the corpus is scanned exactly once; med/mad are types-sized and
  // broadcast. The approximate scale path for unbounded-cardinality
  // values remains q107's mergeable summary.
  def q120(s: SparkSession, dir: String): DataFrame = {
    // persisted: the histogram subtree feeds FOUR consumers (n census,
    // median pick, deviation histogram, final rollup) and is the only
    // corpus-scale work in the query — un-persisted, each reference
    // re-ran the events scan + groupBy (5 scans in the r13 plan; guide
    // §2.4). The frame itself is bounded (types × distinct 2-decimal
    // values), so the cache footprint is metadata-sized at any SF.
    val hist = caches.trackPersist(
      Tables.events(s, dir).filter(col("value").isNotNull)
        .groupBy("event_type", "value").agg(count(lit(1)).as("cnt")))
    val n = hist.groupBy("event_type").agg(sum(col("cnt")).as("n"))
    // exact k-th order statistic (k = (50n+99) div 100) from a
    // (type, value, cnt) histogram: cumulative counts over the bounded
    // distinct-value frame, pick the covering value
    def kth(h: DataFrame, c: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(c).asc)
      h.withColumn("cum", sum(col("cnt")).over(w))
        .join(broadcast(n), Seq("event_type"))
        .withColumn("k", expr("(50*n + 99) div 100"))
        .filter(col("cum") - col("cnt") < col("k") && col("k") <= col("cum"))
        .select(col("event_type"), col(c).as(out))
    }
    val med = kth(hist, "value", "med")
    val dev = hist.join(broadcast(med), Seq("event_type"))
      .withColumn("d", abs(col("value") - col("med")))
    val devHist = dev.groupBy("event_type", "d")
      .agg(sum(col("cnt")).as("cnt"))
    val mad = kth(devHist, "d", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n_events"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("d") > lit(3) * col("mad"), col("cnt")).otherwise(0L))
          .as("n_outliers"))
  }

  val q120Sql: String =
    """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |n AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
      |r1 AS (
      | SELECT e.event_type, value,
      |  ROW_NUMBER() OVER (PARTITION BY e.event_type ORDER BY value ASC) AS rk, n.n
      | FROM e JOIN n USING (event_type)),
      |med AS (SELECT event_type, value AS med FROM r1 WHERE rk = (50*n + 99)//100),
      |dev AS (
      | SELECT e.event_type, ABS(e.value - med.med) AS d, med.med
      | FROM e JOIN med USING (event_type)),
      |r2 AS (
      | SELECT dev.event_type, d,
      |  ROW_NUMBER() OVER (PARTITION BY dev.event_type ORDER BY d ASC) AS rk, n.n
      | FROM dev JOIN n USING (event_type)),
      |mad AS (SELECT event_type, d AS mad FROM r2 WHERE rk = (50*n + 99)//100)
      |SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      | MAX(dev.med) AS med, MAX(mad.mad) AS mad,
      | CAST(SUM(CASE WHEN dev.d > 3*mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev JOIN mad USING (event_type) GROUP BY 1""".stripMargin

  // --- q121: asymmetric containment dedup — the quote-inclusion case
  // Jaccard-tuned LSH structurally misses (see Dedup.containmentPairs
  // for the posting-intersection candidate generator and the
  // maxPostingDf recall contract). The oracle is the UNPRUNED all-pairs
  // SQL: max shingle df in the test corpora is 4, so the prune never
  // fires and the pruned pipeline must hash-match exactly.
  def q121(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(
      Tables.documents(s, dir), "doc_id", "text", n = 4, threshold = 0.8)

  val q121Sql: String =
    """WITH toks AS (
      | SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+') AS ws
      | FROM documents),
      |gr AS (SELECT doc_id, ws, UNNEST(RANGE(1, LEN(ws)-2)) AS i FROM toks),
      |sh AS (
      | SELECT DISTINCT doc_id,
      |  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
      | FROM gr),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
      |common AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
      | FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b, n_common, sa.sz AS size_a, sb.sz AS size_b,
      | CAST((n_common * 1000000) // LEAST(sa.sz, sb.sz) AS BIGINT) AS containment_ppm
      |FROM common
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(n_common AS DOUBLE) >= 0.8 * LEAST(sa.sz, sb.sz)""".stripMargin

  // --- q122: IVF ANN recall eval — q68's harness pointed at the IVF
  // index instead of hyperplane LSH, so BOTH approximate ANN paths ship
  // with a measured quality number (an index without a recall figure is
  // an unevaluated model, the round-5 q78 lesson). Rows-only; the spec
  // asserts a recall floor. Plan shape inherits q25/q49's allowlisted
  // probe-broadcast joins.
  def q122(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val probes = e.filter(col("vec_id") < 50)
    val bf = graft.operators.Similarity
      .bruteForceTopK(e, probes, "vec_id", "embedding", k = 10)
    val ivf = graft.operators.Similarity
      .ivfTopK(e, probes, "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4,
        indexKey = Some(dir))
      .withColumnRenamed("rank", "ivf_rank")
    bf.join(ivf, Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg((sum(when(col("ivf_rank").isNotNull, 1).otherwise(0)) / 10.0)
        .as("recall_at_10"))
  }

  // --- q123: funnel conversion latency — the TIME dimension q65's
  // funnel counts lack: per converting user, first view → first
  // subsequent purchase, with exact weekly p50/p90 latency (the house
  // type-1 rank convention, q107Sql). The rank window partitions by
  // cohort week over the per-USER latency frame — user-cardinality
  // rows split across weeks, never the event stream (q43's shape on an
  // already-aggregated frame).
  def q123(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("view_ts"))
    val lat = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts") >= col("view_ts"))
      .groupBy("user_id")
      .agg(min(col("ts")).as("purchase_ts"), min(col("view_ts")).as("view_ts"))
      .select(col("user_id"),
        // ISO-Monday week start computed ARITHMETICALLY from epoch days
        // (epoch day 0 = Thursday → Monday = d − (d+3) mod 7): engine
        // calendar builtins are the r7 hash-fail class (q127's DAYOFWEEK
        // flipped conventions across DuckDB versions; DATE_TRUNC('week')
        // is the same risk). Identical result to
        // to_date(date_trunc("week", ts)) — both are Monday starts —
        // but no calendar library on either side. DATE, not timestamp:
        // the driver compares schemas.
        date_add(lit("1970-01-01").cast("date"),
          expr("CAST(unix_micros(view_ts) div 86400000000 - " +
            "(unix_micros(view_ts) div 86400000000 + 3) % 7 AS INT)"))
          .as("week"),
        ((unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))) /
          lit(1000000.0)).as("latency_s"))
    val n = lat.groupBy("week").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("week")
      .orderBy(col("latency_s").asc, col("user_id").asc)
    lat.withColumn("rk", row_number().over(w))
      .join(n, Seq("week"))
      .groupBy("week")
      .agg(max(col("n")).as("n_conversions"),
        max(when(col("rk") === expr("(50*n + 99) div 100"), col("latency_s")))
          .as("p50_s"),
        max(when(col("rk") === expr("(90*n + 99) div 100"), col("latency_s")))
          .as("p90_s"))
  }

  val q123Sql: String =
    """WITH fv AS (
      | SELECT user_id, MIN(ts) AS view_ts FROM events
      | WHERE event_type = 'view' GROUP BY 1),
      |conv AS (
      | SELECT e.user_id, MIN(e.ts) AS purchase_ts, MIN(fv.view_ts) AS view_ts
      | FROM events e JOIN fv USING (user_id)
      | WHERE e.event_type = 'purchase' AND e.ts >= fv.view_ts
      | GROUP BY 1),
      |lat AS (
      | SELECT user_id,
      |  DATE '1970-01-01' + CAST(EPOCH_US(view_ts) // 86400000000
      |    - (EPOCH_US(view_ts) // 86400000000 + 3) % 7 AS INT) AS week,
      |  (EPOCH_US(purchase_ts) - EPOCH_US(view_ts)) / 1000000.0 AS latency_s
      | FROM conv),
      |n AS (SELECT week, COUNT(*) AS n FROM lat GROUP BY 1),
      |r AS (
      | SELECT lat.week, latency_s, n.n,
      |  ROW_NUMBER() OVER (PARTITION BY lat.week
      |    ORDER BY latency_s ASC, user_id ASC) AS rk
      | FROM lat JOIN n USING (week))
      |SELECT week, CAST(MAX(n) AS BIGINT) AS n_conversions,
      | MAX(CASE WHEN rk = (50*n + 99)//100 THEN latency_s END) AS p50_s,
      | MAX(CASE WHEN rk = (90*n + 99)//100 THEN latency_s END) AS p90_s
      |FROM r GROUP BY 1""".stripMargin

  // --- q124: top session journey paths — which ordered event-type
  // sequences do sessions actually follow? (the open-vocabulary
  // complement of q65's prescribed funnel and q104's one-step matrix).
  // Shape: q37's sessionization window (one user_id exchange), one
  // session-key aggregation building the path via sort_array over
  // (ts, event_id, type) structs — deterministic total order inside a
  // codegen'd HOF, no second window — then a path-count agg and
  // TakeOrdered top-20 (never a global sort of the path inventory).
  def q124(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    val paths = Tables.events(s, dir)
      .withColumn("prv_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prv_ts").isNull ||
          col("ts") > col("prv_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(wCum))
      .groupBy("user_id", "session_seq")
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          e => e.getField("event_type")), ">").as("path"))
    paths.groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("n_sessions").desc, col("path").asc)).cast("int"))
  }

  val q124Sql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |  event_type FROM events),
      |b AS (
      | SELECT user_id, ts, event_id, event_type,
      |  CASE WHEN LAG(ts) OVER w IS NULL
      |        OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      | SELECT user_id, ts, event_id, event_type,
      |  CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      | FROM b),
      |p AS (
      | SELECT user_id, session_seq,
      |  STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
      | FROM c GROUP BY 1, 2),
      |n AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM p GROUP BY 1),
      |r AS (SELECT path, n_sessions,
      |  CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC) AS INT) AS rnk
      | FROM n)
      |SELECT path, n_sessions, rnk FROM r WHERE rnk <= 20""".stripMargin

  /** Candidate functional dependencies q125 audits: does the left
    * column determine the right one? Literal pairs, like q114's terms.
    */
  val FdCandidates: Seq[(String, String)] = Seq(
    ("doc_id", "lang"), ("doc_id", "source"),
    ("source", "lang"), ("lang", "source"))

  // --- q125: functional-dependency profiling — the RELATIONSHIP
  // complement of q58's single-column profile (does A determine B, and
  // if not, how broken is the dependency?). One groupBy-on-determinant
  // shuffle per candidate pair, then a metadata-sized fold: per pair,
  // the key count, the violating-key count (keys mapping to >1
  // dependent value), and the worst fan-out. An exact-FD row shows
  // 0 violations — the schema-inference / data-contract check a
  // warehouse runs before trusting a "unique key".
  def q125(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    FdCandidates.map { case (det, dep) =>
      docs.groupBy(col(det))
        .agg(countDistinct(col(dep)).as("n_images"))
        .agg(lit(det).as("determinant"), lit(dep).as("dependent"),
          count(lit(1)).as("n_keys"),
          sum(when(col("n_images") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("n_images")).as("max_fanout"))
    }.reduce(_ unionByName _)
  }

  val q125Sql: String = FdCandidates.map { case (det, dep) =>
    s"""SELECT '$det' AS determinant, '$dep' AS dependent,
       | CAST(COUNT(*) AS BIGINT) AS n_keys,
       | CAST(SUM(CASE WHEN n_images > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       | CAST(MAX(n_images) AS BIGINT) AS max_fanout
       |FROM (SELECT $det, COUNT(DISTINCT $dep) AS n_images
       |      FROM documents GROUP BY 1)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "")

  // --- q126: exact Gini coefficient of the value distribution per
  // type — the inequality summary behind q119's top-10 share (one
  // number instead of one cut point). Values become exact integer
  // cents; the classic rank formula G = (2·Σrk·c − (n+1)·Σc)/(n·Σc)
  // then runs on integers cross-engine-exactly (the q112 posture —
  // exact while n·Σc < 2^63, ANSI overflow is loud past that, cast the
  // accumulators to double for the approximate regime beyond). Ties on
  // value permute ranks freely (equal values make Σrk·c invariant), so
  // rank mass needs no per-row ranks at all: the corpus folds once into
  // a (type, cents) count histogram — bounded for 2-decimal money —
  // and a value c with count m and exclusive-cumulative count C covers
  // ranks C+1..C+m, contributing c·(m·C + m(m+1)/2). The r7 shape (a
  // row_number window over partitionBy(event_type) on the raw stream)
  // was exact but sorted ~1/|types| of the corpus in one task per type
  // at scale; the cumulative window here runs over the bounded
  // histogram. The ratio is FLOOR fixed-point ppm of the exact integer
  // pair — IEEE division is bit-identical cross-engine, FLOOR never
  // tie-breaks (ROUND(double, 6) is the r7 hash-fail class).
  def q126(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("event_type"),
        round(col("value") * 100).cast("bigint").as("c"))
      .groupBy("event_type", "c").agg(count(lit(1)).as("m"))
    val w = Window.partitionBy("event_type").orderBy(col("c").asc)
    hist.withColumn("cum", sum(col("m")).over(w))
      .withColumn("cb", col("cum") - col("m"))
      .groupBy("event_type")
      .agg(sum(col("m")).as("n"),
        sum(col("c") * col("m")).as("total_cents"),
        sum(col("c") * (col("m") * col("cb") + expr("m * (m + 1) div 2")))
          .as("rank_mass"))
      .select(col("event_type"), col("n"), col("total_cents"),
        (lit(2) * col("rank_mass") - (col("n") + 1) * col("total_cents"))
          .as("gini_num"),
        (col("n") * col("total_cents")).as("gini_den"),
        when(col("n") * col("total_cents") === 0, lit(null).cast("bigint"))
          .otherwise(floor(lit(1e6) *
            (lit(2) * col("rank_mass") - (col("n") + 1) * col("total_cents"))
              .cast("double") /
            (col("n") * col("total_cents")).cast("double")).cast("bigint"))
          .as("gini_ppm"))
  }

  val q126Sql: String =
    """WITH e AS (
      | SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS c
      | FROM events WHERE value IS NOT NULL AND value >= 0),
      |r AS (
      | SELECT event_type, c,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY c ASC, event_id ASC) AS BIGINT) AS rk
      | FROM e),
      |a AS (
      | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(c) AS BIGINT) AS total_cents,
      |  CAST(SUM(rk * c) AS BIGINT) AS rank_mass
      | FROM r GROUP BY 1)
      |SELECT event_type, n, total_cents,
      | CAST(2*rank_mass - (n + 1)*total_cents AS BIGINT) AS gini_num,
      | CAST(n*total_cents AS BIGINT) AS gini_den,
      | CASE WHEN n*total_cents = 0 THEN NULL
      |  ELSE CAST(FLOOR(1000000.0 * CAST(2*rank_mass - (n + 1)*total_cents AS DOUBLE)
      |   / CAST(n*total_cents AS DOUBLE)) AS BIGINT) END AS gini_ppm
      |FROM a""".stripMargin

  // --- q127: day-of-week × hour activity heatmap per type — the ops
  // dashboard staple (when does fraud traffic actually arrive?). Pure
  // partial-aggregable counts on derived calendar keys: one shuffle of
  // ≤ types·7·24 groups. BOTH keys are computed arithmetically from
  // epoch microseconds — no DAYOFWEEK/HOUR builtins anywhere: the r7
  // driver hash-fail was exactly a calendar-builtin convention shift
  // across DuckDB versions (0=Sunday vs 1=Sunday), invisible to the
  // local v1.0.0 gate. Epoch day 0 (1970-01-01) is a Thursday, so
  // dow = (day + 4) mod 7 + 1 lands on the 1=Sunday..7=Saturday
  // convention Spark's dayofweek uses (CurationSpec pins Thursday);
  // hr = (µs div 3600e6) mod 24. Timestamps are post-1970 so integer
  // div/mod agree across engines without floor-mod care.
  def q127(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("CAST((unix_micros(ts) div 86400000000 + 4) % 7 + 1 AS INT)")
          .as("dow"),
        expr("CAST(unix_micros(ts) div 3600000000 % 24 AS INT)").as("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).cast("long")
          .as("sum_cents"))

  val q127Sql: String =
    """SELECT event_type,
      | CAST((EPOCH_US(ts) // 86400000000 + 4) % 7 + 1 AS INT) AS dow,
      | CAST((EPOCH_US(ts) // 3600000000) % 24 AS INT) AS hr,
      | CAST(COUNT(*) AS BIGINT) AS n_events,
      | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  // --- q128: CUSUM changepoint detection on daily volume per type —
  // WHEN did behavior shift? (q112 answers "did the distribution
  // drift"; this finds the day the level broke). Classic CUSUM against
  // the period mean, exact integers via cross-multiplication: with D
  // days and N total events, S_d = Σ_{i≤d} (n_i·D − N) is an integer
  // (the float formulation Σ(n_i − N/D) times D), and the changepoint
  // is argmax |S_d| with the earliest-day tie-break. Corpus-scale work
  // is ONE (type, day) count shuffle; the cumulative window and argmax
  // run on the types·days frame — metadata next to the fact stream.
  // The CUSUM finisher is StreamingFraud.changepointOf, SHARED with the
  // streaming twin changepointStream so stream = batch by construction.
  def q128(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingFraud.changepointOf(
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n")))

  val q128Sql: String =
    """WITH daily AS (
      | SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      | FROM events GROUP BY 1, 2),
      |t AS (
      | SELECT event_type, day, n,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n_days,
      |  SUM(n) OVER (PARTITION BY event_type) AS n_total
      | FROM daily),
      |c AS (
      | SELECT event_type, day, n_days, n_total,
      |  SUM(n*n_days - n_total) OVER (PARTITION BY event_type ORDER BY day ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      | FROM t),
      |r AS (
      | SELECT event_type, day, s, n_days, n_total,
      |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(s) DESC, day ASC) AS rk
      | FROM c)
      |SELECT event_type, day AS change_day, CAST(s AS BIGINT) AS cusum_s,
      | CAST(ABS(s) AS BIGINT) AS cusum_abs,
      | CAST(n_days AS BIGINT) AS n_days, CAST(n_total AS BIGINT) AS n_total
      |FROM r WHERE rk = 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q128_changepoint"    -> (q128 _),
    "q126_gini"           -> (q126 _),
    "q127_heatmap"        -> (q127 _),
    "q125_fd_profile"     -> (q125 _),
    "q124_session_paths"  -> (q124 _),
    "q122_ivf_recall"     -> (q122 _),
    "q123_funnel_latency" -> (q123 _),
    "q114_bm25"           -> (q114 _),
    "q115_contains_all"   -> (q115 _),
    "q116_compress_ratio" -> (q116 _),
    "q117_rolling_folds"  -> (q117 _),
    "q118_bpe_encode"     -> (q118 _),
    "q119_concentration"  -> (q119 _),
    "q120_mad_outliers"   -> (q120 _),
    "q121_containment"    -> (q121 _))

  override val oracle: Map[String, String] = Map(
    "q128_changepoint"    -> q128Sql,
    "q126_gini"           -> q126Sql,
    "q127_heatmap"        -> q127Sql,
    "q125_fd_profile"     -> q125Sql,
    "q124_session_paths"  -> q124Sql,
    "q123_funnel_latency" -> q123Sql,
    "q114_bm25"          -> q114Sql,
    "q115_contains_all"  -> q115Sql,
    "q117_rolling_folds" -> q117Sql,
    "q119_concentration" -> q119Sql,
    "q120_mad_outliers"  -> q120Sql,
    "q121_containment"   -> q121Sql)
}
