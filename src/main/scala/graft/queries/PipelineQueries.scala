package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Training-data pipeline operators (SURVEY.md §2, q62–q69): dataset
  * splitting, sampling, sequence packing, funnel/retention analytics,
  * debounce dedup, ANN quality evaluation, and co-occurrence mining.
  *
  * Oracle-parity note: the split/sample queries derive pseudo-randomness
  * from a SMALL multiplicative hash (`id·a + c mod m`) instead of
  * xxhash64, because the DuckDB oracle has no xxhash64 and Spark 4's
  * ANSI mode rejects deliberately-overflowing 64-bit universal hashing.
  * Overflow bounds differ per multiplier: q62's 2654435761 is exact up
  * to ids ≈ 3.4·10^9 (beyond that ANSI mode throws — it does NOT
  * silently corrupt), q63's 48271 up to ~1.9·10^14. The production
  * splitter below ([[hashSplit]]) takes any Column, so callers at
  * open-ended id scale pass `xxhash64(...)` instead.
  */
object PipelineQueries extends QuerySet {

  // Cache ownership ([[graft.util.CacheTracker]]): q69/q109 share the
  // per-doc token-set frame and its vocabulary through session memos.
  private val caches = new graft.util.CacheTracker

  /** Deterministic bucket in [0, 100) from a numeric id column.
    * Exact only for ids < 2^63 / 2654435761 ≈ 3.4·10^9; ANSI mode makes
    * overflow LOUD, and [[hashSplit]] accepts xxhash64 beyond that.
    */
  private def splitBucket(id: org.apache.spark.sql.Column) =
    pmod(id * lit(2654435761L) + lit(104729L), lit(100L))

  /** Assign train/val/test by hashed id — the standard leakage-free
    * dataset split (same id always lands in the same split, independent
    * of row order or partitioning). `hash` defaults to the oracle-parity
    * multiplicative hash; pass `xxhash64(col)` for open id domains.
    */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int, valPct: Int,
                hash: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val b = hash.getOrElse(splitBucket(col(idCol)))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  // --- q62: hash-based train/val/test split (80/10/10), audited per lang ---
  def q62(s: SparkSession, dir: String): DataFrame =
    hashSplit(Tables.documents(s, dir), "doc_id", 80, 10)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))

  val q62Sql: String =
    """WITH d AS (SELECT lang, n_chars,
      |  CASE WHEN (doc_id*2654435761+104729)%100 < 80 THEN 'train'
      |       WHEN (doc_id*2654435761+104729)%100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      | FROM documents)
      |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM d GROUP BY 1, 2""".stripMargin

  // --- q63: deterministic stratified sample: 20 docs per lang stratum ---
  // Order within a stratum is a scrambled-id pseudo-random permutation
  // (MINSTD multiplier), id-tiebroken — reproducible across runs,
  // partitionings, and engines, unlike rand()-based sampleBy.
  def q63(s: SparkSession, dir: String): DataFrame = {
    val skey = pmod(col("doc_id") * lit(48271L) + lit(12821L), lit(1000003L))
    val w = Window.partitionBy("lang").orderBy(skey.asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select("lang", "doc_id", "rk")
  }

  val q63Sql: String =
    """WITH r AS (SELECT lang, doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY (doc_id*48271+12821)%1000003 ASC, doc_id ASC) AS INT) AS rk
      | FROM documents)
      |SELECT lang, doc_id, rk FROM r WHERE rk <= 20""".stripMargin

  // --- q64: concat-and-chop sequence packing into 4096-char context
  // windows per source (the pretraining data layout: documents are
  // concatenated in a deterministic order and chopped at window
  // boundaries; a document can straddle windows). Pure window arithmetic
  // — one shuffle on the packing key, linear at corpus scale.
  def q64(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .withColumn("cum", sum("n_chars").over(w))
      .select(col("doc_id"), col("source"),
        expr("(cum - n_chars) div 4096").as("pack_first"),
        expr("(cum - 1) div 4096").as("pack_last"),
        expr("(cum - 1) div 4096 - (cum - n_chars) div 4096 + 1").as("n_windows"))
  }

  val q64Sql: String =
    """WITH c AS (SELECT doc_id, source, n_chars,
      |  SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      | FROM documents WHERE n_chars > 0)
      |SELECT doc_id, source,
      | CAST((cum - n_chars) // 4096 AS BIGINT) AS pack_first,
      | CAST((cum - 1) // 4096 AS BIGINT) AS pack_last,
      | CAST((cum - 1) // 4096 - (cum - n_chars) // 4096 + 1 AS BIGINT) AS n_windows
      |FROM c""".stripMargin

  // --- q65: ordered conversion funnel view → click → purchase per user.
  // Each stage's timestamp must be strictly after the previous stage's —
  // min-after-join per stage, all broadcast-able aggregates.
  def q65(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select("user_id", "t_view", "t_click", "t_purchase")
  }

  val q65Sql: String =
    """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |v AS (SELECT user_id, MIN(ts) AS t_view
      |  FROM ev WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM ev e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      |  FROM ev e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
      |  WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT v.user_id, t_view, t_click, t_purchase
      |FROM v LEFT JOIN c ON c.user_id = v.user_id
      |       LEFT JOIN p ON p.user_id = v.user_id""".stripMargin

  // --- q66: weekly cohort retention (cohort = day of first event;
  // week_n = full weeks since) — distinct-user counts per cell.
  def q66(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firsts = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
    ev.join(firsts, Seq("user_id"))
      .withColumn("week_n",
        expr("datediff(to_date(ts), cohort_day) div 7").cast("long"))
      .groupBy("cohort_day", "week_n")
      .agg(countDistinct("user_id").as("n_users"))
  }

  val q66Sql: String =
    """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      |  FROM events GROUP BY 1)
      |SELECT cohort_day,
      | CAST(DATE_DIFF('day', cohort_day, CAST(ts AS DATE)) // 7 AS BIGINT) AS week_n,
      | CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM events e JOIN f ON f.user_id = e.user_id
      |GROUP BY 1, 2""".stripMargin

  // --- q67: debounce dedup — keep the first event per (user, type)
  // within each 5-minute tumbling bucket. The time-windowed flavor of
  // keep-first dedup (q50): bounded state at stream scale, one shuffle.
  def q67(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr("unix_micros(ts) div 300000000")
    val w = Window.partitionBy(col("user_id"), col("event_type"), bucket)
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_id", "user_id", "event_type", "ts")
  }

  val q67Sql: String =
    """WITH r AS (SELECT event_id, user_id, event_type, ts,
      |  ROW_NUMBER() OVER (
      |    PARTITION BY user_id, event_type,
      |      epoch_us(CAST(ts AS TIMESTAMP)) // 300000000
      |    ORDER BY ts ASC, event_id ASC) AS rn
      | FROM events)
      |SELECT event_id, user_id, event_type, ts FROM r WHERE rn = 1""".stripMargin

  // --- q68: ANN quality evaluation — recall@10 of the LSH index against
  // exact brute force, per probe. The eval harness every approximate
  // index needs before replacing the exact path at scale. (rows-only:
  // the LSH side's float hyperplane hashes aren't SQL-reproducible.)
  def q68(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val probes = e.filter(col("vec_id") < 50)
    val bf = Similarity.bruteForceTopK(e, probes, "vec_id", "embedding", k = 10)
    val lsh = Similarity.lshTopK(e, probes, "vec_id", "embedding",
        k = 10, nBits = 4, dim = 64)
      .withColumnRenamed("rank", "lsh_rank")
    bf.join(lsh, Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg((sum(when(col("lsh_rank").isNotNull, 1).otherwise(0)) / 10.0)
        .as("recall_at_10"))
  }

  // --- q69: token co-occurrence mining — document frequency of token
  // pairs. Per-doc distinct tokens are quadratic per document, so the
  // vocabulary is BOUNDED IN CODE before any pairing: only the CoocTopK
  // highest-document-frequency tokens participate (deterministic
  // tie-break on the token itself). The top-K is orderBy+limit —
  // Spark plans that as TakeOrderedAndProject, a distributed per-
  // partition top-K merge, never a single-partition sort of the full
  // vocabulary — and the prune is a broadcast semi-join, so an open
  // 100 TB vocabulary costs one agg + one map-side filter. Pairs come
  // from the per-doc sorted DISTINCT matched-token array (collect_set
  // dedups inside the one groupBy(doc) shuffle) exploded map-side —
  // tok_a < tok_b by the array sort, each unordered pair once per doc,
  // exactly the r13 self-join's semantics without its second full
  // shuffle of the pruned token stream (guide §2.3: aggregate before
  // you shuffle; the pair stream that reaches the (tok_a, tok_b)
  // exchange is ≤ K²/2 rows per doc of two short strings).
  val CoocTopK = 300

  /** The session's per-doc DISTINCT-token-set frame for `dir` — the
    * single tokenization pass q69 and q109 share (q109 re-runs q69's
    * whole DAG for its edge set; without the memo each consumer paid
    * the corpus regex-split twice more). Deterministic for a fixed
    * corpus.
    */
  private val docSetsMemo = caches.memo[String, DataFrame]("doc_token_sets", Seq(_))

  private def docTokenSets(s: SparkSession, dir: String): DataFrame =
    docSetsMemo(s, dir) {
      caches.trackPersist(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("doc_id").agg(collect_set(col("tok")).as("ts")))
    }

  /** The collected CoocTopK vocabulary per dir. The vocab aggregation is
    * an EAGER driver-side collect inside the q69 constructor, so without
    * a memo every construction (warmup + two bench passes + q109's
    * embedding of q69) re-ran the explode+groupBy+top-K job over the
    * cached sets — the r14 advisor's point. The docSets frame is its
    * input: when that frame is rebuilt, the vocab recomputes with it.
    * Deterministic for a fixed corpus (count desc, token asc tie-break).
    */
  private val vocabMemo = caches.memo[String, Seq[String]]("cooc_vocab")

  private def coocVocab(docSets: DataFrame, dir: String): Seq[String] =
    vocabMemo(docSets.sparkSession, dir, docSets) {
      docSets.select(explode(col("ts")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok").asc)
        .limit(CoocTopK)
        .select("tok").collect().map(_.getString(0)).toSeq
    }

  def q69(s: SparkSession, dir: String): DataFrame = {
    val docSets = docTokenSets(s, dir)
    // document frequency straight off the distinct sets; the top-K
    // vocabulary is CoocTopK rows — a code-literal bound — so it lands
    // on the driver as an array literal (the q109 bounded-driver
    // precedent) and the basket prune becomes a map-side
    // array_intersect over the cached sets: no second corpus pass, no
    // broadcast-join round trip. Collected once per (docSets frame, dir)
    // via [[coocVocab]].
    val vocab = coocVocab(docSets, dir)
    // pairs explode from per-doc SORTED VOCAB-INDEX arrays (ints, not
    // strings): the pair stream is quadratic in matched tokens per doc
    // (up to K²/2 rows), so each row carries two ints instead of two
    // tokens — less explode garbage, int-keyed partial aggregation —
    // and the ≤ K²/2-row result maps indices back to tokens at the
    // end. The vocab literal is sorted, so index order IS string
    // order: ia < ib ⇔ tok_a < tok_b — each unordered pair once per
    // doc, the exact self-join semantics.
    val vocabSorted = vocab.sorted
    val vocabLit = array(vocabSorted.map(lit): _*)
    docSets
      .withColumn("vArr", vocabLit)
      .select(expr(
        "sort_array(filter(transform(ts, t -> int(array_position(vArr, t))), " +
          "i -> i > 0))").as("ix"))
      .select(explode(expr(
        "flatten(transform(ix, (x, i) -> " +
          "transform(slice(ix, i + 2, size(ix) - i - 1), " +
          "y -> struct(x AS ia, y AS ib))))")).as("p"))
      .groupBy(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .agg(count(lit(1)).as("n_docs"))
      .select(element_at(vocabLit, col("ia")).as("tok_a"),
        element_at(vocabLit, col("ib")).as("tok_b"), col("n_docs"))
  }

  val q69Sql: String =
    s"""WITH toks AS (
      | SELECT DISTINCT doc_id, tok FROM (
      |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(lower(text), '\\s+')) AS tok
      |  FROM documents)
      | WHERE LEN(tok) > 0),
      |vocab AS (
      | SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
      | ORDER BY df DESC, tok ASC LIMIT $CoocTopK),
      |pt AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok))
      |SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM pt a JOIN pt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |GROUP BY 1, 2""".stripMargin

  // --- q109: triangle enumeration over the co-occurrence graph —
  // cohesive token triples (every pair co-occurs in >= TriMinSupport
  // docs), the classic graph-analytics primitive q88's PageRank and
  // q55's components don't cover. The edge set derives from q69, whose
  // CoocTopK prune bounds it at K²/2 rows — metadata-sized for ANY
  // corpus size — so the edges materialize on the driver (the q55
  // bounded-driver precedent; K=300 → ≤45k edges) and the three-way
  // triangle join runs entirely on broadcast copies: the only
  // corpus-scale work is q69's single scan + one shuffle. Canonical
  // pair order (a<b from q69) means each triangle emits exactly once
  // as a<b<c with no orientation pass; `support` = the weakest edge.
  val TriMinSupport = 320

  def q109(s: SparkSession, dir: String): DataFrame = {
    val edges = q69(s, dir).filter(col("n_docs") >= TriMinSupport)
      .select("tok_a", "tok_b", "n_docs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val e1 = s.createDataFrame(edges).toDF("tok_a", "tok_b", "w1")
    val e2 = s.createDataFrame(edges).toDF("tok_b", "tok_c", "w2")
    val e3 = s.createDataFrame(edges).toDF("tok_a", "tok_c", "w3")
    e1.join(e2, "tok_b").join(e3, Seq("tok_a", "tok_c"))
      .select(col("tok_a"), col("tok_b"), col("tok_c"),
        least(col("w1"), col("w2"), col("w3")).as("support"))
  }

  val q109Sql: String =
    s"""WITH toks AS (
      | SELECT DISTINCT doc_id, tok FROM (
      |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(lower(text), '\\s+')) AS tok
      |  FROM documents)
      | WHERE LEN(tok) > 0),
      |vocab AS (
      | SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
      | ORDER BY df DESC, tok ASC LIMIT $CoocTopK),
      |pt AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok)),
      |edges AS (SELECT a.tok AS ta, b.tok AS tb, COUNT(*) AS n_docs
      | FROM pt a JOIN pt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      | GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport)
      |SELECT e1.ta AS tok_a, e1.tb AS tok_b, e2.tb AS tok_c,
      | CAST(LEAST(e1.n_docs, e2.n_docs, e3.n_docs) AS BIGINT) AS support
      |FROM edges e1 JOIN edges e2 ON e2.ta = e1.tb
      | JOIN edges e3 ON e3.ta = e1.ta AND e3.tb = e2.tb""".stripMargin

  // --- q76: benchmark decontamination — corpus docs sharing a 5-word
  // n-gram with the (doc_id % 11 == 0) eval split. Eval n-grams
  // broadcast; corpus streams once (oracle-checked).
  def q76(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Decontaminate.overlapFlags(
      docs.filter(col("doc_id") % 11 =!= 0),
      docs.filter(col("doc_id") % 11 === 0),
      "doc_id", "text", n = 5)
  }

  val q76Sql: String =
    """WITH tok AS (SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS w
      |  FROM documents),
      |eg AS (SELECT DISTINCT ARRAY_TO_STRING(w[i:i+4], ' ') AS ngram
      |  FROM (SELECT w, UNNEST(GENERATE_SERIES(1, LEN(w) - 4)) AS i
      |        FROM tok WHERE doc_id % 11 = 0 AND LEN(w) >= 5)),
      |cg AS (SELECT doc_id, ARRAY_TO_STRING(w[i:i+4], ' ') AS ngram
      |  FROM (SELECT doc_id, w, UNNEST(GENERATE_SERIES(1, LEN(w) - 4)) AS i
      |        FROM tok WHERE doc_id % 11 <> 0 AND LEN(w) >= 5))
      |SELECT doc_id, CAST(COUNT(DISTINCT ngram) AS BIGINT) AS n_contaminated
      |FROM cg JOIN eg USING (ngram) GROUP BY 1""".stripMargin

  // --- q70: z-order skipping index over orders (custkey × orderkey).
  // The per-bucket min/max stats ARE the pruning index a scan planner
  // consults; the spec asserts the locality win vs a single-column sort.
  def q70(s: SparkSession, dir: String): DataFrame =
    graft.operators.ZOrder.skippingIndex(
      Tables.orders(s, dir), Seq("o_custkey", "o_orderkey"),
      bits = 16, bucketShift = 16)

  val q70Sql: String = {
    val z = graft.operators.ZOrder.zvalueSql(Seq("o_custkey", "o_orderkey"), 16)
    s"""SELECT ($z) >> 16 AS zbucket,
       | CAST(COUNT(*) AS BIGINT) AS n_rows,
       | MIN(o_custkey) AS min_o_custkey, MAX(o_custkey) AS max_o_custkey,
       | MIN(o_orderkey) AS min_o_orderkey, MAX(o_orderkey) AS max_o_orderkey
       |FROM orders GROUP BY 1""".stripMargin
  }

  // --- q71: ordered bigram counts (language-model transition counts).
  // Adjacency pairs from the codegen'd position-explode bigram stream
  // (TextFunctions.wordBigrams — see its doc for why not zip_with);
  // the count is one hash aggregation, corpus-linear.
  def q71(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextFunctions
      .wordBigrams(Tables.documents(s, dir), "doc_id", "text")
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_pairs"))

  val q71Sql: String =
    """WITH t AS (SELECT STRING_SPLIT_REGEX(TRIM(lower(text)), '\s+') AS toks
      |  FROM documents),
      |b AS (SELECT UNNEST(toks[1:LEN(toks)-1]) AS tok_a,
      |             UNNEST(toks[2:LEN(toks)]) AS tok_b
      |      FROM t WHERE LEN(toks) > 1)
      |SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM b GROUP BY 1, 2""".stripMargin

  // --- q79: epoch-aware weighted dataset mixing (the pretraining
  // "data mixture" op): each language gets a sampling weight in
  // thousandths — en 2.5 epochs, zh 1.0, the rest 0.5 — and every doc
  // materializes floor(w) full copies plus one fractional-epoch copy
  // kept by a deterministic per-(doc, epoch) hash draw. One explode +
  // one codegen'd filter, no shuffle at all: at 100 TB the mixture is
  // a streaming map over the corpus. Integer thousandths keep the
  // keep-test exact (no float compare) and oracle-reproducible; the
  // multiplicative hash bounds are q62's (exact to doc_id ~3.4e9,
  // ANSI-loud beyond).
  def q79(s: SparkSession, dir: String): DataFrame = {
    val w = when(col("lang") === "en", 2500L)
      .when(col("lang") === "zh", 1000L).otherwise(500L)
    Tables.documents(s, dir)
      .withColumn("w", w)
      .withColumn("epoch", explode(sequence(lit(0L), expr("(w + 999) div 1000 - 1"))))
      .filter(pmod(col("doc_id") * 48271L + col("epoch") * 7919L + 12345L, lit(1000L)) <
        least(lit(1000L), col("w") - col("epoch") * 1000L))
      .select(col("doc_id"), col("lang"), col("epoch"))
  }

  val q79Sql: String =
    """WITH w AS (SELECT doc_id, lang,
      |  CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 1000 ELSE 500 END AS w
      | FROM documents),
      |e AS (SELECT doc_id, lang, w,
      |  UNNEST(GENERATE_SERIES(0, (w + 999) // 1000 - 1)) AS epoch FROM w)
      |SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch FROM e
      |WHERE (doc_id*48271 + epoch*7919 + 12345) % 1000 < LEAST(1000, w - epoch*1000)""".stripMargin

  /** Epoch-seeded deterministic global reshuffle into training shards:
    * every row gets a shard (balanced — an odd multiplier is a
    * bijection mod nShards) and a position within the shard (ordered
    * by a second, independent scramble), so a data loader can replay
    * any epoch's exact order from the manifest alone. Changing `epoch`
    * permutes both assignments without touching the data.
    *
    * Scale shape: one hash exchange on `shard`, then a per-shard sort.
    * nShards is the dial — at 100 TB pick nShards ≈ corpus/1 GB so
    * each window partition is a bounded in-memory sort, never a global
    * one. Hash constants inherit q62's ANSI-overflow bounds (exact to
    * id ≈ 3.4e9, loud beyond; pass wider constants or xxhash64 via a
    * custom `shardKey` for open domains).
    */
  def epochShuffle(df: DataFrame, idCol: String, nShards: Int, epoch: Long): DataFrame = {
    require(nShards >= 1, s"epochShuffle: nShards must be >= 1, got $nShards")
    val id = col(idCol)
    val shard = pmod(id * 48271L + lit(7919L * (epoch + 1)), lit(nShards.toLong)).cast("int")
    val skey = pmod(id * 2654435761L + lit(104729L * (epoch + 1)), lit(1000003L))
    df.select(id, shard.as("shard"), skey.as("__skey"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy("shard").orderBy(col("__skey"), id)).cast("int"))
      .drop("__skey")
  }

  // --- q106: epoch-0 shard manifest for the documents corpus (16
  // shards; row-level output so the oracle checks every assignment and
  // every within-shard position, not just counts) ---
  def q106(s: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(s, dir), "doc_id", 16, 0L)

  val q106Sql: String =
    """SELECT doc_id,
      |  CAST((doc_id*48271 + 7919) % 16 AS INT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY (doc_id*48271 + 7919) % 16
      |       ORDER BY (doc_id*2654435761 + 104729) % 1000003, doc_id) AS INT) AS pos
      |FROM documents""".stripMargin

  // --- q102: the stratified sample as a mergeable bounded summary —
  // q63's scale twin (same deterministic MINSTD scramble, same output,
  // same oracle) with the window sort replaced by GroupSample's
  // Aggregator: each partition folds to at most k (skey, doc_id) pairs
  // per stratum, partials merge by k-way sorted-merge, and the shuffle
  // carries |strata| × k pairs instead of the corpus. At 100 TB the
  // window plan moves and sorts every row inside a handful of stratum
  // partitions; this plan is one scan + a metadata-sized exchange.
  // Identical output because the k smallest pairs of a deterministic
  // key are merge-order-independent — CORRECTNESS hash-checks it
  // against the exact row_number oracle.
  def q102(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val samp = udaf(new graft.operators.GroupSample.GroupSampleAgg(20),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    Tables.documents(s, dir)
      .select(col("lang"),
        pmod(col("doc_id") * lit(48271L) + lit(12821L), lit(1000003L)).as("skey"),
        col("doc_id"))
      .groupBy("lang")
      .agg(samp(col("skey"), col("doc_id")).as("s"))
      .select(col("lang"), posexplode(col("s.ids")))
      .select(col("lang"), col("col").as("doc_id"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  // Same sample as q63 by construction — the oracle is the exact
  // window formulation.
  val q102Sql: String = q63Sql

  // --- q110: weight-biased stratified sampling — sample higher-value
  // documents at a higher rate (the "quality-weighted corpus sample"
  // op; here weight by lang: en 3×, zh 2×, rest 1×). Classic order
  // sampling (Rosén 1997): keep the k smallest of key/weight per
  // stratum, so a w-weighted item is selected roughly w× as often.
  // The division is EXACT-INTEGER via the LCM rescale — key ·
  // (LCM/w) with LCM(1,2,3)=6 orders identically to key/w with no
  // float anywhere, so both engines agree bit-for-bit (true
  // Efraimidis-Spirakis PPS needs u^(1/w) — libm, not
  // oracle-portable). Same mergeable-summary scale shape as q102:
  // GroupSample's bottom-k Aggregator folds each partition to ≤ k
  // pairs, the shuffle carries strata·k rows, no per-stratum sort of
  // the corpus.
  def q110(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val samp = udaf(new graft.operators.GroupSample.GroupSampleAgg(8),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val invW = when(col("lang") === "en", 2L)
      .when(col("lang") === "zh", 3L).otherwise(6L) // LCM(1,2,3)/w
    Tables.documents(s, dir)
      .select(col("source"),
        (pmod(col("doc_id") * 48271L + 12821L, lit(1000003L)) * invW).as("wkey"),
        col("doc_id"))
      .groupBy("source")
      .agg(samp(col("wkey"), col("doc_id")).as("s"))
      .select(col("source"), posexplode(col("s.ids")))
      .select(col("source"), col("col").as("doc_id"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  val q110Sql: String =
    """WITH w AS (SELECT source, doc_id,
      |  ((doc_id*48271+12821)%1000003)
      |    * (CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 3 ELSE 6 END) AS wkey
      | FROM documents),
      |r AS (SELECT source, doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY wkey, doc_id) AS INT) AS rk
      | FROM w)
      |SELECT source, doc_id, rk FROM r WHERE rk <= 8""".stripMargin

  /** Leakage-safe split: [[hashSplit]] at NEAR-DUP-CLUSTER grain. A
    * doc-grain hash split (q62) puts ~20% of each near-dup cluster's
    * members in val/test — the classic train/eval contamination leak,
    * since a model that memorized the train copy aces its near-dup in
    * the held-out split. Assigning by the CLUSTER representative (min
    * reachable id, the q55 fixpoint) keeps every cluster whole;
    * singletons hash by their own id, so the split stays ~80/10/10.
    *
    * `pairs` is ANY near-dup pair frame — q55's bounded exact-Jaccard
    * pairs here for the oracle, [[graft.operators.Dedup.lshVerifiedPairs]]
    * at corpus scale (same contract: aCol/bCol id pairs). Scale shape:
    * the cluster assignment is pair-mass-sized, not corpus-sized
    * (dedupClusters' contract), the join back is one equi-join on id,
    * and the split itself is a map-side hash — no new wide operation
    * beyond the per-cluster member count.
    */
  def clusterSplit(df: DataFrame, idCol: String,
                   pairs: DataFrame, aCol: String, bCol: String,
                   trainPct: Int, valPct: Int): DataFrame = {
    val clusters = graft.operators.Dedup.dedupClusters(pairs, aCol, bCol)
    val grp = df
      .join(clusters.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("grp", coalesce(col("cluster"), col(idCol)))
      .drop("cluster")
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("grp")))
    hashSplit(grp, "grp", trainPct, valPct)
  }

  // --- q190: leakage-safe train/val/test split — q62's hash split at
  // near-dup-cluster grain (q55's clusters), with the naive doc-grain
  // assignment alongside so the leak it prevents is visible: any grp
  // whose members disagree on naive_split is a cluster the q62 split
  // would have torn across train and eval.
  def q190(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0).select("doc_id")
    // session-shared recall-budgeted pair frame (oracle-equal to the
    // exact pairs; the cluster family's 100 TB-contract source)
    val pairs = DedupQueries.verifiedPairs(s, dir, ExtendedQueries.ClusterT)
      .select("id_a", "id_b")
    val nb = splitBucket(col("doc_id"))
    clusterSplit(docs, "doc_id", pairs, "id_a", "id_b", 80, 10)
      .withColumn("naive_split",
        when(nb < 80, "train").when(nb < 90, "val").otherwise("test"))
  }

  val q190Sql: String =
    s"""WITH ${ExtendedQueries.clustersCteSql},
       |docs AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
       |asg AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS grp
       |        FROM docs d LEFT JOIN cl c ON c.node = d.doc_id)
       |SELECT doc_id, grp,
       | CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n_members,
       | CASE WHEN (grp*2654435761+104729)%100 < 80 THEN 'train'
       |      WHEN (grp*2654435761+104729)%100 < 90 THEN 'val'
       |      ELSE 'test' END AS split,
       | CASE WHEN (doc_id*2654435761+104729)%100 < 80 THEN 'train'
       |      WHEN (doc_id*2654435761+104729)%100 < 90 THEN 'val'
       |      ELSE 'test' END AS naive_split
       |FROM asg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_leakage_safe_split" -> (q190 _),
    "q110_weighted_sample"  -> (q110 _),
    "q79_interleave"        -> (q79 _),
    "q102_sample_sketch"    -> (q102 _),
    "q106_epoch_shuffle"    -> (q106 _),
    "q109_triangles"        -> (q109 _),
    "q62_hash_split"        -> (q62 _),
    "q63_stratified_sample" -> (q63 _),
    "q64_pack_sequences"    -> (q64 _),
    "q65_funnel"            -> (q65 _),
    "q66_retention"         -> (q66 _),
    "q67_window_dedup"      -> (q67 _),
    "q68_ann_recall"        -> (q68 _),
    "q69_cooccurrence"      -> (q69 _),
    "q70_zorder_index"      -> (q70 _),
    "q71_bigrams"           -> (q71 _),
    "q76_decontaminate"     -> (q76 _))

  override val oracle: Map[String, String] = Map(
    "q190_leakage_safe_split" -> q190Sql,
    "q79_interleave"        -> q79Sql,
    "q102_sample_sketch"    -> q102Sql,
    "q106_epoch_shuffle"    -> q106Sql,
    "q109_triangles"        -> q109Sql,
    "q110_weighted_sample"  -> q110Sql,
    "q62_hash_split"        -> q62Sql,
    "q63_stratified_sample" -> q63Sql,
    "q64_pack_sequences"    -> q64Sql,
    "q65_funnel"            -> q65Sql,
    "q66_retention"         -> q66Sql,
    "q67_window_dedup"      -> q67Sql,
    "q69_cooccurrence"      -> q69Sql,
    "q70_zorder_index"      -> q70Sql,
    "q71_bigrams"           -> q71Sql,
    "q76_decontaminate"     -> q76Sql)
}
