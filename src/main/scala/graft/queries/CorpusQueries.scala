package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

/** Round-6 widening, second batch (SURVEY.md §2, q94–q99): the corpus
  * preparation ops that sit between raw ingest and training — chunking
  * for retrieval, canonical-document selection after near-dup
  * clustering, vocabulary/OOV accounting, robust feature scaling,
  * windowed cardinality, and the per-slice dataset card a data curator
  * publishes with a release.
  *
  * Scale discipline matches the rest of the repo: every aggregation is
  * partial-aggregable, every join is an equi-join (broadcast where one
  * side is metadata-sized), windows partition by bounded keys, and the
  * corpus is scanned once per query.
  */
object CorpusQueries extends QuerySet {

  private val ChunkTokens = 32
  private val ChunkStride = 16
  private val VocabSize   = 12

  // --- q94: overlapping token-window chunking (retrieval / context-
  // window prep). Each document splits once into tokens; chunk starts
  // advance by a fixed stride so consecutive chunks overlap by
  // (ChunkTokens - ChunkStride) tokens. Everything is per-row codegen
  // (split once, explode the start offsets, slice) — no shuffle at all:
  // at 100 TB this is a pure map stage that parallelizes with the input
  // splits.
  // Tokens are regex-split then filtered of empties: `trim` strips only
  // SPACES in both engines, so a tab-only document survives a
  // LEN(TRIM(·)) guard and would otherwise chunk into empty tokens
  // (caught by the edge-shape spec).
  def q94(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("start",
        explode(sequence(lit(0), size(col("toks")) - 1, lit(ChunkStride))))
      .select(col("doc_id"),
        expr(s"CAST(start DIV $ChunkStride AS INT)").as("chunk_idx"),
        slice(col("toks"), col("start") + 1, lit(ChunkTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))

  val q94Sql: String =
    s"""WITH t0 AS (SELECT doc_id,
       |  LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |t AS (SELECT doc_id, toks FROM t0 WHERE LEN(toks) > 0),
       |st AS (SELECT doc_id, toks,
       |  UNNEST(GENERATE_SERIES(0, LEN(toks) - 1, $ChunkStride)) AS start FROM t)
       |SELECT doc_id, CAST(start // $ChunkStride AS INT) AS chunk_idx,
       | CAST(LEN(LIST_SLICE(toks, start + 1, start + $ChunkTokens)) AS BIGINT) AS n_tokens,
       | ARRAY_TO_STRING(LIST_SLICE(toks, start + 1, start + $ChunkTokens), ' ') AS chunk_text
       |FROM st""".stripMargin

  // --- q95: canonical-document selection — the step that turns q55's
  // near-dup clusters into a deduplicated corpus. Per cluster the
  // representative is the longest document (ties to the smallest id,
  // made total by the struct order); documents outside any cluster keep
  // themselves. The cluster and canonical frames are candidate-pair
  // sized (orders of magnitude below the corpus), so the final joins
  // broadcast and the corpus is touched by exactly one streaming pass —
  // the 100 TB "apply the dedup verdict" shape.
  def q95(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = ExtendedQueries.q55(s, dir)
    val canon = clusters
      .join(docs.select(col("doc_id").as("node"), col("n_chars")), "node")
      .groupBy("cluster")
      .agg(max_by(col("node"), struct(col("n_chars"), -col("node"))).as("canonical"))
    docs.select(col("doc_id"))
      .join(broadcast(clusters.withColumnRenamed("node", "doc_id")), Seq("doc_id"), "left")
      .join(broadcast(canon), Seq("cluster"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("canonical_id"),
        (col("doc_id") === coalesce(col("canonical"), col("doc_id")))
          .cast("int").as("is_kept"))
  }

  val q95Sql: String =
    s"""WITH ${ExtendedQueries.clustersCteSql},
       |sized AS (SELECT cl.node, cl.cluster, d.n_chars
       |  FROM cl JOIN documents d ON d.doc_id = cl.node),
       |canon AS (SELECT cluster, node AS canonical FROM (
       |  SELECT cluster, node,
       |   ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, node ASC) AS rn
       |  FROM sized) WHERE rn = 1)
       |SELECT d.doc_id,
       | COALESCE(canon.canonical, d.doc_id) AS canonical_id,
       | CAST(CASE WHEN d.doc_id = COALESCE(canon.canonical, d.doc_id)
       |   THEN 1 ELSE 0 END AS INT) AS is_kept
       |FROM documents d
       |LEFT JOIN cl ON cl.node = d.doc_id
       |LEFT JOIN canon ON canon.cluster = cl.cluster""".stripMargin

  // --- q96: frequency-cut vocabulary + per-document OOV rate (the
  // tokenizer-coverage check run before committing a vocab). The vocab
  // is the top-VocabSize tokens by global count (ties by token — a
  // total order, so the cut is deterministic); TakeOrderedAndProject
  // keeps the top-k a per-partition merge, never a full sort, and the
  // resulting vocab is broadcast back over the token stream — one
  // corpus scan, one token-count shuffle, no join shuffle.
  def q96(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(VocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      // OOV rate as exact-integer ppm DIV — no ROUND(double) on the
      // compare surface (the r7 engine-version hash-fail class)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("(n_oov * 1000000) DIV n_tokens").as("oov_ppm"))
  }

  val q96Sql: String =
    s"""WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS tok
       |  FROM documents WHERE LEN(TRIM(text)) > 0),
       |tt AS (SELECT doc_id, tok FROM t WHERE LEN(tok) > 0),
       |v AS (SELECT tok FROM (
       |  SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
       |  FROM tt GROUP BY tok) WHERE rn <= $VocabSize)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       | CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       | CAST((SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
       |   AS oov_ppm
       |FROM tt LEFT JOIN v ON v.tok = tt.tok
       |GROUP BY doc_id""".stripMargin

  // --- q97: robust (median/IQR) feature standardization per event type
  // — the outlier-insensitive sibling of q90's z-score, the scaling a
  // heavy-tailed `value` column actually needs. Stats are one exact-
  // percentile aggregation (one row per type — broadcast), the scaling
  // pass is map-side. Values live on a cents grid and the quartile
  // interpolation fraction is in {0, .25, .5, .75}, so med and IQR lie
  // EXACTLY on a quarter-cent grid: snapping them to that integer
  // (tie-free near-integer ROUND — the q43 contract) gives both engines
  // bit-identical stats regardless of their percentile low-order bits,
  // and the z publishes as FLOOR fixed-point — no ROUND(double, 6)
  // tie-break surface (the r7 hash-fail class).
  def q97(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy("event_type").agg(
      round(expr("percentile(value, 0.5)") * 400).cast("long").as("med_qc"),
      round((expr("percentile(value, 0.75)") - expr("percentile(value, 0.25)")) * 400)
        .cast("long").as("iqr_qc"))
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(col("iqr_qc") > 0)
      .select(col("event_id"), col("event_type"),
        floor(lit(1e6) * (col("value") * 400 - col("med_qc")) / col("iqr_qc"))
          .cast("long").as("robust_z_micro"))
  }

  val q97Sql: String =
    """WITH s AS (SELECT event_type,
      |  CAST(ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value) * 400) AS BIGINT) AS med_qc,
      |  CAST(ROUND((PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY value)
      |    - PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY value)) * 400) AS BIGINT) AS iqr_qc
      | FROM events GROUP BY 1)
      |SELECT event_id, e.event_type,
      | CAST(FLOOR(1000000.0 * (value * 400 - med_qc) / iqr_qc) AS BIGINT) AS robust_z_micro
      |FROM events e JOIN s ON s.event_type = e.event_type
      |WHERE iqr_qc > 0""".stripMargin

  // --- q98: exact distinct-user cardinality per overlapping sliding
  // window (1 h window, 15 min slide — q52's sliding frame with the op
  // q52 lacks: COUNT DISTINCT under overlap). Spark expands each event
  // into its 4 covering windows, then the two-phase distinct aggregate
  // partially dedups (window, user) map-side — the exact-cardinality
  // shape that HLL (q36) approximates when exactness stops being worth
  // the shuffle.
  def q98(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_users"), col("n_events"))

  val q98Sql: String =
    """WITH cand AS (
      | SELECT user_id,
      |  TIME_BUCKET(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
      |    - UNNEST([0, 1, 2, 3]) * INTERVAL '15 minutes' AS window_start,
      |  CAST(ts AS TIMESTAMP) AS tts
      | FROM events)
      |SELECT window_start,
      | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      | CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM cand
      |WHERE tts >= window_start AND tts < window_start + INTERVAL '1 hour'
      |GROUP BY window_start""".stripMargin

  // --- q99: dataset card — the per-(source, lang) release summary a
  // curator publishes: volume (docs/tokens/chars), exact-duplicate
  // incidence, and quality-gate pass counts. One corpus scan: the
  // duplicate flag is a count-over-(source, lang, text) window (text as
  // partition key — duplicate groups are tiny), every aggregate is
  // partial-aggregable, and the output is slice-cardinality-sized.
  def q99(s: SparkSession, dir: String): DataFrame = {
    val dupW = Window.partitionBy("source", "lang", "text")
    Tables.documents(s, dir)
      .withColumn("n_same", count(lit(1)).over(dupW))
      .withColumn("quality", TF.qualityScore(col("text")))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text"))).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars_total"),
        sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_quality"))
  }

  val q99Sql: String = {
    val tokens = "CAST(CASE WHEN LEN(TRIM(text)) = 0 THEN 0 ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS BIGINT)"
    s"""WITH d AS (SELECT source, lang,
       |  COUNT(*) OVER (PARTITION BY source, lang, text) AS n_same,
       |  ${TextQueries.qualityExprSql} AS quality,
       |  $tokens AS n_toks,
       |  CAST(LEN(text) AS BIGINT) AS n_c
       | FROM documents)
       |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       | CAST(SUM(n_c) AS BIGINT) AS n_chars_total,
       | CAST(SUM(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       | CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
       |FROM d GROUP BY 1, 2""".stripMargin
  }

  // --- q100: exact heavy hitters via the Misra-Gries sketch-then-
  // recount plan (HeavyHitters.exact). Pass 1 folds the token stream
  // into a width-bounded mergeable summary — NO token-keyed shuffle;
  // pass 2 recounts only the candidate tokens (driver-pruned isin), so
  // the exact GROUP BY shuffles a bounded key set. share = 1/32 (an
  // exact binary fraction — both engines compute the same floor) with
  // width 63 > 1/share - 1 keeps the candidate set a guaranteed
  // superset of the true heavy hitters, so the output equals the
  // oracle's full GROUP BY / HAVING exactly.
  def q100(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    graft.operators.HeavyHitters.exact(toks, share = 0.03125, width = 63)
  }

  val q100Sql: String =
    """WITH t AS (SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
      |  FROM documents WHERE LEN(TRIM(text)) > 0),
      |tt AS (SELECT tok FROM t WHERE LEN(tok) > 0),
      |tot AS (SELECT COUNT(*) AS n FROM tt)
      |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tt GROUP BY tok
      |HAVING COUNT(*) >= (SELECT FLOOR(n * 0.03125) FROM tot)""".stripMargin

  // --- q101: cross-source vocabulary overlap via KMV distinct-set
  // sketches (KmvSketch). Distinct-token sets per source fold into
  // O(k) summaries in ONE scan + one tiny agg (no (source,tok) distinct
  // shuffle, no token self-join); union/intersection/Jaccard come from
  // pairwise sketch algebra on the driver — the per-source sketch table
  // is metadata-sized (|sources| × k). Below sketch capacity (k=1024 ≫
  // test vocabularies) every number is EXACT, which is what the oracle
  // checks; at 100 TB the same plan degrades to ~1/sqrt(k) relative
  // error instead of an unshuffleable exact distinct-join.
  def q101(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kmv = udaf(new graft.operators.KmvSketch.KmvAgg(1024),
      org.apache.spark.sql.Encoders.scalaLong)
    val sketches = Tables.documents(s, dir)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source")
      .agg(kmv(xxhash64(col("tok"))).as("sk"))
      .as[(String, graft.operators.KmvSketch.KmvSummary)]
      .collect()
      .sortBy(_._1)
    // jaccard as exact-integer ppm DIV over the rint'd sketch counts —
    // below sketch capacity these are the exact distinct counts, so no
    // double (and no ROUND(double, 6), the r7 engine-version hash-fail
    // class) reaches the compare surface
    val rows = for {
      (sa, ka) <- sketches.toSeq
      (sb, kb) <- sketches.toSeq if sa < sb
    } yield {
      val (u, o) = ka.setOps(kb)
      (sa, sb, math.rint(ka.distinct).toLong, math.rint(kb.distinct).toLong,
        math.rint(u).toLong, math.rint(o).toLong)
    }
    rows.toDF("source_a", "source_b", "n_a", "n_b", "n_union", "n_overlap")
      .withColumn("jaccard_ppm", expr("(n_overlap * 1000000) DIV n_union"))
  }

  val q101Sql: String =
    """WITH t AS (SELECT DISTINCT source, tok FROM (
      |  SELECT source, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
      |  FROM documents WHERE LEN(TRIM(text)) > 0) WHERE LEN(tok) > 0),
      |s AS (SELECT source, COUNT(*) AS n FROM t GROUP BY source),
      |p AS (SELECT a.source sa, b.source sb, a.n na, b.n nb
      |  FROM s a JOIN s b ON a.source < b.source),
      |o AS (SELECT x.source sa, y.source sb, COUNT(*) nov
      |  FROM t x JOIN t y ON x.tok = y.tok AND x.source < y.source GROUP BY 1, 2)
      |SELECT p.sa AS source_a, p.sb AS source_b,
      | CAST(p.na AS BIGINT) AS n_a, CAST(p.nb AS BIGINT) AS n_b,
      | CAST(p.na + p.nb - COALESCE(o.nov, 0) AS BIGINT) AS n_union,
      | CAST(COALESCE(o.nov, 0) AS BIGINT) AS n_overlap,
      | CAST((COALESCE(o.nov, 0) * 1000000) // (p.na + p.nb - COALESCE(o.nov, 0)) AS BIGINT)
      |   AS jaccard_ppm
      |FROM p LEFT JOIN o ON p.sa = o.sa AND p.sb = o.sb""".stripMargin

  // --- q103: length-bucketed batch packing with padding-waste
  // accounting — the dynamic-batching op that turns a filtered corpus
  // into fixed-size training batches of similar-length sequences
  // (padding-to-max inside a batch wastes max_len·n − Σlen; bucketing
  // by length class keeps that near zero). Deterministic end to end:
  // the length class is integer division (no float log2 boundary
  // hazards), the shard is the MINSTD scramble mod S, and batch order
  // is (n_chars, doc_id). Scale shape: the batching window partitions
  // by (bucket, shard) — S is the parallelism dial, so partition-key
  // cardinality is buckets × S and no single reducer owns a whole
  // length class; shards are uniform samples of their bucket, so the
  // padding quality of pure length-bucketing is preserved. One
  // shuffle, sorts only within (bucket, shard).
  private val BatchSize      = 8
  private val LenBucketWidth = 64
  private val BatchShards    = 4

  def q103(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("len_bucket", "shard")
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        expr(s"CAST(n_chars DIV $LenBucketWidth AS INT)").as("len_bucket"),
        pmod(pmod(col("doc_id") * lit(48271L) + lit(12821L), lit(1000003L)),
          lit(BatchShards.toLong)).cast("int").as("shard"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr(s"CAST((rn - 1) DIV $BatchSize AS INT)"))
      .groupBy("len_bucket", "shard", "batch_id")
      .agg(count(lit(1)).as("n_seqs"),
        max("n_chars").as("max_len"),
        sum("n_chars").as("sum_len"))
      .withColumn("pad_waste", col("max_len") * col("n_seqs") - col("sum_len"))
  }

  val q103Sql: String =
    s"""WITH d AS (SELECT doc_id, n_chars,
       |  CAST(n_chars // $LenBucketWidth AS INT) AS len_bucket,
       |  CAST((doc_id*48271 + 12821) % 1000003 % $BatchShards AS INT) AS shard
       | FROM documents),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY len_bucket, shard
       |  ORDER BY n_chars ASC, doc_id ASC) AS rn FROM d)
       |SELECT len_bucket, shard, CAST((rn - 1) // $BatchSize AS INT) AS batch_id,
       | CAST(COUNT(*) AS BIGINT) AS n_seqs, CAST(MAX(n_chars) AS BIGINT) AS max_len,
       | CAST(SUM(n_chars) AS BIGINT) AS sum_len,
       | CAST(MAX(n_chars)*COUNT(*) - SUM(n_chars) AS BIGINT) AS pad_waste
       |FROM r GROUP BY 1, 2, 3""".stripMargin

  // --- q107: per-type value percentiles via the mergeable quantile
  // summary (QuantileSummary — Munro-Paterson/KLL-style deterministic
  // compaction). Capacity is CENSUS-DRIVEN, not guessed: one map-side-
  // combined count census measures the max group size and
  // QuantileSummary.capacityFor sizes the summary to it (floor 4096 —
  // the historical gate capacity — ceiling derived from the deployed
  // executor heap and the measured group count, clamped to
  // [2²⁰, 2²⁴] — see QuantileSummary.defaultMaxExactCapacity), so
  // the n ≤ capacity EXACT contract holds at whatever scale the query
  // actually runs — sf0.01 (~2k/group), sf0.1 (~20k), sf1 (~200k) —
  // and the result is the EXACT type-1 order statistic (rank
  // ceil(p·n/100), integer ceil-division both sides — no float
  // boundary) hash-matching the exact window oracle. Groups beyond the
  // memory ceiling get the documented rank-error regime
  // (≈ n·log₂(n/c)/c) instead of silent OOM — a bigger heap buys
  // exactness. The scale contrast with exact q43: that
  // plan sorts every group's full row set; this one ships
  // O(c·log n) state per group with map-side combine — the only viable
  // shape when groups have billions of rows.
  def q107(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
    val censusRow = ev.groupBy("event_type").count()
      .agg(max("count").as("mx"), count(lit(1)).as("groups")).head()
    val maxGroup = if (censusRow.isNullAt(0)) 0L else censusRow.getLong(0)
    val nGroups = censusRow.getLong(1)
    // the ceiling derives from deployed heap + the measured group count
    // (defaultMaxExactCapacity — see its scaladoc for the memory model)
    val ceiling = graft.operators.QuantileSummary.defaultMaxExactCapacity(s, nGroups)
    val capacity = graft.operators.QuantileSummary.capacityFor(
      maxGroup, maxExactCapacity = ceiling)
    val qagg = udaf(
      new graft.operators.QuantileSummary.QuantileAgg(capacity, Seq(25, 50, 75, 95)),
      org.apache.spark.sql.Encoders.scalaDouble)
    ev.groupBy("event_type")
      .agg(qagg(col("value")).as("s"))
      .select(col("event_type"), col("s.n_events").as("n_events"),
        col("s.qs")(0).as("p25"), col("s.qs")(1).as("p50"),
        col("s.qs")(2).as("p75"), col("s.qs")(3).as("p95"))
  }

  val q107Sql: String =
    """WITH r AS (SELECT event_type, value,
      |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rk,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n
      | FROM events WHERE value IS NOT NULL)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
      | MAX(CASE WHEN rk = (25*n + 99)//100 THEN value END) AS p25,
      | MAX(CASE WHEN rk = (50*n + 99)//100 THEN value END) AS p50,
      | MAX(CASE WHEN rk = (75*n + 99)//100 THEN value END) AS p75,
      | MAX(CASE WHEN rk = (95*n + 99)//100 THEN value END) AS p95
      |FROM r GROUP BY 1""".stripMargin

  // --- q108: per-vector int8 scalar quantization of the embedding
  // column — the memory-layout prep for a 100 TB ANN index (float32 →
  // int8 cuts the index 4×; recall loss is bounded by the per-vector
  // scale). Pure map stage, zero shuffle: scale = max|x|, code =
  // floor(127·x/scale). Every step is an exactly-rounded IEEE op
  // (multiply, divide, floor — no round()), so Spark and DuckDB
  // produce bit-identical codes and the summary (sum/min/max of codes)
  // hash-matches; an all-zero vector quantizes to zeros rather than
  // dividing by zero. The spec asserts the reconstruction bound
  // |x − code·scale/127| ≤ scale/127 elementwise.
  def q108(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv", transform(col("v"),
        x => when(col("scale") === 0d, lit(0L))
          .otherwise(floor(lit(127.0) * x / col("scale")))))
    e.select(col("vec_id"), size(col("v")).cast("int").as("n_dims"),
      col("scale"),
      aggregate(col("qv"), lit(0L), (a, x) => a + x).as("sum_q"),
      array_min(col("qv")).as("min_q"),
      array_max(col("qv")).as("max_q"))
  }

  val q108Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v, LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) AS scale FROM e),
      |q AS (SELECT vec_id, v, scale,
      |  LIST_TRANSFORM(v, x -> CASE WHEN scale = 0 THEN 0
      |    ELSE FLOOR(127.0 * x / scale) END) AS qv
      | FROM s)
      |SELECT vec_id, CAST(LEN(v) AS INT) AS n_dims, scale,
      | CAST(LIST_SUM(qv) AS BIGINT) AS sum_q,
      | CAST(LIST_MIN(qv) AS BIGINT) AS min_q,
      | CAST(LIST_MAX(qv) AS BIGINT) AS max_q
      |FROM q""".stripMargin

  // --- q113: BPE vocabulary learning over the documents corpus — 12
  // merges from the word-frequency table (BpeTrainer; corpus-scale
  // work is ONE tokenize+groupBy shuffle, the greedy loop runs on the
  // bounded word inventory). Rows-only: the iterative merge loop is
  // not SQL-expressible; BpeSpec pins the algebra against
  // hand-computed merges and a driver-side reference.
  def q113(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrainer.learn(Tables.documents(s, dir), "text", 12)

  /** q158's feature-space bound: the importance model scores over the
    * top-`DsirVocab` corpus bigrams (ties broken lexicographically — a
    * total order, so the cut is deterministic on both engines);
    * out-of-vocabulary bigrams carry no evidence and are ignored, the
    * standard hashed/bounded feature space of importance resampling.
    */
  val DsirVocab = 2048
  val DsirTarget = "src0"

  // --- q158: DSIR-style importance scoring for data selection — score
  // every document by how much more likely its bigram features are
  // under a TARGET domain (the src0 docs) than under the raw corpus:
  // Σ_feat [ln p_target(f) − ln p_corpus(f)], add-1 smoothed over the
  // bounded vocab (Xie et al. 2023's importance-resampling selection
  // signal; q80 scores fluency against ONE corpus LM, this scores
  // domain match BETWEEN two). Shape: the (feat, ct, cr) model is a
  // ≤ DsirVocab frame built from one bigram-count shuffle (vocab cut
  // is TakeOrdered, target counts join the vocab frame), broadcast
  // with its scalar totals back over the bigram stream — scoring is
  // map-side, one per-doc aggregation, corpus scanned twice (model +
  // score) and never joined to itself. Compare surface: FLOOR micro
  // (LN pipeline, the q114 contract); docs containing no vocab bigram
  // carry no evidence and are excluded (inner join), documented.
  def q158(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.dsirScore(Tables.documents(s, dir),
      "doc_id", "text", col("source") === DsirTarget, DsirVocab)

  val q158Sql: String =
    s"""WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, tok_a || ' ' || tok_b AS feat FROM (
       |  SELECT doc_id, UNNEST(toks[1:LEN(toks)-1]) AS tok_a,
       |         UNNEST(toks[2:LEN(toks)]) AS tok_b
       |  FROM t WHERE LEN(toks) > 1)),
       |cr AS (SELECT feat, CAST(COUNT(*) AS BIGINT) AS cr FROM b GROUP BY 1),
       |v AS (SELECT feat, cr FROM (
       |  SELECT feat, cr, ROW_NUMBER() OVER (ORDER BY cr DESC, feat ASC) AS rn
       |  FROM cr) WHERE rn <= $DsirVocab),
       |ct AS (SELECT feat, CAST(COUNT(*) AS BIGINT) AS ct
       |  FROM b JOIN (SELECT doc_id FROM documents WHERE source = '$DsirTarget')
       |    USING (doc_id) GROUP BY 1),
       |m AS (SELECT v.feat, v.cr, COALESCE(ct.ct, 0) AS ct FROM v LEFT JOIN ct USING (feat)),
       |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM m)
       |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       | CAST(FLOOR(1000000.0 * SUM(LN((m.ct + 1) / (tot.nt + $DsirVocab))
       |   - LN((m.cr + 1) / (tot.nr + $DsirVocab)))) AS BIGINT) AS score_micro
       |FROM b JOIN m USING (feat) CROSS JOIN tot
       |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_dsir_score"      -> (q158 _),
    "q113_bpe_learn"       -> (q113 _),
    "q108_quantize_embed"  -> (q108 _),
    "q107_quantile_sketch" -> (q107 _),
    "q100_heavy_hitters"   -> (q100 _),
    "q103_length_batches"  -> (q103 _),
    "q101_source_overlap"  -> (q101 _),
    "q94_chunk_overlap"    -> (q94 _),
    "q95_canonical_docs"   -> (q95 _),
    "q96_vocab_oov"        -> (q96 _),
    "q97_robust_scale"     -> (q97 _),
    "q98_sliding_distinct" -> (q98 _),
    "q99_dataset_card"     -> (q99 _))

  override val oracle: Map[String, String] = Map(
    "q158_dsir_score"      -> q158Sql,
    "q108_quantize_embed"  -> q108Sql,
    "q107_quantile_sketch" -> q107Sql,
    "q100_heavy_hitters"   -> q100Sql,
    "q103_length_batches"  -> q103Sql,
    "q101_source_overlap"  -> q101Sql,
    "q94_chunk_overlap"    -> q94Sql,
    "q95_canonical_docs"   -> q95Sql,
    "q96_vocab_oov"        -> q96Sql,
    "q97_robust_scale"     -> q97Sql,
    "q98_sliding_distinct" -> q98Sql,
    "q99_dataset_card"     -> q99Sql)
}
