package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-8 widening, ninth batch: serving-path operators — the three
  * shapes a production engine answers AFTER the batch pipelines have
  * run: a phrase query against the corpus (q155), keeping a joined
  * mart fresh without recomputing it (q156), and serving a
  * leakage-free trained feature (q157).
  *
  * Compare surface posture (SURVEY §5): exact integer counts, cents,
  * positions, folds; ratios as micro units by integer DIV. No
  * ROUND(double), no calendar builtins.
  */
object ServingQueries extends QuerySet {

  /** q155's phrase, chosen to occur across the test corpus; any
    * two-token phrase works — the plan does not depend on the terms.
    */
  val PhraseA = "value"
  val PhraseB = "table"

  // --- q155: positional phrase search — which documents contain the
  // exact two-word phrase, how often, and where it first occurs. The
  // adjacency test runs INSIDE the row as ONE codegen'd primitive pass
  // over the token array (`PhraseFunctions.phraseScan`): zero shuffles,
  // zero joins — the whole query is one projected corpus scan, which
  // is the optimal batch plan (a posting-list self-join on (doc,
  // pos+1) re-shuffles two posting streams to rediscover adjacency the
  // row already knows; the HOF filter-over-sequence formulation walks
  // the interpreted evaluator per element — measured 5.2 s vs 0.5 s at
  // sf0.1). The serving-time alternative — probe a PRECOMPUTED
  // positional postings table so only two terms' postings are read —
  // is the nearDupIndex pattern (Dedup.scala): same output contract,
  // index build is this same scan. Positions are 1-based on both
  // engines.
  def q155(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.PhraseFunctions.phraseScan(
        split(trim(lower(col("text"))), "\\s+"), PhraseA, PhraseB).as("ps"))
      .filter(col("ps").getItem(0) > 0)
      .select(col("doc_id"),
        col("ps").getItem(0).as("n_matches"),
        col("ps").getItem(1).as("first_pos"))

  val q155Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS ws
       | FROM documents),
       |h AS (SELECT doc_id, UNNEST(RANGE(1, LEN(ws))) AS i, ws FROM toks),
       |m AS (SELECT doc_id, i FROM h
       |      WHERE ws[i] = '$PhraseA' AND ws[i+1] = '$PhraseB')
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       | CAST(MIN(i) AS BIGINT) AS first_pos
       |FROM m GROUP BY 1""".stripMargin

  /** q156's freshness cut: rows dated before it are the stored
    * history, at or after it the newly-arrived delta.
    */
  val DeltaCut = "2001-01-01"

  // --- q156: incremental JOIN-view maintenance — q91's partial-merge
  // algebra extended from a single-table aggregate to a two-table
  // join view (the per-priority revenue mart over orders⋈lineitem).
  // V(A∪ΔA, B∪ΔB) = V(A,B) + V(ΔA,B) + V(A,ΔB) + V(ΔA,ΔB): the three
  // delta terms each join a delta side against history CO-KEYED on
  // orderkey, so a daily refresh touches |Δ|-sized inputs plus the
  // stored V(A,B) state — never the full A⋈B recompute the oracle
  // performs (their equality IS the check). At 100 TB: V(A,B) is read
  // from the mart (metadata-sized per priority, the reference's
  // accumulation semantics, trsh_rep_fraud_sync.sql:22-24), the delta
  // sides broadcast when day-sized, and history is bucketed by
  // orderkey so the delta joins are shuffle-free (WarehouseOps
  // bucketing); here the state term is recomputed because the test
  // fixture has no stored mart.
  def q156(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(DeltaCut).cast("date")
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_orderdate").cast("date") < cut).as("old_side"))
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        (col("l_shipdate").cast("date") < cut).as("old_side"))
    val (oOld, oNew) = (o.filter(col("old_side")).drop("old_side"),
      o.filter(!col("old_side")).drop("old_side"))
    val (lOld, lNew) = (l.filter(col("old_side")).drop("old_side"),
      l.filter(!col("old_side")).drop("old_side"))
    def term(a: DataFrame, b: DataFrame): DataFrame = a.join(b, "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(sum("cents").as("cents"), count(lit(1)).as("n_lines"))
    val state = term(oOld, lOld) // the stored mart in production
    val deltas = term(broadcast(oNew), lOld)
      .unionByName(term(oOld, broadcast(lNew)))
      .unionByName(term(broadcast(oNew), lNew))
    state.unionByName(deltas)
      .groupBy("o_orderpriority")
      .agg(sum("cents").as("total_cents"), sum("n_lines").as("n_lines"))
  }

  val q156Sql: String =
    """SELECT o_orderpriority,
      | CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |   AS total_cents,
      | CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** q157 fold count; folds come from the MINSTD scramble of event_id
    * (q103's generator) so adjacent ids land in different folds while
    * both engines compute the same arithmetic. int64-exact while
    * event_id < ~1.9e14 (id·48271 < 2^63) and per-type summed cents
    * < ~9e14 (Δs·10⁴ < 2^63); ANSI mode fails loudly past either
    * bound (the q126 contract — lift to decimal(38,0) beyond).
    */
  val Folds = 5

  // --- q157: out-of-fold target encoding — replace a categorical
  // (event_type) with the mean target (value) of OTHER folds' rows,
  // the leakage-free categorical encoding of gradient-boosting
  // pipelines (encoding a row with a statistic its own target helped
  // compute leaks label information; q135's CDF encode has the same
  // in-fold leak). Shape: one partial-aggregable (type, fold) fold of
  // (n, Σcents) — a ≤ types·Folds metadata frame — broadcast back
  // onto the event scan, so the encoding pass is map-side: one
  // corpus-scan shuffle-free projection after one tiny aggregation,
  // exactly q90's stats-broadcast shape with the self-exclusion
  // algebra (total − own fold) done on the bounded frame.
  def q157(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("fold", expr(s"((event_id * 48271) % 2147483647) % $Folds"))
    val perFold = p.groupBy("event_type", "fold")
      .agg(count(lit(1)).as("n_f"), sum("cents").as("s_f"))
    val perType = perFold.groupBy("event_type")
      .agg(sum("n_f").as("n_t"), sum("s_f").as("s_t"))
    p.join(broadcast(perFold), Seq("event_type", "fold"))
      .join(broadcast(perType), Seq("event_type"))
      .filter(col("n_t") > col("n_f")) // a type living in one fold has no out-of-fold mean
      .select(col("event_id"), col("event_type"), col("fold"),
        expr("((s_t - s_f) * 10000) DIV (n_t - n_f)").as("enc_micro"))
  }

  val q157Sql: String =
    s"""WITH p AS (
       | SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
       |  ((event_id * 48271) % 2147483647) % $Folds AS fold
       | FROM events WHERE value IS NOT NULL),
       |f AS (SELECT event_type, fold, CAST(COUNT(*) AS BIGINT) AS n_f,
       |       SUM(cents) AS s_f
       |      FROM p GROUP BY 1, 2),
       |t AS (SELECT event_type, SUM(n_f) AS n_t, SUM(s_f) AS s_t FROM f GROUP BY 1)
       |SELECT p.event_id, p.event_type, p.fold,
       | CAST(((t.s_t - f.s_f) * 10000) // (t.n_t - f.n_f) AS BIGINT) AS enc_micro
       |FROM p JOIN f USING (event_type, fold) JOIN t USING (event_type)
       |WHERE t.n_t > f.n_f""".stripMargin

  // --- q163: join-view maintenance with RETRACTIONS — the half q156's
  // insert-only algebra doesn't cover: late-arriving RETURNS remove
  // revenue the stored mart already counted. V_new = merge(V_state,
  // −partials(A ⋈ Δ⁻)): the retraction set (returned lineitems shipped
  // in the delta window) joins the order dim with the SMALL side
  // broadcast, its per-priority partials NEGATE, and the same
  // re-aggregation that merges q91/q156's additive partials nets them
  // out — (Σcents, count) is an abelian-group aggregate, so deletes
  // are just negative inserts and the mart never rebuilds. The oracle
  // recomputes directly over non-retracted rows; equality IS the
  // algebra check. At 100 TB: V_state is read from the mart, Δ⁻ is
  // day-sized, the corpus-side join is the one this query avoids.
  def q163(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(DeltaCut).cast("date")
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        (col("l_returnflag") === "R" &&
          col("l_shipdate").cast("date") >= cut).as("retr"))
    // the stored mart in production — recomputed here because the test
    // fixture has no persisted state (the q156 caveat)
    val state = l.join(o, "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(sum("cents").as("cents"), count(lit(1)).as("n"))
    val retractions = l.filter(col("retr"))
    val dMinus = broadcast(retractions).join(o, "o_orderkey")
      .groupBy("o_orderpriority")
      .agg((-sum("cents")).as("cents"), (-count(lit(1))).as("n"))
    state.unionByName(dMinus)
      .groupBy("o_orderpriority")
      .agg(sum("cents").as("net_cents"), sum("n").as("n_live"))
  }

  val q163Sql: String =
    s"""WITH j AS (SELECT o.o_orderpriority,
       |  CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents,
       |  (l.l_returnflag = 'R' AND CAST(l.l_shipdate AS DATE) >= DATE '$DeltaCut') AS retr
       | FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
       |SELECT o_orderpriority,
       | CAST(SUM(CASE WHEN retr THEN 0 ELSE cents END) AS BIGINT) AS net_cents,
       | CAST(SUM(CASE WHEN retr THEN 0 ELSE 1 END) AS BIGINT) AS n_live
       |FROM j GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q155_phrase_search" -> (q155 _),
    "q156_delta_view" -> (q156 _),
    "q157_target_encode" -> (q157 _),
    "q163_retraction_view" -> (q163 _))

  override val oracle: Map[String, String] = Map(
    "q155_phrase_search" -> q155Sql,
    "q156_delta_view" -> q156Sql,
    "q157_target_encode" -> q157Sql,
    "q163_retraction_view" -> q163Sql)
}
