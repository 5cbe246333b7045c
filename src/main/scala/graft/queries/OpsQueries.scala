package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-9 widening: pipeline-operations queries — the update-correct
  * streaming as-of twin, the operational ADVISORS (the plan decisions a
  * 100 TB deployment tunes by measurement, surfaced as queries over the
  * data's own profile), and temperature-scaled training-mixture
  * weights.
  *
  * q164 runs [[graft.streaming.StreamingFraud.asOfUpdateStream]] in its
  * batch mode (the same flatMapGroupsWithState operator the stream
  * executes — the correctness gate exercises the operator itself, not a
  * separate twin), q165 runs [[graft.pipeline.MartAdvisor]] over the
  * fact stream's per-day ingest profile, q166 computes per-source
  * sampling weights for a training-data mixture, q167 advises
  * broadcast-vs-shuffle per dimension table, q168 picks the
  * `withWatermark` delay from the arrival profile, q169 sizes the
  * streaming state that delay implies, q170 tracks duplicate
  * pressure per ingest day (when to re-run dedup), q171 sizes
  * shuffle partitions for the fact tables (q167's big-side sibling),
  * and q172 allocates a training-token budget across sources under
  * the q166 weights with a 4-epoch repetition cap.
  *
  * Compare surface: exact integers (epoch days, counts, cents, ppm via
  * integer DIV); q166's single SQRT is IEEE-correctly-rounded on both
  * engines and feeds a x1000 FLOOR whose integer output re-enters exact
  * arithmetic (posture 3), with the cross-source denominator summed
  * over INTEGERS so no double accumulation order can differ.
  */
object OpsQueries extends QuerySet {

  // --- q164: as-of join under late dimension updates — click facts
  // resolved to the user's latest signup version at-or-before each
  // click, through the streaming operator's batch mode. The streaming
  // semantics (facts buffer until the watermark passes them; late
  // version arrivals within the delay still win) are pinned equal to
  // this batch result by StreamingSpec; the oracle is the plain as-of
  // rank. Shape: one shuffle by user_id, per-group linear merge — no
  // window over the corpus, no candidate expansion.
  def q164(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val facts = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("fact_id"), col("user_id"), col("ts"))
    val versions = ev
      .filter(col("event_type") === "signup" && col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id").as("version_id"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.streaming.StreamingFraud.asOfUpdateStream(facts, versions)
      .select(col("fact_id"), col("user_id"), col("f_ts"),
        col("version_id"), col("v_ts"), col("v_cents"))
  }

  val q164Sql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |  event_type, value FROM events)
      |SELECT fact_id, user_id, f_ts, version_id, v_ts, v_cents FROM (
      | SELECT f.event_id AS fact_id, f.user_id, f.ts AS f_ts,
      |  v.event_id AS version_id, v.ts AS v_ts,
      |  CAST(ROUND(v.value * 100) AS BIGINT) AS v_cents,
      |  ROW_NUMBER() OVER (PARTITION BY f.event_id
      |    ORDER BY v.ts DESC, v.event_id DESC) AS rn
      | FROM ev f JOIN ev v ON f.user_id = v.user_id
      |  AND v.event_type = 'signup' AND v.value IS NOT NULL
      |  AND v.ts <= f.ts
      | WHERE f.event_type = 'click') WHERE rn = 1""".stripMargin

  // --- q165: rebuild-vs-accumulate advisor over the fact stream's
  // per-day ingest profile (graft.pipeline.MartAdvisor) — for each
  // ingest day, the modeled scan cost of accumulating the mart
  // (writeAmp x (increment + 1-day rule lookback)) vs rebuilding it
  // (full history), and which is cheaper. The early days say rebuild,
  // the crossover says accumulate — the readout behind the reference's
  // hardcoded accumulate choice. Shape: ONE corpus pass (groupBy day,
  // map-side combined) down to <= |days| rows, then the bounded-frame
  // running-sum window. Day arithmetic is epoch-integer (posture 4).
  def q165(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_new"))
    graft.pipeline.MartAdvisor.advise(daily, "day", "n_new")
      .select(col("day"), col("n_new"), col("cum_rows"), col("lookback_rows"),
        col("acc_cost_rows"), col("rebuild_cost_rows"), col("decision"))
  }

  val q165Sql: String =
    """WITH d AS (
      | SELECT EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_new
      | FROM events GROUP BY 1),
      |w AS (
      | SELECT day, n_new,
      |  CAST(SUM(n_new) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rows,
      |  CAST(COALESCE(SUM(n_new) OVER (ORDER BY day
      |    ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS lookback_rows
      | FROM d)
      |SELECT day, n_new, cum_rows, lookback_rows,
      | CAST(3 * (n_new + lookback_rows) AS BIGINT) AS acc_cost_rows,
      | cum_rows AS rebuild_cost_rows,
      | CASE WHEN 3 * (n_new + lookback_rows) <= cum_rows
      |   THEN 'accumulate' ELSE 'rebuild' END AS decision
      |FROM w""".stripMargin

  // --- q166: temperature-scaled training-mixture weights per corpus
  // source — the data-mixing step of an LLM pipeline: sampling weight
  // proportional to (char mass)^(1/2), i.e. temperature alpha = 0.5,
  // which up-weights small sources relative to proportional sampling
  // without letting big sources dominate. Engine-proof fixed point:
  // s = FLOOR(1000 * SQRT(mass)) per source is computed from an EXACT
  // integer (one correctly-rounded sqrt + one exact x1000), and the
  // normalizing denominator sums those INTEGERS — so no cross-engine
  // double-accumulation order exists; weight_ppm = s*1e6 DIV sum(s).
  // Shape: one map-side-combined groupBy(source) down to <= |sources|
  // rows; the unpartitioned window runs on that bounded frame.
  def q166(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("s_scaled",
        floor(lit(1000.0) * sqrt(col("sum_chars").cast("double"))).cast("long"))
    bySource
      .withColumn("denom",
        sum(col("s_scaled")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .cast("long"))
      .select(col("source"), col("n_docs"), col("sum_chars"), col("s_scaled"),
        expr("(s_scaled * 1000000) DIV denom").as("weight_ppm"))
  }

  val q166Sql: String =
    """WITH s AS (
      | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(FLOOR(1000.0 * SQRT(CAST(SUM(n_chars) AS DOUBLE))) AS BIGINT)
      |    AS s_scaled
      | FROM documents GROUP BY 1)
      |SELECT source, n_docs, sum_chars, s_scaled,
      | CAST(s_scaled * 1000000 // (SELECT CAST(SUM(s_scaled) AS BIGINT) FROM s)
      |   AS BIGINT) AS weight_ppm
      |FROM s""".stripMargin

  // --- q167: broadcast-vs-shuffle join advisor over the star schema's
  // dimension tables — MartAdvisor's sibling for the OTHER big plan
  // decision. Per dim: row count and a modeled in-memory size
  // (character mass of every string column + 8 bytes per non-string
  // column per row), against Spark's 10 MiB default
  // autoBroadcastJoinThreshold. Shape: one map-side-combined aggregate
  // PER DIM (dims are the small tables by construction), unioned into
  // a 5-row frame — the advisor itself costs one scan of each dim,
  // which is what any broadcast would pay anyway.
  def q167(s: SparkSession, dir: String): DataFrame = {
    val Threshold = 10L * 1024 * 1024
    def est(df: DataFrame, name: String, strCols: Seq[String], nFixed: Int) =
      df.agg(count(lit(1)).as("n_rows"),
          (strCols.map(c => sum(length(col(c)))).reduce(_ + _) +
            lit(nFixed.toLong * 8) * count(lit(1))).cast("long").as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
          when(col("est_bytes") <= Threshold, lit("broadcast"))
            .otherwise(lit("shuffle")).as("decision"))
    est(Tables.region(s, dir), "region", Seq("r_name"), 1)
      .unionByName(est(Tables.nation(s, dir), "nation", Seq("n_name"), 2))
      .unionByName(est(Tables.supplier(s, dir), "supplier", Seq("s_name"), 3))
      .unionByName(est(Tables.customer(s, dir), "customer",
        Seq("c_name", "c_mktsegment"), 3))
      .unionByName(est(Tables.part(s, dir), "part",
        Seq("p_name", "p_brand", "p_type"), 3))
  }

  val q167Sql: String = {
    def one(t: String, strs: Seq[String], nFixed: Int) =
      s"""SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST(${strs.map(c => s"SUM(LENGTH($c))").mkString(" + ")}
         |   + $nFixed * 8 * COUNT(*) AS BIGINT) AS est_bytes,
         | CASE WHEN ${strs.map(c => s"SUM(LENGTH($c))").mkString(" + ")}
         |   + $nFixed * 8 * COUNT(*) <= 10485760
         |  THEN 'broadcast' ELSE 'shuffle' END AS decision
         |FROM $t""".stripMargin
    Seq(one("region", Seq("r_name"), 1),
      one("nation", Seq("n_name"), 2),
      one("supplier", Seq("s_name"), 3),
      one("customer", Seq("c_name", "c_mktsegment"), 3),
      one("part", Seq("p_name", "p_brand", "p_type"), 3))
      .mkString("\nUNION ALL\n")
  }

  // --- q168: watermark-delay advisor — the number every
  // `withWatermark` call needs, chosen from the stream's own arrival
  // profile instead of guessed. Under the q159/q162 lateness model an
  // event's own arrival delay is (event_id % 3) days, which UPPER-
  // BOUNDS its lateness behind any event-time high-water mark (the
  // hwm at its arrival can't exceed its arrival time), so a delay
  // covering a target fraction of arrival delays conservatively
  // covers the same fraction of watermark lateness — and unlike
  // q162's per-user replay this needs ZERO window: one map-side
  // aggregate over the ≤ 3 delay classes, then the literal target
  // spine picks the smallest sufficient delay per completeness
  // target. Exact ppm via integer DIV.
  def q168(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = s
    import sp.implicits._
    val cls = Tables.events(s, dir)
      .groupBy((col("event_id") % 3).cast("long").as("delay_days"))
      .agg(count(lit(1)).as("n_events"))
    val cum = cls
      .withColumn("cum", sum("n_events").over(Window.orderBy("delay_days")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum("n_events").over(Window
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("delay_days"),
        expr("(cum * 1000000) DIV total").as("covered_ppm"))
    val targets = Seq(990000L, 999000L, 1000000L).toDF("target_ppm")
    targets.join(cum, cum("covered_ppm") >= targets("target_ppm"))
      .groupBy("target_ppm")
      .agg(min(struct(col("delay_days"), col("covered_ppm"))).as("pick"))
      .select(col("target_ppm"), col("pick.delay_days").as("delay_days"),
        col("pick.covered_ppm").as("covered_ppm"))
  }

  val q168Sql: String =
    """WITH cls AS (
      | SELECT CAST(event_id % 3 AS BIGINT) AS delay_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      | FROM events GROUP BY 1),
      |cum AS (
      | SELECT delay_days,
      |  CAST(SUM(n_events) OVER (ORDER BY delay_days
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
      |   // CAST((SELECT SUM(n_events) FROM cls) AS BIGINT) AS BIGINT)
      |   AS covered_ppm
      | FROM cls),
      |t AS (SELECT CAST(x AS BIGINT) AS target_ppm
      |  FROM (VALUES (990000), (999000), (1000000)) v(x))
      |SELECT target_ppm,
      | MIN(delay_days) AS delay_days,
      | MIN_BY(covered_ppm, delay_days) AS covered_ppm
      |FROM t JOIN cum ON cum.covered_ppm >= t.target_ppm
      |GROUP BY 1""".stripMargin

  // --- q169: streaming-state sizing readout for the watermark-buffered
  // operators (asOfUpdateStream's pending-fact buffer, the stream-
  // stream join's row buffer): for each candidate delay D, how many
  // rows sit inside the trailing D-day watermark window when the
  // stream idles (= the state the store must hold), total and for the
  // heaviest key. Shape: the corpus-max timestamp is a scalar
  // broadcast (the q47 pattern); the trailing-window rows explode
  // each class into the ≤ 3 delays it counts toward (join-free), then
  // ONE user-keyed shuffle — the totals fold from the per-user frame
  // (sum of per-user counts), so the corpus is scanned once, not once
  // per output statistic.
  def q169(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val mx = ev.agg(max(unix_micros(col("ts"))).as("max_us"))
    val t = ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .crossJoin(broadcast(mx))
      .withColumn("cls", expr("(max_us - ts_us) DIV 86400000000"))
      .filter(col("cls") < 3)
    t.select(col("user_id"),
        explode(expr("sequence(CAST(cls AS INT) + 1, 3)")).as("delay_days"))
      .groupBy("delay_days", "user_id").agg(count(lit(1)).as("n"))
      .groupBy("delay_days")
      .agg(sum("n").cast("long").as("buffered_rows"),
        max("n").as("max_user_buffered"))
      .select(col("delay_days").cast("long").as("delay_days"),
        col("buffered_rows"), col("max_user_buffered"))
  }

  val q169Sql: String =
    """WITH mx AS (SELECT MAX(EPOCH_US(CAST(ts AS TIMESTAMP))) AS max_us FROM events),
      |t AS (
      | SELECT user_id,
      |  (mx.max_us - EPOCH_US(CAST(ts AS TIMESTAMP))) // 86400000000 AS cls
      | FROM events, mx),
      |pd AS (
      | SELECT user_id, CAST(d.delay AS BIGINT) AS delay_days
      | FROM t JOIN (VALUES (1), (2), (3)) d(delay) ON t.cls < d.delay),
      |tot AS (SELECT delay_days, CAST(COUNT(*) AS BIGINT) AS buffered_rows
      | FROM pd GROUP BY 1),
      |pu AS (SELECT delay_days, CAST(MAX(n) AS BIGINT) AS max_user_buffered
      | FROM (SELECT delay_days, user_id, COUNT(*) AS n FROM pd GROUP BY 1, 2)
      | GROUP BY 1)
      |SELECT delay_days, buffered_rows, max_user_buffered
      |FROM tot JOIN pu USING (delay_days)""".stripMargin

  // --- q170: duplicate-pressure trend — the dedup scheduler's readout:
  // per ingest day, how much of the day's volume is redundant on the
  // exact-dedup key (user_id, event_type). Rising dup_ppm says re-run
  // the dedup pass more often; falling says relax it. Shape: one
  // high-cardinality (day, user, type) groupBy (map-side combined),
  // then the ≤ |days| rollup — both partial-aggregable, no window.
  def q170(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy("day")
      .agg(sum("n").cast("long").as("n_events"),
        count(lit(1)).as("n_keys"))
      .select(col("day"), col("n_events"), col("n_keys"),
        expr("((n_events - n_keys) * 1000000) DIV n_events").as("dup_ppm"))
  }

  val q170Sql: String =
    """WITH g AS (
      | SELECT EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |  user_id, event_type, COUNT(*) AS n
      | FROM events GROUP BY 1, 2, 3),
      |d AS (
      | SELECT day, CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys
      | FROM g GROUP BY 1)
      |SELECT day, n_events, n_keys,
      | CAST((n_events - n_keys) * 1000000 // n_events AS BIGINT) AS dup_ppm
      |FROM d""".stripMargin

  // --- q171: shuffle-partition / file-sizing advisor for the FACT
  // tables — q167's sibling for the big side of the plan. Per fact
  // table: row count, modeled in-memory bytes (char mass + 8 B per
  // fixed-width column per row), the 128 MiB partition count that
  // implies (CEIL via exact integer arithmetic), and whether the
  // default 32 shuffle partitions suffice. The number every
  // `spark.sql.shuffle.partitions` / `maxPartitionBytes` tuning pass
  // needs, read from the data instead of guessed. Shape: one
  // map-side-combined aggregate per table, unioned to a 4-row frame —
  // all partial-aggregable, no shuffle beyond the final tiny merge.
  def q171(s: SparkSession, dir: String): DataFrame = {
    val Part = 134217728L // 128 MiB
    def est(df: DataFrame, name: String, strCols: Seq[String], nFixed: Int) =
      df.agg(count(lit(1)).as("n_rows"),
          (strCols.map(c => sum(length(col(c)))).reduce(_ + _) +
            lit(nFixed.toLong * 8) * count(lit(1))).cast("long").as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
          greatest(lit(1L), expr(s"(est_bytes + ${Part - 1}) DIV $Part"))
            .cast("long").as("parts_128mb"))
        .withColumn("rows_per_part",
          expr("n_rows DIV parts_128mb").cast("long"))
        .withColumn("decision",
          when(col("parts_128mb") <= 32, lit("fits_default"))
            .otherwise(lit("raise_partitions")))
    est(Tables.lineitem(s, dir), "lineitem",
        Seq("l_returnflag", "l_linestatus"), 9)
      .unionByName(est(Tables.orders(s, dir), "orders",
        Seq("o_orderstatus", "o_orderpriority"), 4))
      .unionByName(est(Tables.events(s, dir), "events",
        Seq("event_type", "props"), 4))
      .unionByName(est(Tables.documents(s, dir), "documents",
        Seq("text", "lang", "source"), 2))
  }

  val q171Sql: String = {
    def one(t: String, strs: Seq[String], nFixed: Int) = {
      val mass = strs.map(c => s"SUM(LENGTH($c))").mkString(" + ")
      s"""SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST($mass + $nFixed * 8 * COUNT(*) AS BIGINT) AS est_bytes,
         | CAST(GREATEST(1, ($mass + $nFixed * 8 * COUNT(*) + 134217727)
         |   // 134217728) AS BIGINT) AS parts_128mb,
         | CAST(COUNT(*) // GREATEST(1, ($mass + $nFixed * 8 * COUNT(*)
         |   + 134217727) // 134217728) AS BIGINT) AS rows_per_part,
         | CASE WHEN GREATEST(1, ($mass + $nFixed * 8 * COUNT(*) + 134217727)
         |   // 134217728) <= 32
         |  THEN 'fits_default' ELSE 'raise_partitions' END AS decision
         |FROM $t""".stripMargin
    }
    Seq(one("lineitem", Seq("l_returnflag", "l_linestatus"), 9),
      one("orders", Seq("o_orderstatus", "o_orderpriority"), 4),
      one("events", Seq("event_type", "props"), 4),
      one("documents", Seq("text", "lang", "source"), 2))
      .mkString("\nUNION ALL\n")
  }

  // --- q172: token-budget allocator — the step AFTER q166's mixture
  // weights: given a global training-token budget (1e9 here) and the
  // temperature-scaled weights, how many tokens to draw per source,
  // capped at 4 epochs of the source's own mass (the "don't repeat
  // data more than a few times" rule). Tokens are the n_chars DIV 4
  // proxy summed per source (per-doc integer DIV — deterministic on
  // both engines); target = budget * s_scaled DIV sum(s_scaled) reuses
  // q166's engine-proof integer-sqrt posture; alloc = LEAST(target,
  // 4 * src_tokens); epochs_ppm = alloc * 1e6 DIV src_tokens. Shape:
  // one map-side-combined groupBy(source) down to <= |sources| rows,
  // then the unpartitioned window on that bounded frame. Long-range
  // bound: budget * s_scaled stays under 2^63 up to ~25 T tokens per
  // source (s_scaled ~ 5e9) — beyond that, drop the 1000x sqrt scale.
  // The allocation frame is graft.pipeline.CorpusPipeline
  // .mixtureAllocations — ONE definition shared with the executor
  // (assembleMixture samples by the same frame), so this oracle gate
  // checks the pipeline's own math. A source of only sub-4-char docs
  // would divide by zero — DuckDB throws where Spark NULLs — so the
  // shared frame keeps zero-token sources off both surfaces.
  def q172(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.CorpusPipeline
      .mixtureAllocations(Tables.documents(s, dir),
        budgetTokens = 1000000000L, maxEpochs = 4L)
      .select(col("source"), col("src_tokens"), col("target_tokens"),
        col("alloc_tokens"),
        expr("(alloc_tokens * 1000000) DIV src_tokens").as("epochs_ppm"),
        when(col("target_tokens") > col("alloc_tokens"), lit("capped"))
          .otherwise(lit("budgeted")).as("decision"))

  val q172Sql: String =
    """WITH s AS (
      | SELECT source,
      |  CAST(SUM(n_chars // 4) AS BIGINT) AS src_tokens,
      |  CAST(FLOOR(1000.0 * SQRT(CAST(SUM(n_chars // 4) AS DOUBLE))) AS BIGINT)
      |    AS s_scaled
      | FROM documents GROUP BY 1 HAVING SUM(n_chars // 4) > 0),
      |a AS (
      | SELECT source, src_tokens,
      |  CAST(1000000000 * s_scaled
      |    // (SELECT CAST(SUM(s_scaled) AS BIGINT) FROM s) AS BIGINT)
      |    AS target_tokens
      | FROM s)
      |SELECT source, src_tokens, target_tokens,
      | CAST(LEAST(target_tokens, 4 * src_tokens) AS BIGINT) AS alloc_tokens,
      | CAST(LEAST(target_tokens, 4 * src_tokens) * 1000000 // src_tokens
      |   AS BIGINT) AS epochs_ppm,
      | CASE WHEN target_tokens > 4 * src_tokens
      |  THEN 'capped' ELSE 'budgeted' END AS decision
      |FROM a""".stripMargin

  // --- q181: bloom-filter sizing advisor — the q83/FileBloomIndex
  // family's missing input: for each dimension key a bloom-join would
  // build on, the filter size the textbook formula implies at 1% and
  // 0.1% target FPP, and whether it broadcasts. The real-valued
  // constants ln(1/p)/ln(2)^2 (bits per key) and ceil(ln(1/p)/ln 2)
  // (hash count) are frozen at plan time as INTEGER micro literals
  // (9585058 / 14377587 bits-per-key-micro; k = 7 / 10), so
  // m_bits = CEIL(n * bpk_micro / 1e6) is pure integer arithmetic on
  // both engines — no runtime LN at all. Shape: one COUNT DISTINCT
  // aggregate per dim (map-side partial), unioned to a 6-row frame.
  def q181(s: SparkSession, dir: String): DataFrame = {
    val Threshold = 10L * 1024 * 1024
    def est(df: DataFrame, name: String, key: String,
            fppPpm: Long, bpkMicro: Long, k: Long) =
      df.agg(countDistinct(col(key)).as("n_keys"))
        .select(lit(name).as("table_name"), lit(fppPpm).as("fpp_ppm"),
          col("n_keys"),
          expr(s"(n_keys * $bpkMicro + 999999) DIV 1000000").as("m_bits"),
          lit(k).as("k_hashes"))
        .withColumn("bloom_bytes", expr("(m_bits + 7) DIV 8"))
        .withColumn("decision",
          when(col("bloom_bytes") <= Threshold, lit("broadcast_bloom"))
            .otherwise(lit("partitioned_bloom")))
    val specs = Seq(
      (Tables.supplier(s, dir), "supplier", "s_suppkey"),
      (Tables.customer(s, dir), "customer", "c_custkey"),
      (Tables.part(s, dir), "part", "p_partkey"))
    val fpps = Seq((10000L, 9585058L, 7L), (1000L, 14377587L, 10L))
    specs.flatMap { case (df, name, key) =>
      fpps.map { case (fpp, bpk, k) => est(df, name, key, fpp, bpk, k) }
    }.reduce(_ unionByName _)
  }

  val q181Sql: String = {
    def one(t: String, key: String, fppPpm: Long, bpk: Long, k: Long) =
      s"""SELECT '$t' AS table_name, CAST($fppPpm AS BIGINT) AS fpp_ppm,
         | CAST(COUNT(DISTINCT $key) AS BIGINT) AS n_keys,
         | CAST((COUNT(DISTINCT $key) * $bpk + 999999) // 1000000 AS BIGINT)
         |   AS m_bits,
         | CAST($k AS BIGINT) AS k_hashes,
         | CAST(((COUNT(DISTINCT $key) * $bpk + 999999) // 1000000 + 7) // 8
         |   AS BIGINT) AS bloom_bytes,
         | CASE WHEN ((COUNT(DISTINCT $key) * $bpk + 999999) // 1000000 + 7) // 8
         |   <= 10485760
         |  THEN 'broadcast_bloom' ELSE 'partitioned_bloom' END AS decision
         |FROM $t""".stripMargin
    (for {
      (t, key) <- Seq(("supplier", "s_suppkey"), ("customer", "c_custkey"),
        ("part", "p_partkey"))
      (fpp, bpk, k) <- Seq((10000L, 9585058L, 7L), (1000L, 14377587L, 10L))
    } yield one(t, key, fpp, bpk, k)).mkString("\nUNION ALL\n")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_asof_update" -> (q164 _),
    "q165_rebuild_advisor" -> (q165 _),
    "q166_mixture_weights" -> (q166 _),
    "q167_join_advisor" -> (q167 _),
    "q168_watermark_advisor" -> (q168 _),
    "q169_state_size" -> (q169 _),
    "q170_dup_trend" -> (q170 _),
    "q171_partition_advisor" -> (q171 _),
    "q172_token_budget" -> (q172 _),
    "q181_bloom_advisor" -> (q181 _))

  override val oracle: Map[String, String] = Map(
    "q164_asof_update" -> q164Sql,
    "q165_rebuild_advisor" -> q165Sql,
    "q166_mixture_weights" -> q166Sql,
    "q167_join_advisor" -> q167Sql,
    "q168_watermark_advisor" -> q168Sql,
    "q169_state_size" -> q169Sql,
    "q170_dup_trend" -> q170Sql,
    "q171_partition_advisor" -> q171Sql,
    "q172_token_budget" -> q172Sql,
    "q181_bloom_advisor" -> q181Sql)
}
