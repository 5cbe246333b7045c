package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Privacy / governance extract (SURVEY.md §2, q105): the
  * pseudonymize-generalize-suppress pass every shared training corpus
  * or analytics extract runs before leaving the trust boundary
  * (the reference's mart layer exposes raw customer rows; this is the
  * compliance-grade projection of the same data).
  *
  * Semantics (classic k-anonymity, Sweeney 2002 "k-anonymity: a model
  * for protecting privacy"):
  *  - direct identifiers are replaced by a deterministic pseudonym
  *    (md5 of the name — deterministic so downstream joins on
  *    pseudo_id still work, one-way so the extract alone can't be
  *    reversed);
  *  - continuous attributes are generalized into coarse bands
  *    (account balance → width-1000 bands);
  *  - quasi-identifier combinations (nation × market segment) that
  *    fewer than k individuals share are SUPPRESSED (both columns
  *    collapse to "*"), and if the "*" bucket itself lands below k the
  *    smallest surviving classes are suppressed whole until it
  *    reaches k — so EVERY quasi-identifier class in the output,
  *    including "*", has ≥ k members and no row is re-identifiable by
  *    linking.
  *
  * Scale shape: group sizes come from one partial-aggregated groupBy
  * (output is at most |nations|·|segments| rows — metadata-sized) that
  * broadcasts back onto the row stream. The alternative window
  * formulation (`count(*) OVER (PARTITION BY qi)`) would shuffle the
  * FULL table by the quasi-identifier key — skewed and pointless at
  * 100 TB when the aggregate fits in a broadcast. The row side stays
  * a single scan + map.
  */
object PrivacyQueries extends QuerySet {

  /** Suppress quasi-identifier columns of rows whose QI combination
    * has fewer than k members. Returns the input plus one string
    * column per QI (named `<col>_qi`), collapsed to "*" in suppressed
    * groups.
    *
    * The "*" bucket is ITSELF a quasi-identifier class: if the
    * undersized groups sum to fewer than k rows, a suppressed row
    * would still be k-identifiable. So when 0 < Σ(undersized) < k, the
    * smallest surviving classes (deterministic order: size, then QI
    * values) are suppressed whole until the bucket reaches k — after
    * which EVERY output class, "*" included, has ≥ k members (or the
    * input was smaller than k and everything collapses). The top-up
    * windows run over the GROUP frame (≤ |QI-combo| rows — metadata-
    * sized; the unpartitioned window is fine there), never the corpus.
    */
  def kAnonymize(df: DataFrame, quasiIds: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quasiIds.nonEmpty && k >= 1, s"kAnonymize: need QI columns and k >= 1")
    val sizes = df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("__qi_n"))
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wOrd = Window
      .orderBy((col("__qi_n") +: quasiIds.map(col)).map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = sizes
      .withColumn("__s_base",
        sum(when(col("__qi_n") < k, col("__qi_n")).otherwise(0L)).over(wAll))
      .withColumn("__cum_before", coalesce(
        sum(when(col("__qi_n") < k, 0L).otherwise(col("__qi_n"))).over(wOrd),
        lit(0L)))
      .withColumn("__sup",
        col("__qi_n") < k ||
          (col("__s_base") > 0 && col("__s_base") + col("__cum_before") < k))
      .select((quasiIds.map(col) :+ col("__sup")): _*)
    // null-safe join: a null QI value forms its own group (groupBy
    // already counted it) and must flow through like any other —
    // a plain equi-join would silently DROP null-QI rows, losing
    // records from a governance extract
    val fl = flagged.select(
      (quasiIds.map(q => col(q).as(s"__f_$q")) :+ col("__sup")): _*)
    val cond = quasiIds.map(q => col(q) <=> col(s"__f_$q")).reduce(_ && _)
    val joined = df.join(broadcast(fl), cond)
      .drop(quasiIds.map(q => s"__f_$q"): _*)
    quasiIds.foldLeft(joined) { (d, q) =>
      d.withColumn(s"${q}_qi",
        when(!col("__sup"), col(q).cast("string")).otherwise(lit("*")))
    }.drop("__sup")
  }

  // --- q105: k-anonymous customer extract (k=10 over nation×segment,
  // md5 pseudonym, width-1000 balance bands) ---
  def q105(s: SparkSession, dir: String): DataFrame =
    kAnonymize(Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), 10)
      .select(
        md5(col("c_name")).as("pseudo_id"),
        col("c_nationkey_qi").as("nation_qi"),
        col("c_mktsegment_qi").as("segment_qi"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))

  val q105Sql: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS grp_n
      |           FROM customer GROUP BY 1, 2),
      |t AS (SELECT *,
      |  SUM(CASE WHEN grp_n < 10 THEN grp_n ELSE 0 END) OVER () AS s_base,
      |  COALESCE(SUM(CASE WHEN grp_n < 10 THEN 0 ELSE grp_n END)
      |    OVER (ORDER BY grp_n, c_nationkey, c_mktsegment
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      | FROM g),
      |f AS (SELECT c_nationkey, c_mktsegment,
      |  (grp_n < 10 OR (s_base > 0 AND s_base + cum_before < 10)) AS sup FROM t)
      |SELECT md5(c.c_name) AS pseudo_id,
      |  CASE WHEN NOT f.sup THEN CAST(c.c_nationkey AS VARCHAR) ELSE '*' END AS nation_qi,
      |  CASE WHEN NOT f.sup THEN c.c_mktsegment ELSE '*' END AS segment_qi,
      |  CAST(FLOOR(c.c_acctbal / 1000) AS BIGINT) AS bal_band
      |FROM customer c JOIN f USING (c_nationkey, c_mktsegment)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_privacy_extract" -> (q105 _))

  override val oracle: Map[String, String] = Map(
    "q105_privacy_extract" -> q105Sql)
}
