package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml.FraudScorer
import graft.operators.Dedup
import graft.queries.DedupQueries
import graft.sources.Tables
import graft.util.CacheTracker

/** The session-memo contract ([[graft.util.SessionMemo]]), driven
  * through the real memo consumers on private copies of the sf0.001
  * tables, so the memo keys never collide with another suite's.
  */
class SessionMemoSpec extends SparkSpec {

  private val JaccardT = 0.6 // DedupQueries' q72 threshold

  private def copyOf(tables: String*): String = {
    val dir = Files.createTempDirectory("graft_memo")
    tables.foreach(t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  private def rewrite(dir: String, table: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$table.parquet")

  private def q(name: String) =
    SparkEntry.queries.find(_._1.startsWith(name + "_")).get._2

  // the memo families Bench fills, and queries whose construction
  // alone fills them all: each builds its value (or the eager part of
  // it) inside the query constructor
  private val Families = Set("verified_pairs", "banding_census",
    "semdedup_assignment", "ivf_index", "fraud_feature_table", "pq_index",
    "doc_token_sets", "cooc_vocab", "dedup_assign_edges", "fraud_lr_model")

  private def fillAll(s: SparkSession, dir: String): Unit =
    Seq("q69", "q72", "q192", "q49", "q189", "q149", "q78").foreach(name => q(name)(s, dir))

  private def memoDir(): String = copyOf("documents", "embeddings", "events", "customer")

  test("a rewritten corpus gets a fresh banding choice after a release") {
    val dir = Files.createTempDirectory("graft_memo_band").toString
    val docs = Tables.table(spark, sf, "documents")
    rewrite(dir, "documents", docs.filter(col("doc_id") < 200))
    q("q72")(spark, dir).count()
    val choiceA = DedupQueries.bandingFor(spark, dir, JaccardT)
    SparkEntry.releaseAllCaches()
    rewrite(dir, "documents", docs)
    q("q72")(spark, dir).count()
    val fresh = Dedup.adaptiveBanding(
      Tables.documents(spark, dir).filter(col("doc_id") % 4 === 0),
      "doc_id", "text", k = 3, threshold = JaccardT)
    assert(fresh != choiceA, "the two corpora must price differently")
    assert(DedupQueries.bandingFor(spark, dir, JaccardT) === fresh)
  }

  test("a rewritten corpus rebuilds every memo family after a release") {
    val dir = memoDir()
    // salt_census fills only on the censused band join, which the
    // broadcast fast path skips at this scale
    val families = Families + "salt_census"
    val fillQueries = Seq("q69", "q72", "q192", "q49", "q189", "q149", "q78")
    def held(s: SparkSession): Map[String, Seq[Any]] =
      CacheTracker.memos.filter(m => families(m.name)).map(m => m.name -> m.valuesFor(s)).toMap
    def counts(s: SparkSession): Seq[Long] = fillQueries.map(name => q(name)(s, dir).count())
    def fill(): Unit =
      try {
        spark.conf.set("graft.dedup.maxBroadcastBandRows", "0")
        fillAll(spark, dir)
      } finally spark.conf.unset("graft.dedup.maxBroadcastBandRows")
    val full = Seq("documents", "embeddings", "events").map(t => t -> Tables.table(spark, sf, t))
    rewrite(dir, "documents", full.head._2.filter(col("doc_id") % 4 =!= 1))
    rewrite(dir, "embeddings", full(1)._2.filter(col("vec_id") % 4 =!= 1))
    rewrite(dir, "events", full(2)._2.filter(col("event_id") % 4 =!= 1))
    fill()
    val before = held(spark)
    val reshaped = counts(spark)
    SparkEntry.releaseAllCaches()
    full.foreach { case (t, df) => rewrite(dir, t, df) }
    fill()
    val after = held(spark)
    val unfilled = families.filter(f => after.getOrElse(f, Nil).isEmpty)
    assert(unfilled.isEmpty, s"no entry after the refill: ${unfilled.mkString(", ")}")
    val stale = families.filter(f => after(f).exists(v =>
      before.getOrElse(f, Nil).exists(_.asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef])))
    assert(stale.isEmpty, s"pre-rewrite values served after the release: ${stale.mkString(", ")}")
    // every fill query now answers for the full corpus, as a fresh
    // session reading the same files does
    val got = counts(spark)
    assert(got === counts(spark.newSession()))
    assert(got !== reshaped, "the reshaped corpus must answer differently")
  }

  test("rewritten events and a clearCache refit the scoring model") {
    val dir = copyOf("events", "customer")
    def probs(m: LogisticRegressionModel): Array[Double] =
      m.transform(FraudScorer.buildAssembled(spark, dir))
        .orderBy("event_id")
        .select(round(element_at(vector_to_array(col("probability")), 2), 6))
        .collect().map(_.getDouble(0))
    FraudScorer.score(spark, dir).count()
    val modelA = FraudScorer.fit(FraudScorer.buildAssembled(spark, dir))
    val ev = Tables.table(spark, sf, "events")
    rewrite(dir, "events", ev.withColumn("value",
      when(col("event_id") % 2 === 0, col("value") * 5).otherwise(col("value") / 5)))
    spark.catalog.clearCache()
    val fresh = FraudScorer.fit(FraudScorer.buildAssembled(spark, dir))
    assert(fresh.coefficients != modelA.coefficients)
    val got = FraudScorer.score(spark, dir).orderBy("event_id")
      .select("fraud_prob").collect().map(_.getDouble(0))
    val (want, stale) = (probs(fresh), probs(modelA))
    def close(a: Array[Double], b: Array[Double]) =
      a.length == b.length && a.zip(b).forall { case (x, y) => math.abs(x - y) <= 2e-6 }
    assert(!close(want, stale), "the stale model must score the new events differently")
    assert(close(got, want))
  }

  test("a second session builds its own value and leaves the first's") {
    val dir = copyOf("documents")
    val first = DedupQueries.verifiedPairs(spark, dir, JaccardT)
    val other = spark.newSession()
    val second = DedupQueries.verifiedPairs(other, dir, JaccardT)
    assert(second ne first)
    assert(second.sparkSession eq other)
    assert(second.count() === first.count())
    assert(DedupQueries.verifiedPairs(spark, dir, JaccardT) eq first)
    assert(DedupQueries.verifiedPairs(other, dir, JaccardT) eq second)
  }

  test("an external clearCache rebuilds the value instead of re-persisting it") {
    val dir = copyOf("documents")
    // cached relations in a consumer's plan: the top frame plus the
    // intermediates its builder persisted. Re-persisting the stale top
    // frame would register it alone, over an uncached build plan.
    def cachedNodes(df: DataFrame): Int =
      "InMemoryRelation".r.findAllMatchIn(
        df.select("id_a").queryExecution.withCachedData.treeString).size
    val first = DedupQueries.verifiedPairs(spark, dir, JaccardT)
    val n = first.count()
    assert(cachedNodes(first) > 1)
    spark.catalog.clearCache()
    assert(first.storageLevel === StorageLevel.NONE)
    val rebuilt = DedupQueries.verifiedPairs(spark, dir, JaccardT)
    assert(rebuilt ne first)
    assert(rebuilt.storageLevel !== StorageLevel.NONE)
    assert(cachedNodes(rebuilt) > 1, "the rebuild must re-register its intermediates")
    assert(rebuilt.count() === n)
  }

  test("two threads calling one key build once") {
    val dir = copyOf("documents")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val calls = Seq.fill(2)(Future {
        start.await()
        DedupQueries.verifiedPairs(spark, dir, JaccardT)
      })
      start.countDown()
      val Seq(a, b) = calls.map(Await.result(_, 5.minutes))
      assert(a eq b)
    } finally pool.shutdown()
  }

  test("every memo family serves a second session its own value and keeps the first's") {
    val dir = memoDir()
    def held(s: SparkSession): Map[String, Seq[Any]] =
      CacheTracker.memos.filter(m => Families(m.name)).map(m => m.name -> m.valuesFor(s)).toMap
    fillAll(spark, dir)
    val first = held(spark)
    assert(first.keySet === Families)
    val other = spark.newSession()
    fillAll(other, dir)
    val missing = held(other).collect { case (name, vs) if vs.isEmpty => name }
    assert(missing.isEmpty, s"no entry for the second session: ${missing.mkString(", ")}")
    fillAll(spark, dir)
    val rebuilt = held(spark).collect {
      case (name, vs) if vs.size != first(name).size ||
          !first(name).forall(v => vs.exists(_.asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef])) => name
    }
    assert(rebuilt.isEmpty, s"first session's values rebuilt: ${rebuilt.mkString(", ")}")
  }

  test("releaseAllCaches empties every registered memo") {
    fillAll(spark, memoDir())
    val memos = CacheTracker.memos
    assert(Families.subsetOf(memos.map(_.name).toSet))
    val empty = memos.filter(m => Families(m.name) && m.size == 0).map(_.name)
    assert(empty.isEmpty, s"memos not filled: ${empty.mkString(", ")}")
    SparkEntry.releaseAllCaches()
    val left = memos.filter(_.size > 0).map(_.name)
    assert(left.isEmpty, s"memos left after release: ${left.mkString(", ")}")
  }

  test("no memo map or liveness check outside graft/util") {
    val root = Paths.get("src/main/scala")
    val util = root.resolve("graft/util")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(util))
      .filter { p =>
        val src = new String(Files.readAllBytes(p), UTF_8)
        src.contains("ConcurrentHashMap") || src.contains("StorageLevel.NONE")
      }.toList
    assert(offenders.isEmpty, s"hand-rolled memo code in: ${offenders.mkString(", ")}")
  }
}
