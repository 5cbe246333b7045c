package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Decontaminate, Dedup}
import graft.pipeline.CorpusPipeline

class CorpusPipelineSpec extends SparkSpec {

  test("curate: stage accounting, reject partition, clean-set guarantees, determinism") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    // eval set drawn from the corpus itself: guaranteed contamination
    // hits for any eval doc that survives quality + dedup
    val eval = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text"))
    val res = CorpusPipeline.curate(spark, docs, Some(eval), dir)

    // stage accounting: names, arithmetic, chain continuity
    assert(res.stages.map(_.stage) ===
      Seq("quality", "exact_dup", "near_dup", "contaminated"))
    res.stages.foreach(s => assert(s.rows_in - s.rows_out === s.rows_dropped))
    assert(res.stages.head.rows_in === res.nIn)
    assert(res.stages.sliding(2).forall {
      case Seq(a, b) => b.rows_in == a.rows_out
      case _         => true
    })
    assert(res.stages.last.rows_out === res.nClean && res.nClean > 0)

    // clean + rejects partition the input id set exactly
    val clean = spark.read.parquet(s"$dir/clean").cache()
    val rejects = spark.read.parquet(s"$dir/rejects")
    assert(clean.count() === res.nClean)
    val cleanIds = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    val rejIds = rejects.select("doc_id").collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds.intersect(rejIds).isEmpty, "a doc is both clean and rejected")
    assert(cleanIds ++ rejIds === allIds, "every input doc is accounted for")
    assert(rejects.count().toInt === rejIds.size, "one reject row per dropped doc")

    // the clean set honors every stage's guarantee
    assert(clean.filter(TF.qualityScore(col("text")) < 0.5).isEmpty,
      "a low-quality doc survived")
    assert(clean.select(col("text")).distinct().count() === res.nClean,
      "an exact duplicate survived")
    assert(Dedup.lshVerifiedPairs(clean, "doc_id", "text", 3, 0.6, 16, 16).isEmpty,
      "a near-dup pair survived canonicalization")
    assert(Decontaminate.overlapFlags(clean, eval, "doc_id", "text", 5).isEmpty,
      "a contaminated doc survived")

    // shards: within-shard positions are dense from 1
    clean.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"))
      .collect().foreach { r =>
        assert(r.getAs[Int]("mn") === 1 && r.getAs[Int]("mx").toLong === r.getAs[Long]("n"))
      }

    // dataset card totals match the clean set
    val card = spark.read.parquet(s"$dir/card")
    assert(card.agg(sum("n_docs")).collect()(0).getLong(0) === res.nClean)

    // determinism: a second run is row-identical
    val dir2 = java.nio.file.Files.createTempDirectory("graft_curate2").toString
    val res2 = CorpusPipeline.curate(spark, docs, Some(eval), dir2)
    assert(res2.stages === res.stages)
    val clean2 = spark.read.parquet(s"$dir2/clean")
    assert(clean.exceptAll(clean2).isEmpty && clean2.exceptAll(clean).isEmpty,
      "curation must be a pure function of the input")
    clean.unpersist(blocking = false)
  }

  test("curateIncrement: batches accumulate a dedup-clean corpus; re-delivered content drops") {
    val state = java.nio.file.Files.createTempDirectory("graft_state").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    val b0 = docs.filter(col("doc_id") < 250)
    val b1 = docs.filter(col("doc_id") >= 250)

    // bootstrap: the backfill is just the first increment
    val r0 = CorpusPipeline.curateIncrement(spark, b0, None, state, "b0")
    assert(r0.nClean > 0 && r0.stages.map(_.stage) ===
      Seq("quality", "exact_dup", "near_dup"))
    // second batch dedups against the stored index, never b0's text
    val r1 = CorpusPipeline.curateIncrement(spark, b1, None, state, "b1")
    assert(r1.nClean > 0)

    // accumulated clean corpus: batch partition column present, ids unique
    val clean = spark.read.parquet(s"$state/clean").cache()
    assert(clean.select("batch").distinct().count() === 2)
    assert(clean.count() === r0.nClean + r1.nClean)
    assert(clean.select("doc_id").distinct().count() === clean.count())
    // the ACCUMULATED corpus is near-dup free at the threshold — the
    // incremental path must leave exactly what a clean corpus looks like
    assert(graft.operators.Dedup
      .lshVerifiedPairs(clean, "doc_id", "text", 3, 0.6, 16, 16).isEmpty,
      "a near-dup pair survived across batches")
    assert(clean.select("text").distinct().count() === clean.count(),
      "an exact duplicate survived across batches")

    // content re-delivery under FRESH ids: everything drops (first-seen wins)
    val redelivered = b1.withColumn("doc_id", col("doc_id") + 1000000L)
    val r2 = CorpusPipeline.curateIncrement(spark, redelivered, None, state, "b2")
    assert(r2.nClean === 0,
      s"re-delivered content must contribute zero new docs, got ${r2.nClean}")
    // and each of its post-quality survivors was rejected as a duplicate
    val rej2 = spark.read.parquet(s"$state/rejects")
      .filter(col("batch").cast("string") === "b2")
    assert(rej2.filter(col("reason").isin("exact_dup", "near_dup")).count() > 0)

    // same batch id refused; same ids refused
    assertThrows[IllegalArgumentException] {
      CorpusPipeline.curateIncrement(spark, b1, None, state, "b1")
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val clash = intercept[IllegalArgumentException] {
      CorpusPipeline.curateIncrement(spark, b1, None, state, "b3")
    }
    assert(clash.getMessage.contains("ids must be new"))
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted,
      "a refused call must release every frame it persisted")
    clean.unpersist(blocking = false)
  }

  test("curateIncrement: assignment near-dup keeps the exact pair-mode set") {
    // assignIncrementEdges with stage B scoped to survivors must keep
    // the pair mode's first-seen-wins set doc-for-doc, including the
    // batch-internal longest-text canonicals, on a split where
    // cross-batch near-dups exist. The pair-mode reference is built
    // here from Dedup.dedupIncrement + dedupClusters on b1's near-dup
    // stage input and b0's stored index.
    val docs = graft.sources.Tables.documents(spark, sf)
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 =!= 0)
    val state = java.nio.file.Files.createTempDirectory("graft_am").toString
    CorpusPipeline.curateIncrement(spark, b0, None, state, "b0")
    CorpusPipeline.curateIncrement(spark, b1, None, state, "b1")
    val rej1 = spark.read.parquet(s"$state/rejects")
      .filter(col("batch").cast("string") === "b1")
    val nearDrops = rej1.filter(col("reason") === "near_dup").count()
    val kept = spark.read.parquet(s"$state/clean")
      .filter(col("batch").cast("string") === "b1")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val stageIn = b1.join(rej1.filter(col("reason").isin("quality", "exact_dup"))
      .select("doc_id"), Seq("doc_id"), "left_anti")
    def b0State(t: String) = spark.read.parquet(s"$state/$t/batch=b0")
    val pairs = Dedup.dedupIncrement(b0State("index_bands"), b0State("index_sets"),
      stageIn, "doc_id", "text", 3, 0.6, 16, 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val batch = stageIn.select("doc_id").collect().map(_.getLong(0)).toSet
    // a batch doc paired with a corpus doc drops (first-seen wins); the
    // batch-internal pairs among the rest cluster, the longest text of
    // each cluster (tie: smallest id) stays
    val corpusDrop = pairs.collect {
      case (a, b) if batch(a) != batch(b) => if (batch(a)) a else b
    }.toSet
    val inner = pairs.filter { case (a, b) =>
      batch(a) && batch(b) && !corpusDrop(a) && !corpusDrop(b)
    }
    val len = stageIn.select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sp = spark
    import sp.implicits._
    val members = Dedup.dedupClusters(inner.toSeq.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("cluster")))
    val canonDrop = members.groupBy(_._2).values.flatMap { ms =>
      val canon = ms.map(_._1).maxBy(n => (len(n), -n))
      ms.map(_._1).filter(_ != canon)
    }.toSet
    val pairKept = batch -- corpusDrop -- canonDrop

    assert(kept === pairKept,
      "assignment-mode kept set must equal the pair-mode kept set")
    // the cross-batch channel was genuinely exercised, identically
    assert(nearDrops === (corpusDrop ++ canonDrop).size.toLong)
    assert(nearDrops > 0, "fixture must exercise cross-batch near-dup drops")
  }

  test("curateIncrement: a batch that never committed is not dedup state") {
    val state = java.nio.file.Files.createTempDirectory("graft_uncommitted").toString
    val b0 = graft.sources.Tables.documents(spark, sf).filter(col("doc_id") < 250)
    val r0 = CorpusPipeline.curateIncrement(spark, b0, None, state, "b0")
    // b0 crashed after its metadata writes, before its commit marker
    assert(org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(s"$state/clean/batch=b0")))
    // the same content under fresh ids is new to every committed batch
    val r1 = CorpusPipeline.curateIncrement(spark,
      b0.withColumn("doc_id", col("doc_id") + 1000000L), None, state, "b1")
    assert(r1.nClean === r0.nClean,
      "a batch must not dedup against state no committed batch wrote")
  }

  test("curate without an eval set skips the contamination stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate3").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    val res = CorpusPipeline.curate(spark, docs, None, dir)
    assert(res.stages.map(_.stage) === Seq("quality", "exact_dup", "near_dup"))
    assert(spark.read.parquet(s"$dir/clean").count() === res.nClean)
  }

  test("curate with span rewrite: clean output carries zero duplicate spans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spanrw").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    val res = CorpusPipeline.curate(spark, docs, None, dir,
      cfg = CorpusPipeline.CurationConfig(spanRewriteTokens = Some(3)))
    assert(res.stages.map(_.stage) ===
      Seq("quality", "exact_dup", "span_rewrite", "near_dup"))
    res.stages.foreach(s => assert(s.rows_in - s.rows_out === s.rows_dropped))
    assert(res.nClean > 0)
    val clean = spark.read.parquet(s"$dir/clean")
    val dupSpans = Dedup.spanDuplicates(clean, "doc_id", "text", 3, 3)
      .agg(coalesce(sum("n_dup_spans"), lit(0L))).collect().head.getLong(0)
    assert(dupSpans == 0, s"span-rewritten clean corpus still has $dupSpans dup spans")
  }

  test("adaptive banding in curate: calm corpus picks the default; increment refuses it") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_adapt").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_fixed").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    val a = CorpusPipeline.curate(spark, docs, None, dirA,
      cfg = CorpusPipeline.CurationConfig(adaptiveBanding = true))
    val b = CorpusPipeline.curate(spark, docs, None, dirB)
    // the sf fixture is calm — the census picks the r=1/16-band default,
    // so both runs must agree stage-for-stage
    assert(a.stages === b.stages && a.nClean === b.nClean)
    val ex = intercept[IllegalArgumentException] {
      CorpusPipeline.curateIncrement(spark, docs, None,
        java.nio.file.Files.createTempDirectory("graft_adinc").toString, "b1",
        cfg = CorpusPipeline.CurationConfig(adaptiveBanding = true))
    }
    assert(ex.getMessage.contains("backfill-only"))
  }

  test("curateIncrement refuses a span-rewrite config instead of ignoring it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spaninc").toString
    val ex = intercept[IllegalArgumentException] {
      CorpusPipeline.curateIncrement(spark, graft.sources.Tables.documents(spark, sf), None,
        dir, "b1", cfg = CorpusPipeline.CurationConfig(spanRewriteTokens = Some(3)))
    }
    assert(ex.getMessage.contains("spanRewriteTokens"))
    assert(new java.io.File(dir).list().isEmpty, "a refused batch writes nothing")
  }

  test("curate with an importance gate: DSIR selection drops off-domain docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_imp").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    val gate = CorpusPipeline.ImportanceConfig(
      isTarget = col("source") === "src0", minScoreMicro = -15000000L)
    val res = CorpusPipeline.curate(spark, docs, None, dir, importance = Some(gate))
    assert(res.stages.map(_.stage) ===
      Seq("quality", "exact_dup", "importance", "near_dup"),
      "the gate must slot between exact dedup and near-dup")
    val imp = res.stages.find(_.stage == "importance").get
    assert(imp.rows_dropped > 0, "the threshold must reject some documents")
    assert(imp.rows_out > 0, "and keep some")
    res.stages.foreach(s => assert(s.rows_in - s.rows_out === s.rows_dropped))
    // every rejected-by-importance doc really scores below the cut (or
    // carries no vocab evidence at all) — recompute on the SAME gate
    // input (post quality + exact dedup), since the model is built
    // from the surviving corpus
    val allRejects = spark.read.parquet(s"$dir/rejects")
    val rejected = allRejects
      .filter(col("reason") === "importance").select("doc_id")
    val gateInput = docs.join(
      allRejects.filter(col("reason").isin("quality", "exact_dup"))
        .select("doc_id"), Seq("doc_id"), "left_anti")
    val scores = graft.operators.Importance
      .dsirScore(gateInput, "doc_id", "text", col("source") === "src0", 2048)
    val tooGood = rejected.join(scores, "doc_id")
      .filter(col("score_micro") >= gate.minScoreMicro)
    assert(tooGood.isEmpty, "no doc at/above the threshold may be rejected")
  }

  test("curate with a SemDeDup stage: semantic dups drop after lexical canonicalization") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_sem").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val scfg = CorpusPipeline.SemDedupConfig(embeddings = emb, threshold = 0.35)
    val res = CorpusPipeline.curate(spark, docs, None, dir, semdedup = Some(scfg))
    assert(res.stages.map(_.stage) ===
      Seq("quality", "exact_dup", "near_dup", "semdedup"),
      "the stage must slot after lexical near-dup canonicalization")
    val sd = res.stages.find(_.stage == "semdedup").get
    assert(sd.rows_dropped > 0, "the embedding corpus must exercise the prune")
    assert(sd.rows_out > 0)
    res.stages.foreach(s => assert(s.rows_in - s.rows_out === s.rows_dropped))
    val allRejects = spark.read.parquet(s"$dir/rejects")
    val rejected = allRejects
      .filter(col("reason") === "semdedup").select("doc_id")
    // a doc with no embedding cannot be judged, so it must never be
    // rejected by this stage
    assert(rejected.join(emb.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_anti").isEmpty,
      "semdedup rejected a doc it had no embedding for")
    // recompute the stage on ITS OWN input (post lexical stages): the
    // reject set must equal semDedup's kept=false ids exactly
    val stageIn = docs.join(allRejects
      .filter(col("reason").isin("quality", "exact_dup", "near_dup"))
      .select("doc_id"), Seq("doc_id"), "left_anti")
    val vecs = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .join(stageIn.select("doc_id"), Seq("doc_id"), "left_semi")
    val expected = graft.operators.Similarity
      .semDedup(vecs, "doc_id", "embedding", 0.35)
      .filter(!col("kept")).select("doc_id")
    assert(rejected.exceptAll(expected).isEmpty &&
      expected.exceptAll(rejected).isEmpty,
      "the stage's rejects must equal the operator's kept=false set")
    // dataset card counts the stage's survivors only
    val card = spark.read.parquet(s"$dir/card")
    assert(card.agg(sum("n_docs")).collect()(0).getLong(0) === res.nClean)
    // determinism: a second run lands on identical stage counts
    val dir2 = java.nio.file.Files.createTempDirectory("graft_curate_sem2").toString
    val res2 = CorpusPipeline.curate(spark, docs, None, dir2, semdedup = Some(scfg))
    assert(res2.stages === res.stages)
  }

  test("assembleMixture allocations ARE the q172 advisor surface") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val plan = graft.pipeline.CorpusPipeline
      .assembleMixture(docs, budgetTokens = 1000000000L)
    val got = plan.allocations.collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("src_tokens"), r.getAs[Long]("target_tokens"),
          r.getAs[Long]("alloc_tokens"))).toMap
    val advisor = graft.queries.OpsQueries.q172(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("src_tokens"), r.getAs[Long]("target_tokens"),
          r.getAs[Long]("alloc_tokens"))).toMap
    assert(got === advisor, "pipeline math must equal the oracle-checked advisor")
  }

  test("assembleMixture: cap-bound budget gives exact full epochs, no sampling") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // 1e9 tokens >> 4 epochs of the test corpus: every source caps
    val plan = graft.pipeline.CorpusPipeline
      .assembleMixture(docs, budgetTokens = 1000000000L)
    val sampled = plan.sampled.collect()
    // every doc survives: the cap keeps 4 epochs of every source (the
    // test corpus has no zero-token source that the src_tokens > 0
    // allocation filter would drop)
    assert(sampled.length.toLong === docs.count(), "capped mixture keeps every doc")
    assert(sampled.forall(_.getAs[Long]("n_copies") === 4L),
      "alloc = 4 epochs exactly => 4 copies each, no fractional draw")
  }

  test("assembleMixture: sub-epoch budget samples deterministically near target") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val total = docs.agg(sum(expr("n_chars DIV 4"))).collect()(0).getLong(0)
    val budget = total / 2 // well under one epoch for every source
    val plan = graft.pipeline.CorpusPipeline.assembleMixture(docs, budget)
    val allocs = plan.allocations.collect()
    assert(allocs.forall(_.getAs[Long]("full_epochs") === 0L))
    // the fractional draw is seeded-hash deterministic
    val ids1 = plan.sampled.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids2 = graft.pipeline.CorpusPipeline.assembleMixture(docs, budget)
      .sampled.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2), "same seed, same sample")
    assert(plan.sampled.collect().forall(_.getAs[Long]("n_copies") === 1L))
    // expectation budgeting: sampled token mass lands near the allocation
    val sampledTokens = plan.sampled.agg(sum(expr("n_chars DIV 4")))
      .collect()(0).getLong(0)
    val allocTotal = allocs.map(_.getAs[Long]("alloc_tokens")).sum
    assert(allocTotal <= budget)
    assert(sampledTokens > allocTotal / 2 && sampledTokens < allocTotal * 3 / 2,
      s"sampled=$sampledTokens alloc=$allocTotal")
    // a different seed moves the draw (hash threshold is seed-driven)
    val ids3 = graft.pipeline.CorpusPipeline
      .assembleMixture(docs, budget, seed = 43L)
      .sampled.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(!ids1.sameElements(ids3), "a new seed redraws the fractional sample")
  }
}
