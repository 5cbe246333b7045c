package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.queries.DedupQueries
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  test("ngram jaccard pairs are symmetric-free and above threshold") {
    val pairs = DedupQueries.q21(spark, sf).cache()
    assert(pairs.count() > 0)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(pairs.filter(col("jaccard") < 0.6).count() == 0)
  }

  test("minhash LSH candidates cover all high-jaccard pairs (recall on exact)") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b")
    val cand = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
    val missed = exact.join(cand, Seq("id_a", "id_b"), "left_anti").count()
    assert(missed == 0, s"$missed near-identical pairs missed by LSH banding")
  }

  test("lsh-verified pairs equal exact all-pairs; plan has no cross join") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.6, numPerm = 16, bands = 16).cache()
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6).cache()
    assert(lsh.count() > 0)
    assert(lsh.exceptAll(exact).count() == 0, "lsh-verified produced a non-exact pair")
    assert(exact.exceptAll(lsh).count() == 0, "lsh-verified missed an exact pair")
    val phys = lsh.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"), "scale path must not cross join")
    assert(!phys.contains("BroadcastNestedLoopJoin"), "scale path must not nested-loop join")
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("hashed verifier equals the dense-bitmap verifier on the q21 corpus") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    def run() = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dense = withConf("graft.dedup.verifier" -> "bitmap")(run())
    val hashed = withConf("graft.dedup.verifier" -> "hashed")(run())
    assert(dense.nonEmpty)
    assert(hashed === dense)
  }

  test("wide-charset corpus: auto falls back to hashed sets, bitmap mode fails loud") {
    val s = spark
    import s.implicits._
    // synthetic open-charset (CJK-plane) corpus: 26 base texts over a
    // 300-codepoint alphabet + a shifted near-duplicate of each — the
    // 3-gram vocabulary far exceeds the tiny bound set below
    val alpha = (0 until 300).map(i => (0x4E00 + i).toChar).mkString
    val base = (0 until 26).map { d =>
      val t = (0 until 40).map(p => alpha((d * 7 + p * 3) % alpha.length)).mkString
      (d.toLong, t)
    }
    val near = base.map { case (d, t) => (d + 1000L, t.drop(1) + t.head) }
    val docs = (base ++ near).toDF("doc_id", "text")
    // driver-side ground truth: exact char-3-gram Jaccard
    def shingleSet(t: String) = t.sliding(3).toSet
    val byId = (base ++ near).map { case (d, t) => d -> shingleSet(t) }
    val truth = (for {
      (a, sa) <- byId; (b, sb) <- byId
      if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= 0.6
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "synthetic corpus must contain near-dup pairs")
    withConf("graft.dedup.maxBitmapVocab" -> "64") {
      // the dense path must refuse, not degrade
      intercept[IllegalArgumentException](
        Dedup.shingleBitmaps(docs, "doc_id", "text", 3).count())
      intercept[IllegalArgumentException](withConf(
        "graft.dedup.verifier" -> "bitmap")(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6).count()))
      // auto mode silently switches to hashed sets and stays exact —
      // through BOTH the all-pairs and the composed LSH paths
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact === truth)
      val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.6,
        numPerm = 16, bands = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh === truth)
    }
    Dedup.releaseCaches()
  }

  test("embedding LSH pairs: exact precision, high recall, no cross join") {
    val e = Tables.embeddings(spark, sf)
    val lsh = Dedup.embeddingLshPairs(e, "vec_id", "embedding",
      threshold = 0.35, nBits = 4, nTables = 16, dim = 64).cache()
    val exact = Dedup.embeddingPairs(e, "vec_id", "embedding", 0.35).cache()
    assert(lsh.count() > 0)
    // precision exactly 1.0: every emitted pair is a verified exact pair
    assert(lsh.exceptAll(exact).count() == 0, "LSH emitted a below-threshold pair")
    val recall = lsh.count().toDouble / exact.count()
    assert(recall >= 0.75, f"recall $recall%.3f below the 16-table expectation")
    val phys = lsh.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"), "scale path must not cross join")
    assert(!phys.contains("BroadcastNestedLoopJoin"), "scale path must not nested-loop join")
  }

  test("simhash banding recalls every pair at the contract bound; rejects beyond") {
    val base = Tables.documents(spark, sf).limit(60).select("doc_id", "text")
    // doubled corpus under new ids: guarantees hamming-0 pairs exist
    val docs = base.unionByName(
      base.select((col("doc_id") + 1000000).as("doc_id"), col("text"))).cache()
    // ground truth: brute-force hamming over collected fingerprints
    val fps = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[Long]("simhash")))
    val truth = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "test corpus must contain close pairs")
    val found = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Number]("id_a").longValue(),
        r.getAs[Number]("id_b").longValue())).toSet
    assert(truth.subsetOf(found),
      s"${(truth -- found).size} pairs within hamming 3 missed by the 4-chunk split")
    // beyond the guarantee the entry point must refuse, not silently under-recall
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 4))
  }

  test("simhash of identical texts is identical") {
    val docs = Tables.documents(spark, sf).limit(10)
    val twice = docs.unionByName(docs)
    val fps = Dedup.simhash(twice, "doc_id", "text")
      .groupBy("doc_id").agg(countDistinct(col("simhash")).as("n"))
    assert(fps.filter(col("n") =!= 1).count() == 0)
  }

  test("brute-force top-k ranks are dense from 1 and self-excluded") {
    val e = Tables.embeddings(spark, sf)
    val topk = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3),
      "vec_id", "embedding", 5).cache()
    assert(topk.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    val perProbe = topk.groupBy("probe_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"))
    assert(perProbe.filter(col("n") =!= 5 || col("mx") =!= 5).count() == 0)
  }

  test("lsh ANN neighbors share the probe's bucket (subset of brute force corpus)") {
    val e = Tables.embeddings(spark, sf)
    val ann = Similarity.lshTopK(e, e.filter(col("vec_id") < 3),
      "vec_id", "embedding", 5, 4, 64)
    assert(ann.count() > 0)
    assert(ann.filter(col("probe_id") === col("neighbor_id")).count() == 0)
  }

  test("incremental dedup over a parquet-persisted index equals the backfill") {
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    val full = Dedup.lshVerifiedPairs(base, "doc_id", "text", 3, 0.6, 16, 16)
      .filter(!(col("id_a") % 8 === 0 && col("id_b") % 8 === 0))
      .select("id_a", "id_b", "n_inter")
    // round-trip the index through parquet: the incremental path must
    // work from a STORED index (fresh session, no lineage), not from
    // the in-memory frames that built it
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx").toString
    val (ib, is) = Dedup.nearDupIndex(
      base.filter(col("doc_id") % 8 === 0), "doc_id", "text", 3, 16, 16)
    ib.write.parquet(s"$dir/bands"); is.write.parquet(s"$dir/sets")
    val incr = Dedup.dedupIncrement(
        spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sets"),
        base.filter(col("doc_id") % 8 =!= 0), "doc_id", "text", 3, 0.6, 16, 16)
      .select("id_a", "id_b", "n_inter")
    assert(incr.exceptAll(full).count() == 0)
    assert(full.exceptAll(incr).count() == 0)
    assert(incr.count() > 0, "the sample corpus has batch-touching near-dups")
  }

  test("bandsForRecall pins the miss bound: 16 bands at t=0.6/r=1, 31 at r=2") {
    assert(Dedup.bandsForRecall(0.6, 1) == 16,
      "the historical numPerm=16/bands=16 default IS the r=1 recall solution")
    assert(Dedup.bandsForRecall(0.6, 2) == 31)
    // monotone in r: deeper bands need more of them for the same recall
    val bs = (1 to 4).map(Dedup.bandsForRecall(0.6, _))
    assert(bs == bs.sorted && bs.distinct == bs)
    // and the bound holds: (1 - t^r)^b <= missProb
    (1 to 4).foreach { r =>
      val b = Dedup.bandsForRecall(0.6, r)
      assert(math.pow(1 - math.pow(0.6, r), b) <= 1e-6)
      assert(math.pow(1 - math.pow(0.6, r), b - 1) > 1e-6, "b must be the FEWEST")
    }
  }

  test("banded census counts within-bucket pairs per doc without materializing them") {
    val s = spark
    import s.implicits._
    // 3 docs colliding in band 0, all distinct in band 1 → 3 pairs over
    // 3 docs at 2 bands
    val banded = Seq(
      (1L, 0, 77L), (2L, 0, 77L), (3L, 0, 77L),
      (1L, 1, 10L), (2L, 1, 20L), (3L, 1, 30L)
    ).toDF("doc_id", "band", "bucket")
    assert(Dedup.bandedCensusPairsPerDoc(banded, bands = 2) == 1.0)
    assert(Dedup.bandedCensusPairsPerDoc(banded.limit(0), bands = 2) == 0.0)
  }

  test("adaptive banding: low density keeps r=1; a low-J-collision corpus escalates") {
    val s = spark
    import s.implicits._
    // a sparse corpus under a generous target stays at the r=1 solution
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    val calm = Dedup.adaptiveBanding(docs, "doc_id", "text", 3, 0.6,
      targetPairsPerDoc = 1e9)
    assert(calm == Dedup.BandingChoice(16, 16, 1,
      calm.estPairsPerDoc, calm.estTotalPairs))
    // 60 docs sharing a short common block and otherwise built from
    // trigrams containing a doc-UNIQUE character (J ≈ 0.05 pairwise, far
    // below the 0.6 threshold): at r=1 roughly half the pairs collide in
    // some band; at r=2 the J^2 per-band odds kill nearly all of them
    val noisy = (0 until 60).map { i =>
      val c = ('Ā' + i).toChar
      (i.toLong, "the quick brown fox jumps over the lazy dog " +
        (0 until 150).map(j =>
          s"$c${('a' + j % 26).toChar}${('a' + j / 26).toChar}").mkString)
    }.toDF("doc_id", "text")
    val hot = Dedup.adaptiveBanding(noisy, "doc_id", "text", 3, 0.6,
      targetPairsPerDoc = 0.001, maxRowsPerBand = 2)
    assert(hot.rowsPerBand == 2 && hot.bands == 31 && hot.numPerm == 62,
      s"dense low-J corpus must escalate, got $hot")
    val flat = Dedup.adaptiveBanding(noisy, "doc_id", "text", 3, 0.6,
      targetPairsPerDoc = 1e9, maxRowsPerBand = 2)
    assert(hot.estPairsPerDoc * 1.3 <= flat.estPairsPerDoc,
      "escalation must be census-verified to pay")
  }

  test("recall budget widens bands with corpus pair mass, never binds at gate scale") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    // gate-scale corpus: measured mass ≪ 1/missProb → budget must be a
    // no-op and the choice byte-identical to the per-pair-only solution
    val unbudgeted = Dedup.adaptiveBanding(docs, "doc_id", "text", 3, 0.6,
      targetPairsPerDoc = 1e9, maxExpectedMisses = 1e18)
    val budgeted = Dedup.adaptiveBanding(docs, "doc_id", "text", 3, 0.6,
      targetPairsPerDoc = 1e9)
    assert(budgeted == unbudgeted, "budget must not bind below 1e6 pairs")
    assert(budgeted.estTotalPairs < 1e6, "fixture sanity: gate mass is small")
    // force the budget to bind on the SAME corpus by shrinking the miss
    // allowance below mass·missProb: bands must widen, and the bound
    // mass·(1−t^r)^bands ≤ maxExpectedMisses must hold at the result —
    // with mass conservatively re-scaled to the final banding
    val mass = math.max(budgeted.estTotalPairs, 1.0)
    val tightBudget = mass * 1e-6 / 100.0 // 100× below the per-pair tail
    val tight = Dedup.adaptiveBanding(docs, "doc_id", "text", 3, 0.6,
      targetPairsPerDoc = 1e9, maxExpectedMisses = tightBudget)
    assert(tight.bands > budgeted.bands && tight.rowsPerBand == 1,
      s"budget must widen bands, got $tight")
    assert(tight.numPerm == tight.bands * tight.rowsPerBand)
    assert(tight.estTotalPairs * math.pow(1.0 - 0.6, tight.bands) <= tightBudget,
      "expected total misses must respect the budget at the re-scaled mass")
    // the re-scale is the documented linear model
    assert(math.abs(tight.estTotalPairs -
      budgeted.estTotalPairs * tight.bands / budgeted.bands) < 1e-6)
  }

  test("screen census gate: gated and ungated verify return identical rows") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    // the packed screen is a provable pre-filter, so skipping it below
    // the density break-even must not change a single output row
    val screened = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.6, 16, 16,
      candidatesPerDocHint = Some(1e9)).collect().toSet
    val gated = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.6, 16, 16,
      candidatesPerDocHint = Some(0.0)).collect().toSet
    assert(screened === gated, "gate must be performance-only")
    assert(screened.nonEmpty, "fixture sanity: there are near-dup pairs")
    // default (no hint) keeps the screen ON — the safe unknown-scale path
    val unhinted = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.6, 16, 16)
      .collect().toSet
    assert(unhinted === screened)
    // incremental path: same equality through dedupIncrement
    val (ib, is) = Dedup.nearDupIndex(
      docs.filter(col("doc_id") % 8 === 0), "doc_id", "text", 3, 16, 16)
    val batch = docs.filter(col("doc_id") % 8 =!= 0)
    val incrOn = Dedup.dedupIncrement(ib, is, batch, "doc_id", "text",
      3, 0.6, 16, 16, candidatesPerDocHint = Some(1e9)).collect().toSet
    val incrOff = Dedup.dedupIncrement(ib, is, batch, "doc_id", "text",
      3, 0.6, 16, 16, candidatesPerDocHint = Some(0.0)).collect().toSet
    assert(incrOn === incrOff, "incremental gate must be performance-only")
    assert(incrOn.nonEmpty)
  }

  test("escalated banding preserves the incremental-vs-backfill equality") {
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    val full = Dedup.lshVerifiedPairs(base, "doc_id", "text", 3, 0.6, 16, 16)
      .filter(!(col("id_a") % 8 === 0 && col("id_b") % 8 === 0))
      .select("id_a", "id_b", "n_inter")
    val (ib, is) = Dedup.nearDupIndex(
      base.filter(col("doc_id") % 8 === 0), "doc_id", "text", 3, 62, 31)
    val incr = Dedup.dedupIncrement(ib, is,
        base.filter(col("doc_id") % 8 =!= 0), "doc_id", "text", 3, 0.6, 62, 31)
      .select("id_a", "id_b", "n_inter")
    assert(incr.exceptAll(full).count() == 0 && full.exceptAll(incr).count() == 0,
      "r=2/b=31 banding must find the same verified pairs as 16/16")
  }

  test("packed-screen upper bound never undercounts an intersection (collision-heavy)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val ops = graft.functions.BitmapOps
    // 2 words = 128 bit slots for up to 90-element sets — collision rates
    // far beyond any production setting; the bound must still hold
    val words = 2
    var seed = 0x9E3779B97F4A7C15L
    def next(): Long = { seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed }
    for (trial <- 1 to 200) {
      val common = Seq.fill(trial % 40)(next())
      val a = (common ++ Seq.fill(20 + trial % 50)(next())).distinct.sorted
      val b = (common ++ Seq.fill(20 + (trial * 7) % 50)(next())).distinct.sorted
      val aa = new GenericArrayData(a.toArray)
      val bb = new GenericArrayData(b.toArray)
      val trueInter = a.toSet.intersect(b.toSet).size.toLong
      val pkA = ops.packBits(aa, words)
      val pkB = ops.packBits(bb, words)
      val excessA = a.length - ops.count(pkA)
      val excessB = b.length - ops.count(pkB)
      val ub = ops.andCount(pkA, pkB) + math.min(excessA, excessB)
      assert(ub >= trueInter,
        s"trial $trial: screen UB $ub < true intersection $trueInter")
    }
  }

  test("incremental dedup REFUSES overlapping id spaces (duplicate-row hazard)") {
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    val (ib, is) = Dedup.nearDupIndex(
      base.filter(col("doc_id") % 8 === 0), "doc_id", "text", 3, 16, 16)
    // batch = ALL of base, so every indexed id is also a batch id
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupIncrement(ib, is, base, "doc_id", "text", 3, 0.6, 16, 16)
    }
    assert(ex.getMessage.contains("disjoint id spaces"))
  }

  test("no_earlier_band_match treats NULL bucket arrays as emit, not silent drop") {
    val s = spark
    import s.implicits._
    // one row with populated arrays agreeing at band 0 (earlier than the
    // probe band 1 → filtered), one row whose array is NULL (corrupt /
    // partially-migrated index row → MUST survive the filter)
    val df = Seq(
      (Some(Seq(7L, 9L)), Some(Seq(7L, 9L)), 1),
      (None: Option[Seq[Long]], Some(Seq(7L, 9L)), 1),
      (Some(Seq(7L, 9L)), None: Option[Seq[Long]], 1)
    ).toDF("bk_a", "bk_b", "band")
    val kept = df.filter(graft.functions.BitmapFunctions
      .noEarlierBandMatch(col("bk_a"), col("bk_b"), col("band"))).count()
    assert(kept == 2, "NULL arrays must degrade to duplicates, never to misses")
    // and the expression itself is non-nullable (safe under any filter)
    val exprOut = df.select(graft.functions.BitmapFunctions
      .noEarlierBandMatch(col("bk_a"), col("bk_b"), col("band")).as("ok"))
    assert(!exprOut.schema("ok").nullable)
    assert(exprOut.filter(col("ok").isNull).count() == 0)
  }

  test("updateClusters equals the batch fixpoint under random edge splits") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13L)
    (1 to 6).foreach { round =>
      val n = 20
      val edges = (1 to 25).map(_ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val cut = rnd.nextInt(edges.length + 1)
      val (oldE, newE) = edges.splitAt(cut)
      val full = Dedup.dedupClusters(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val stored = Dedup.dedupClusters(
        oldE.toDF("id_a", "id_b"), "id_a", "id_b")
      val inc = Dedup.updateClusters(stored,
        newE.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc === full,
        s"round $round (cut=$cut/${edges.length}): incremental != fixpoint")
    }
  }

  test("assignIncrement equals clustering the full pair output (corpus fixture)") {
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 4 === 0)
    val t = 0.65
    val full = Dedup.dedupClusters(
      Dedup.ngramJaccardPairs(base, "doc_id", "text", 3, t)
        .select("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = base.filter(col("doc_id") % 8 === 0)
    val (ib, is) = Dedup.nearDupIndex(idx, "doc_id", "text", 3, 16, 16)
    val stored = Dedup.dedupClusters(
      Dedup.lshVerifiedPairs(idx, "doc_id", "text", 3, t, 16, 16)
        .select("id_a", "id_b"), "id_a", "id_b")
    val got = Dedup.assignIncrement(ib, is, stored,
        base.filter(col("doc_id") % 8 =!= 0), "doc_id", "text", 3, t, 16, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === full, "assignment must land on the batch fixpoint")
    assert(got.nonEmpty, "the sample corpus has near-dup clusters")
  }

  test("assignIncrement: batch doc bridges stored clusters; batch-only cluster forms") {
    val s = spark
    import s.implicits._
    val xa = "the quick brown fox jumps over it"
    val yb = "zeldas umbral knights guard keeps"
    val zc = "morning rain falls on gray stones"
    // index (even ids): family A {2,4}, family B {6,8}, singleton 10
    val idxDocs = Seq((2L, xa), (4L, xa), (6L, yb), (8L, yb),
      (10L, "completely unrelated text nineteen")).toDF("doc_id", "text")
    // batch (odd ids): 101 bridges A and B (concatenation — ~0.45
    // Jaccard to each side at char 3-grams), 103/105 are a new
    // batch-only duplicate pair matching nothing stored
    val batch = Seq((101L, s"$xa $yb"), (103L, zc), (105L, zc))
      .toDF("doc_id", "text")
    val t = 0.4
    val (ib, is) = Dedup.nearDupIndex(idxDocs, "doc_id", "text", 3, 16, 16)
    val stored = Dedup.dedupClusters(
      Dedup.lshVerifiedPairs(idxDocs, "doc_id", "text", 3, t, 16, 16)
        .select("id_a", "id_b"), "id_a", "id_b")
    assert(stored.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(2L -> 2L, 4L -> 2L, 6L -> 6L, 8L -> 6L))
    val got = Dedup.assignIncrement(ib, is, stored, batch,
        "doc_id", "text", 3, t, 16, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.dedupClusters(
      Dedup.ngramJaccardPairs(idxDocs.unionByName(batch),
        "doc_id", "text", 3, t).select("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === full, "assignment must equal the full fixpoint")
    assert(Seq(2L, 4L, 6L, 8L, 101L).forall(got(_) == 2L),
      "the bridge doc must merge both stored clusters under min id")
    assert(got(103L) == 103L && got(105L) == 103L,
      "a batch-only duplicate pair must form its own cluster")
    assert(!got.contains(10L), "an unpaired index doc stays out of the table")
  }

  test("updateClusters: chain merge, empty batch, empty stored, label stability") {
    val s = spark
    import s.implicits._
    // three stored clusters {1,2}, {5,6}, {9,10}; one new chain through a
    // brand-new node 20 merges the first two, the third must not move
    val stored = Dedup.dedupClusters(
      Seq((1L, 2L), (5L, 6L), (9L, 10L)).toDF("id_a", "id_b"), "id_a", "id_b")
    val merged = Dedup.updateClusters(stored,
      Seq((2L, 20L), (20L, 5L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 5L, 6L, 20L).forall(merged(_) == 1L),
      "new chain must merge both clusters under the min member id")
    assert(merged(9L) == 9L && merged(10L) == 9L,
      "untouched cluster labels must not move")
    // empty batch is the identity
    val same = Dedup.updateClusters(stored,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same === stored.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // empty stored reduces to dedupClusters on the batch
    val empty = stored.filter(lit(false))
    val fromScratch = Dedup.updateClusters(empty,
      Seq((3L, 4L), (4L, 7L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromScratch === Map(3L -> 3L, 4L -> 3L, 7L -> 3L))
  }

  test("an edge frame past maxDriverEdges runs its pair source once") {
    val s = spark
    import s.implicits._
    // a chain 0-1-...-12 whose source counts the rows it computes; the
    // bound of 1 edge forces the distributed (dedupClusters) and lazy
    // (updateClusters) paths, which must read the probe's persisted rows
    val runs = s.sparkContext.longAccumulator("pair source rows")
    val bump = udf { (id: Long) => runs.add(1L); id }
    def pairs = s.range(0, 12, 1, 3)
      .select(bump(col("id")).as("id_a"), (col("id") + 1).as("id_b"))
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withConf("graft.dedup.maxDriverEdges" -> "1") {
      assert(labels(Dedup.dedupClusters(pairs, "id_a", "id_b")) ===
        (0L to 12L).map(_ -> 0L).toMap)
      assert(runs.value === 12L, "dedupClusters ran the pair source more than once")
      runs.reset()
      val stored = Seq((0L, 0L), (1L, 0L), (20L, 20L)).toDF("node", "cluster")
      assert(labels(Dedup.updateClusters(stored, pairs, "id_a", "id_b")) ===
        (0L to 12L).map(_ -> 0L).toMap + (20L -> 20L))
      assert(runs.value === 12L, "updateClusters ran the pair source more than once")
    }
    Dedup.releaseCaches()
  }

  test("span dedup flags exactly the later occurrences of repeated spans") {
    val s = spark
    import s.implicits._
    // doc 1 and doc 2 share the span "a b c"; doc 3 repeats "x y z"
    // internally; doc 4 is too short to produce any span
    val docs = Seq(
      (1L, "a b c d e f"),   // spans: "a b c", "d e f"
      (2L, "a b c q r s"),   // "a b c" again (dup), "q r s"
      (3L, "x y z x y z"),   // "x y z" twice — second is an intra-doc dup
      (4L, "t u")            // no 3-token span
    ).toDF("doc_id", "text")
    val res = Dedup.spanDuplicates(docs, "doc_id", "text", spanTokens = 3, stride = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(res == Map(1L -> (2L, 0L), 2L -> (2L, 1L), 3L -> (2L, 1L)))
  }

  test("removeSpans executes the removal plan: later spans go, tails and case stay") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),    // both cells first occurrences — untouched
      (2L, "A B C q r s tl"), // "A B C" dups doc 1's cell (case-insensitive); tail "tl"
      (3L, "x y z x y z"),    // intra-doc repeat — second cell removed
      (4L, "t u")             // too short for any cell — verbatim
    ).toDF("doc_id", "text")
    val out = Dedup.removeSpans(docs, "doc_id", "text", spanTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_spans_kept"),
          r.getAs[Long]("n_spans_removed")))).toMap
    assert(out(1L) == (("a b c d e f", 2L, 0L)))
    assert(out(2L) == (("q r s tl", 1L, 1L)), "dup cell removed, tail preserved")
    assert(out(3L) == (("x y z", 1L, 1L)))
    assert(out(4L) == (("t u", 0L, 0L)))
  }

  test("removeSpans passes NULL texts through unchanged with NULL counts") {
    val s = spark
    import s.implicits._
    // without the guard, size(NULL toks) = -1 silently rewrites the text
    // to '' with n_spans_removed = 0 — a null→'' coercion that would drop
    // such docs as span_rewrite rejects and diverge from the SQL oracle
    val docs = Seq((1L, "a b c d e f"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.removeSpans(docs, "doc_id", "text", spanTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.get(r.fieldIndex("n_spans_kept")),
          r.get(r.fieldIndex("n_spans_removed"))))).toMap
    assert(out(1L) == (("a b c d e f", 2L, 0L)), "non-null rows unaffected")
    assert(out(2L) == ((null, null, null)), "null text passes through untouched")
  }

  test("removeSpans is closed: a second spanDuplicates pass flags nothing") {
    val docs = Tables.documents(spark, sf)
    val before = Dedup.spanDuplicates(docs, "doc_id", "text", 3, 3)
      .agg(sum("n_dup_spans")).collect().head.getLong(0)
    assert(before > 0, "fixture must contain duplicate spans for this to mean anything")
    val rewritten = Dedup.removeSpans(docs, "doc_id", "text", spanTokens = 3)
    val after = Dedup.spanDuplicates(rewritten, "doc_id", "text", 3, 3)
      .agg(coalesce(sum("n_dup_spans"), lit(0L))).collect().head.getLong(0)
    assert(after == 0,
      s"rewritten corpus still flags $after dup spans — cell re-alignment broken")
    // conservation: kept cells + sub-span tails account for every token
    val toks = size(split(trim(col("text")), "\\s+"))
    val removedTokens = Dedup.removeSpans(docs, "doc_id", "text", 3)
      .agg(sum(col("n_spans_removed") * 3)).collect().head.getLong(0)
    val beforeTok = docs.filter(length(trim(col("text"))) > 0).agg(sum(toks))
      .collect().head.getLong(0)
    val afterTok = rewritten.filter(length(trim(col("text"))) > 0).agg(sum(toks))
      .collect().head.getLong(0)
    assert(beforeTok - afterTok == removedTokens,
      "every removed token must come from a removed span — nothing else may change")
  }

  test("span dedup invariant: dup count equals total spans minus distinct spans") {
    val docs = Tables.documents(spark, sf)
    val agg = Dedup.spanDuplicates(docs, "doc_id", "text", 3, 3)
      .agg(sum("n_spans").as("total"), sum("n_dup_spans").as("dups"))
      .collect().head
    val toks = split(trim(lower(col("text"))), "\\s+")
    val distinctSpans = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(transform(sequence(lit(0), size(col("toks")) - 3, lit(3)),
        i => array_join(slice(col("toks"), i + 1, lit(3)), " "))).as("span"))
      .distinct().count()
    assert(agg.getLong(0) - agg.getLong(1) == distinctSpans)
    assert(agg.getLong(1) > 0, "sf0.001 corpus should contain repeated spans")
  }

  test("semDedup keep/drop equals the driver-recomputed dominance rule") {
    val e = Tables.embeddings(spark, sf)
    val t = 0.35
    val out = Similarity.semDedup(e, "vec_id", "embedding", t, nClusters = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cell"), r.getAs[Long]("csim_micro"),
          r.getAs[Boolean]("kept")))).toMap
    val vecs = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    assert(out.keySet == vecs.keySet, "every corpus vector must be emitted")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    // recompute the rule from the output's own (cell, csim) labels plus
    // exact driver-side cosines: v drops iff a lower-(csim, id)
    // clustermate reaches the threshold
    var drops = 0
    out.foreach { case (v, (cellV, csV, keptV)) =>
      val dominated = out.exists { case (u, (cellU, csU, _)) =>
        u != v && cellU == cellV &&
          (csU < csV || (csU == csV && u < v)) &&
          cos(vecs(u), vecs(v)) >= t
      }
      assert(keptV == !dominated, s"vec $v: kept=$keptV but dominated=$dominated")
      if (dominated) drops += 1
    }
    assert(drops > 0, "the near-dup corpus must exercise the prune")
  }

  test("semDedup collapses planted identical vectors to one kept member") {
    val s = spark
    import s.implicits._
    // two exact-duplicate groups + spread singletons; identical vectors
    // land in the same cluster whatever the fit does, so each group must
    // meet. Equal centroid similarity within each group forces the id
    // tie-break: the LOWEST id survives. (k = 2: MLlib KMeans refuses
    // k = 1.)
    val v1 = Array.fill(8)(0.5)
    val v2 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0)
    // distinct one-hot fillers keep MLlib's random init from drawing
    // two IDENTICAL rows as centers (KMeansAggregator crashes on a
    // distinct-center count below k); all mutually orthogonal, so none
    // reaches the 0.999 threshold against anything
    val fillers = (0 until 6).map(i =>
      (30L + i) -> Array.tabulate(8)(j => if (j == i) 1.0 else 0.0))
    val rows = Seq(1L -> v1, 2L -> v1, 3L -> v1, 10L -> v2, 11L -> v2,
      20L -> Array.tabulate(8)(i => if (i < 4) 1.0 else 0.0)) ++ fillers
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = 0.999, nClusters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(out.filter(_._2).keySet ==
      Set(1L, 10L, 20L) ++ fillers.map(_._1),
      s"one survivor per identical group, lowest id on ties: $out")
  }

  test("semDedup is deterministic on identical input (the q49 KMeans posture)") {
    // the content-hash fit sample is layout-stable, but MLlib KMeans'
    // seeded random INIT draws by partition — so the contract is
    // run-to-run determinism on the same input layout (exactly q49's
    // rows-only posture), not layout independence
    val e = Tables.embeddings(spark, sf)
    val a = Similarity.semDedup(e, "vec_id", "embedding", 0.35, 4)
      .orderBy("vec_id").collect().toSeq
    val b = Similarity.semDedup(e, "vec_id", "embedding", 0.35, 4)
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("semDedup derives nClusters from the corpus census when unset") {
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    // the documented derivation: w* = sqrt(2·targetPairsPerTask) clamped
    // to [64, maxClusterSize/4], k = ceil(n/w*) clamped to [2, 2^20]
    val target = Dedup.targetPairsPerTask(spark)
    val wT = math.max(64L, math.min(100000L / 4, math.sqrt(2.0 * target).toLong))
    val expectK = math.max(2L, math.min(1L << 20, (n + wT - 1) / wT)).toInt
    val derived = Similarity.semDedup(e, "vec_id", "embedding", 0.35)
      .orderBy("vec_id").collect().toSeq
    val explicit = Similarity
      .semDedup(e, "vec_id", "embedding", 0.35, nClusters = expectK)
      .orderBy("vec_id").collect().toSeq
    assert(derived == explicit,
      s"derived dial must equal the formula's explicit k=$expectK")
    // a tighter task target derives MORE cells (the dial is live) —
    // counted as DISTINCT cells, not max id: the r14 hot-cell split may
    // legitimately mint offset ids past k when a cell lands wide
    val key = "graft.dedup.targetPairsPerTask"
    val tightCells = try {
      spark.conf.set(key, "8192") // w* = 128 → k = ceil(n/128)
      Similarity.semDedup(e, "vec_id", "embedding", 0.35)
        .select(count_distinct(col("cell"))).head().getLong(0)
    } finally spark.conf.unset(key)
    val defaultCells = derived.map(_.getAs[Long]("cell")).distinct.size
    assert(tightCells > defaultCells,
      s"tight target must produce more cells ($tightCells vs $defaultCells)")
  }

  test("semDedup hot-cell split: a planted dense cell re-splits to the width cap") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val dim = 8
    // one dense cloud at ~10× the derived width cap plus spread
    // fillers; nClusters = 2 concentrates the cloud into one cell, so
    // without the split the dominance join would plan the whole cloud's
    // quadratic pair mass into one task
    val center = Array.fill(dim)(1.0)
    val dense = (0 until 640).map(i => (i.toLong,
      center.map(_ + 0.01 * rng.nextGaussian())))
    val fillers = (0 until 64).map(i => (1000L + i,
      Array.fill(dim)(rng.nextGaussian())))
    val df = (dense ++ fillers).toDF("vec_id", "embedding")
    val key = "graft.dedup.targetPairsPerTask"
    val out = try {
      spark.conf.set(key, "512") // capW = max(64, √(4·512)) = 64
      Similarity.semDedup(df, "vec_id", "embedding", 0.9, nClusters = 2)
        .collect()
    } finally spark.conf.unset(key)
    assert(out.length == 704 &&
      out.map(_.getAs[Long]("vec_id")).toSet.size == 704,
      "every vector emitted exactly once")
    val widths = out.groupBy(_.getAs[Long]("cell")).map(_._2.size)
    assert(widths.max <= 64,
      s"split must cap cell width at capW=64, widest=${widths.max}")
    // the prune stays the pure dominance function of the FINAL cells
    val vecs = (dense ++ fillers).toMap
    val lab = out.map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Long]("cell"), r.getAs[Long]("csim_micro"),
        r.getAs[Boolean]("kept")))).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    lab.foreach { case (v, (cellV, csV, keptV)) =>
      val dominated = lab.exists { case (u, (cellU, csU, _)) =>
        u != v && cellU == cellV &&
          (csU < csV || (csU == csV && u < v)) &&
          cos(vecs(u), vecs(v)) >= 0.9
      }
      assert(keptV == !dominated, s"vec $v: kept=$keptV but dominated=$dominated")
    }
    // the dense cloud still prunes to few survivors — the split changed
    // the clustering, not the semantics
    assert(lab.filter { case (v, (_, _, kept)) => v < 640 && kept }.size < 64,
      "near-identical cloud members must still prune within their cells")
  }

  test("semDedup two-level quantizer: fine residual split past maxFitCells") {
    val e = Tables.embeddings(spark, sf)
    // fitSampleCap 32 → maxFitCells = 2, so nClusters = 8 goes two-level
    // (2 coarse cells × 4 residual-hyperplane fine cells). The prune
    // must stay the pure dominance function of the FINAL cells.
    val t = 0.35
    val out = Similarity.semDedup(e, "vec_id", "embedding", t,
        nClusters = 8, fitSampleCap = 32)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cell"), r.getAs[Long]("csim_micro"),
          r.getAs[Boolean]("kept")))).toMap
    val vecs = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    assert(out.keySet == vecs.keySet, "every vector emitted")
    assert(out.values.map(_._1).toSet.size > 2,
      "the residual split must produce more cells than the coarse fit")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    out.foreach { case (v, (cellV, csV, keptV)) =>
      val dominated = out.exists { case (u, (cellU, csU, _)) =>
        u != v && cellU == cellV &&
          (csU < csV || (csU == csV && u < v)) &&
          cos(vecs(u), vecs(v)) >= t
      }
      assert(keptV == !dominated, s"vec $v: kept=$keptV but dominated=$dominated")
    }
  }

  test("semDedup csim is the exact member mean of the FINAL cell") {
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.semDedup(e, "vec_id", "embedding", 0.35, nClusters = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cell"), r.getAs[Long]("csim_micro")))).toMap
    val vecs = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    val byCell = out.toSeq.groupBy(_._2._1)
    byCell.foreach { case (_, members) =>
      val ids = members.map(_._1)
      val dim = vecs(ids.head).length
      val mean = Array.tabulate(dim)(i => ids.map(vecs(_)(i)).sum / ids.size)
      ids.foreach { id =>
        val v = vecs(id)
        val c = v.zip(mean).map { case (x, y) => x * y }.sum /
          math.sqrt(v.map(x => x * x).sum * mean.map(x => x * x).sum)
        val want = math.floor(c * 1e6).toLong
        assert(math.abs(out(id)._2 - want) <= 1,
          s"vec $id: csim_micro=${out(id)._2} but member-mean gives $want")
      }
    }
  }

  test("semDedup refuses a clustering wider than maxClusterSize") {
    val e = Tables.embeddings(spark, sf)
    val ex = intercept[IllegalArgumentException] {
      Similarity.semDedup(e, "vec_id", "embedding", 0.35,
        nClusters = 2, maxClusterSize = 2)
    }
    assert(ex.getMessage.contains("maxClusterSize"))
  }

  test("default broadcast dial derives from the deployed heap with a floor") {
    // local mode: heap/24 (pinned ≈ 4× raw budgeted at heap/6), floored
    // at 64 MB — the test JVM's actual heap decides which side binds
    val d = Dedup.defaultBroadcastSetBytes(spark)
    val expected = math.max(64L * 1024 * 1024, Runtime.getRuntime.maxMemory / 24)
    assert(d == expected)
  }

  test("census-derived salt: flat corpus gets 1, a hot bucket gets pairs/target") {
    val s = spark
    import s.implicits._
    // flat: 40 singleton buckets → hot product 1 → g = 1 at any target
    val flat = (0L until 40L).map(i => (i, i)).toDF("id", "bucket")
    assert(Dedup.saltForExplode(flat, flat, Seq("bucket")) == 1)
    // hot: one 60-row bucket self-joined emits 3600 rows; target 500
    // rows/task → g = ceil(3600/500) = 8 (product-of-maxes bound)
    val hot = (0L until 60L).map(i => (i, 7L)).toDF("id", "bucket")
    withConf("graft.dedup.targetPairsPerTask" -> "500") {
      assert(Dedup.saltForExplode(hot, hot, Seq("bucket")) == 8)
    }
    // asymmetric: hot 60 × replicated max 3 = 180 emitted; target 100 → 2
    val small = Seq((100L, 7L), (101L, 7L), (102L, 7L), (103L, 8L))
      .toDF("id", "bucket")
    withConf("graft.dedup.targetPairsPerTask" -> "100") {
      assert(Dedup.saltForExplode(hot, small, Seq("bucket")) == 2)
    }
    // clamp: enormous hot product never exceeds the 1024 ceiling
    val huge = (0L until 3000L).map(i => (i, 1L)).toDF("id", "bucket")
    withConf("graft.dedup.targetPairsPerTask" -> "1") {
      assert(Dedup.saltForExplode(huge, huge, Seq("bucket")) == 1024)
    }
  }

  test("hot census: exact products pick the hot set; volume cap and refusal rail") {
    val s = spark
    import s.implicits._
    // two buckets over a 10-pair target (4×4=16, 5×5=25), one under (2×2=4):
    // census returns g from the MAX product and exactly the two hot hashes
    val f = (0L until 4L).map(i => (i, 70L)) ++
      (10L until 15L).map(i => (i, 71L)) ++ Seq((20L, 72L), (21L, 72L))
    val df = f.toDF("id", "bkt")
    withConf("graft.dedup.targetPairsPerTask" -> "10") {
      val (g, hot) = Dedup.hotCensus(df, df, Seq("bkt"))
      assert(g == 3, s"ceil(25/10) = 3, got $g") // max product 25
      assert(hot.size == 2, s"two hot buckets, got ${hot.size}")
    }
    // volume cap binds g below the pair-derived value: hot replicate
    // rows = 9 (4+5), cap 18 rows → g ≤ 2 even though pairs want 3
    val df2 = f.map { case (i, b) => (i, b + 100L) }.toDF("id", "bkt")
    withConf("graft.dedup.targetPairsPerTask" -> "10",
             "graft.dedup.maxSaltVolumeRows" -> "18") {
      val (g, hot) = Dedup.hotCensus(df2, df2, Seq("bkt"))
      assert(g == 2, s"volume cap 18/9 = 2 must bind, got $g")
      assert(hot.size == 2)
    }
    // more hot buckets than the rail allows → loud refusal, not an
    // unbounded driver collect
    val df3 = f.map { case (i, b) => (i, b + 200L) }.toDF("id", "bkt")
    withConf("graft.dedup.targetPairsPerTask" -> "1",
             "graft.dedup.maxHotBuckets" -> "2") {
      val e = intercept[IllegalArgumentException](
        Dedup.hotCensus(df3, df3, Seq("bkt")))
      assert(e.getMessage.contains("maxHotBuckets"))
    }
    // a NEGATIVE rail is a loud error, not a silent disarm of both the
    // refusal guard and the salting (limit(0) would collect nothing)
    withConf("graft.dedup.maxHotBuckets" -> "-1") {
      val e = intercept[IllegalArgumentException](
        Dedup.hotCensus(df3, df3, Seq("bkt")))
      assert(e.getMessage.contains(">= 0"))
    }
    // the dials are PART of the memo key: retuning the target on the
    // SAME frames re-censuses instead of reusing the stale pricing
    // (df was censused above at target 10 → g 3; at 24 only the 25-pair
    // bucket stays hot and g = ceil(25/24) = 2)
    withConf("graft.dedup.targetPairsPerTask" -> "24") {
      val (g, hot) = Dedup.hotCensus(df, df, Seq("bkt"))
      assert(g == 2, s"retuned target must re-census: expected 2, got $g")
      assert(hot.size == 1)
    }
  }

  test("hot/cold split engages and preserves the candidate set") {
    val s = spark
    import s.implicits._
    // 24 identical docs (every band bucket 24-wide: hot under target 50)
    // plus distinct docs that stay cold — the derived path must split
    // and still emit exactly the pairs the unsalted g=1 plan emits
    val docs = ((0L until 24L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta")) ++
      (100L until 140L).map(i => (i, s"unique text body number $i with trailing words ${i * 7}")))
      .toDF("doc_id", "text")
    def run() = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // engagement proof: with the hot-bucket rail at 0 the census MUST
    // refuse — i.e. this corpus genuinely has hot buckets under target
    // 50, so the `auto` run below exercises the split path, not the
    // plain fallback (a refusal never memoizes, so the next run is
    // clean). maxBroadcastBandRows=0 pins PAST the broadcast fast path
    // — a corpus this small would otherwise broadcast and never census.
    withConf("graft.dedup.targetPairsPerTask" -> "50",
             "graft.dedup.maxBroadcastBandRows" -> "0",
             "graft.dedup.maxHotBuckets" -> "0") {
      intercept[IllegalArgumentException](run())
    }
    val auto = withConf("graft.dedup.targetPairsPerTask" -> "50",
                        "graft.dedup.maxBroadcastBandRows" -> "0")(run())
    val g1 = withConf("graft.dedup.bucketSalt" -> "1")(run())
    assert(auto.nonEmpty, "planted duplicates must produce candidate pairs")
    assert(auto === g1, "hot/cold split changed the candidate set")
    assert(auto.exists { case (a, b) => a < 24L && b < 24L },
      "duplicate cluster pairs present")
  }

  test("candidate pairs are salt-invariant: explicit g=1/g=8 and auto agree") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 8 === 0)
    def run() = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = run() // unset dials → broadcast fast path at this scale
    val census = withConf("graft.dedup.maxBroadcastBandRows" -> "0")(run())
    val g1 = withConf("graft.dedup.bucketSalt" -> "1")(run())
    val g8 = withConf("graft.dedup.bucketSalt" -> "8")(run())
    assert(auto.nonEmpty)
    assert(census === auto, "census path changed the candidate set")
    assert(g1 === auto, "g=1 changed the candidate set")
    assert(g8 === auto, "g=8 changed the candidate set")
  }

  test("broadcast fast path: batch-sized increments never shuffle the index") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 80L)
      .map(i => (i, s"common prefix words body $i tail ${i % 7} end"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1000L, "common prefix words body 3 tail 3 end"),
      (1001L, "entirely unrelated fresh content nothing shared here"))
      .toDF("doc_id", "text")
    val (ib, is) = Dedup.nearDupIndex(corpus, "doc_id", "text", 3, 16, 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = Dedup.dedupIncrement(ib, is, batch, "doc_id", "text",
      3, 0.6, 16, 16)
    val viaCensus = withConf("graft.dedup.maxBroadcastBandRows" -> "0") {
      Dedup.dedupIncrement(ib, is, batch, "doc_id", "text", 3, 0.6, 16, 16)
    }
    // the batch side is under the default row bound → both candidate
    // joins broadcast and the index is never repartitioned/censused:
    // the fast plan must carry strictly FEWER shuffle exchanges than
    // the census plan (which width-pins both sides of both candidate
    // joins). Note mere "contains BroadcastHashJoin" would pass on the
    // census path too — the verify join broadcasts its sets side
    // either way — so the assertion is on the exchange counts.
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      graft.tools.RegenPlanBudgets
        .exchangeCounts(df.queryExecution.executedPlan.toString)._1
    assert(shuffles(fast) < shuffles(viaCensus),
      s"fast path must remove shuffle exchanges: fast=${shuffles(fast)} " +
        s"census=${shuffles(viaCensus)}")
    assert(pairs(fast) === pairs(viaCensus),
      "broadcast fast path changed the verified pair set")
    assert(pairs(fast).nonEmpty, "planted near-dup must verify")
  }
}
