package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.{Compaction, Sinks, Tables, XlsxSource}

class SinksSpec extends SparkSpec {

  test("compaction merges fragmented parquet, preserves data, swaps atomically") {
    val base = Files.createTempDirectory("graft_compact").toString
    val path = s"$base/events"
    // fragment: 40 single-row-group files, the streaming-sink signature
    val ev = Tables.events(spark, sf)
    ev.repartition(40).write.parquet(path)
    val before = Compaction.census(spark, path)
    assert(before.nFiles >= 40)
    assert(Compaction.needsCompaction(spark, path), "fragmented dir must trigger")
    val expected = ev.count()

    val after = Compaction.compact(spark, path, targetBytes = 512L * 1024 * 1024)
    assert(after.nFiles == 1, s"tiny table compacts to one file, got ${after.nFiles}")
    assert(!Compaction.needsCompaction(spark, path), "compacted dir must not re-trigger")
    val back = spark.read.parquet(path)
    assert(back.count() == expected, "compaction must not lose rows")
    assert(back.agg(sum(col("event_id"))).head().getLong(0) ==
      ev.agg(sum(col("event_id"))).head().getLong(0), "content checksum must survive")
    // no stage directory left behind
    assert(!new java.io.File(path + "__stage").exists())

    // interrupted-swap guard: table gone, only the stage dir remains
    assert(new java.io.File(path).renameTo(new java.io.File(path + "__stage")))
    val e = intercept[IllegalStateException] { Compaction.census(spark, path) }
    assert(e.getMessage.contains("interrupted"), "must name the failure mode")
    // recovery: rename back, census works again
    assert(new java.io.File(path + "__stage").renameTo(new java.io.File(path)))
    assert(Compaction.census(spark, path).nFiles == 1)
  }

  test("the stage suffix is spelled only in the swap owner") {
    val owner = Paths.get("src/main/scala/graft/sources/Compaction.scala")
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .filter(p => Files.readString(p).contains("__stage"))
      .toSeq
    assert(offenders.isEmpty, s"stage suffix outside Compaction: ${offenders.mkString(", ")}")
  }

  test("parquet/csv/json/orc round-trips preserve row counts") {
    val base = Files.createTempDirectory("graft_sinks").toString
    val df = Tables.nation(spark, sf)
    val n = df.count()
    Seq("parquet", "csv", "json", "orc").foreach { fmt =>
      val p = s"$base/$fmt"
      fmt match {
        case "parquet" => Sinks.writeParquet(df, p)
        case "csv"     => Sinks.writeCsv(df, p)
        case "json"    => Sinks.writeJson(df, p)
        case "orc"     => Sinks.writeOrc(df, p)
      }
      assert(Sinks.readBack(spark, p, fmt).count() == n, s"$fmt round-trip lost rows")
    }
  }

  test("partitioned parquet enables partition pruning in the plan") {
    val base = Files.createTempDirectory("graft_part").toString
    Sinks.writeParquet(Tables.orders(spark, sf), s"$base/orders",
      partitionBy = Seq("o_orderpriority"))
    val pruned = spark.read.parquet(s"$base/orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(scan.contains("o_orderpriority"), "partition column must drive the scan")
  }

  test("z-order write path: per-file min/max tighter than single-column sort") {
    import graft.operators.ZOrder
    val dir = Files.createTempDirectory("graft_zwrite").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), col("ts"), col("event_id"))
    // range-compress both dimensions into the 16-bit interleave domain
    val b = ev.agg(min("user_id"), max("user_id"),
      min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).collect()(0)
    def c16(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      ((c - lit(lo)) * lit(65535L) / lit(math.max(hi - lo, 1L))).cast("long")
    val prepared = ev
      .withColumn("u16", c16(col("user_id"), b.getLong(0), b.getLong(1)))
      .withColumn("t16", c16(unix_timestamp(col("ts")), b.getLong(2), b.getLong(3)))
    val z = ZOrder.zvalue(Seq(col("u16"), col("t16")), 16)
    Sinks.writeParquet(ZOrder.cluster(prepared, z, 8), s"$dir/zorder")
    Sinks.writeParquet(
      prepared.repartitionByRange(8, col("t16")).sortWithinPartitions("t16"),
      s"$dir/tsort")
    // the pruning currency: avg per-FILE span of the NON-sort dimension
    def avgSpan(path: String, c: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).as("span"))
        .agg(avg("span")).collect()(0).getDouble(0)
    val zUserSpan = avgSpan(s"$dir/zorder", "u16")
    val tsUserSpan = avgSpan(s"$dir/tsort", "u16")
    // ts-sorted files each contain ~every user; z-ordered files cover a
    // user half/quarter — min/max user_id stats actually prune
    assert(zUserSpan < tsUserSpan * 0.7,
      s"z-order user span $zUserSpan not tighter than ts-sort $tsUserSpan")
    // and the z layout keeps ts locality too (far from the full range)
    assert(avgSpan(s"$dir/zorder", "t16") < 0.5 * 65535,
      "z-order files must stay time-local as well")

    // the read path: file-level skipping off the per-file index must
    // read fewer files than exist AND return the exact filter result
    val idx = ZOrder.fileIndex(spark, s"$dir/zorder", Seq("u16", "t16")).cache()
    val nFiles = idx.count()
    val (lo, hi) = (1000L, 9000L) // a narrow u16 slice
    val kept = idx.filter(col("max_u16") >= lo && col("min_u16") <= hi).count()
    assert(kept < nFiles, s"narrow range kept all $nFiles files — no skipping")
    val pruned = ZOrder.prunedRead(spark, s"$dir/zorder", idx, "u16", lo, hi)
    val full = spark.read.parquet(s"$dir/zorder")
      .filter(col("u16") >= lo && col("u16") <= hi)
    assert(pruned.count() == full.count())
    assert(pruned.select("event_id").exceptAll(full.select("event_id")).isEmpty)
  }

  test("advisor-sized bloom index: census-derived sizing, smaller index, still exact") {
    import graft.operators.FileBloomIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomsz").toString
    graft.sources.Tables.events(spark, sf)
      .repartitionByRange(8, col("user_id"))
      .write.parquet(s"$dir/events")
    val (idx, sized) = FileBloomIndex.bloomIndexSized(spark, s"$dir/events", "user_id")
    val idxC = idx.cache()
    // the derivation: sized = ceil(1.1 × max per-file approx-distinct);
    // check against the EXACT census within approx_count_distinct's
    // error envelope
    val exactMax = spark.read.parquet(s"$dir/events")
      .groupBy(input_file_name()).agg(countDistinct(col("user_id")).as("n"))
      .agg(max("n")).head().getLong(0)
    assert(sized >= exactMax, "sizing below the true per-file max would blow the fpp")
    assert(sized <= (exactMax * 1.25).toLong + 1,
      s"sized=$sized is far beyond ceil(1.1 x $exactMax) — census not driving sizing")
    // the measured sizing beats the 1M caller-guess by orders of magnitude
    val guessBytes = FileBloomIndex.bloomIndex(spark, s"$dir/events", "user_id")
      .select(sum(length(col("bloom")))).head().getLong(0)
    val sizedBytes = idxC.select(sum(length(col("bloom")))).head().getLong(0)
    assert(sizedBytes * 10 < guessBytes,
      s"sized index ($sizedBytes B) should be far under the guessed one ($guessBytes B)")
    // and the no-false-negatives contract is untouched
    val u = graft.sources.Tables.events(spark, sf)
      .select("user_id").orderBy("user_id").limit(1).collect().head.getLong(0)
    val pruned = FileBloomIndex.prunedPointRead(spark, s"$dir/events", idxC, "user_id", u)
    val full = spark.read.parquet(s"$dir/events").filter(col("user_id") === u)
    assert(pruned.count() === full.count())
    assert(pruned.select("event_id").exceptAll(full.select("event_id")).isEmpty)
    idxC.unpersist(blocking = false)
  }

  test("per-file bloom index: point reads skip files, results stay exact") {
    import graft.operators.FileBloomIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomidx").toString
    // cluster by user so a single user lands in few files — the layout
    // bloom skipping exploits (hash-scattered users would bloom-hit
    // every file, correctly but uselessly)
    graft.sources.Tables.events(spark, sf)
      .repartitionByRange(8, col("user_id"))
      .write.parquet(s"$dir/events")
    val idx = FileBloomIndex
      .bloomIndex(spark, s"$dir/events", "user_id",
        expectedItemsPerFile = 10000L).cache()
    val nFiles = idx.count()
    assert(nFiles >= 8, s"expected >= 8 files, got $nFiles")
    assert(idx.agg(sum("n_rows")).head().getLong(0) ===
      graft.sources.Tables.events(spark, sf).count())

    val users = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().orderBy("user_id")
      .limit(5).collect().map(_.getLong(0))
    users.foreach { u =>
      val pruned = FileBloomIndex
        .prunedPointRead(spark, s"$dir/events", idx, "user_id", u)
      val full = spark.read.parquet(s"$dir/events").filter(col("user_id") === u)
      assert(pruned.count() === full.count(),
        s"user $u: pruned read must be exact (no false negatives)")
      assert(pruned.select("event_id").exceptAll(full.select("event_id")).isEmpty)
    }
    // skipping actually happens for a clustered key: a single user's
    // files are a strict subset of the layout
    val hk = spark.range(1).select(xxhash64(lit(users.head))).head().getLong(0)
    val sp2 = spark
    import sp2.implicits._
    val kept = idx.select(col("file"), col("bloom"))
      .as[(String, Array[Byte])]
      .filter { case (_, b) =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b)).mightContainLong(hk)
      }.count()
    assert(kept < nFiles, s"bloom kept all $nFiles files — no skipping")
    // a key that was never written prunes every file (modulo fpp) and
    // still returns an exact empty result
    val ghost = FileBloomIndex
      .prunedPointRead(spark, s"$dir/events", idx, "user_id", -987654321L)
    assert(ghost.isEmpty)
    // type-mismatched probe: an Int key against the Long column must
    // cast before hashing — Spark hash functions are type-sensitive,
    // so the un-cast literal would bloom-miss every file (silent false
    // negatives, the r7 ADVICE finding)
    val intProbe = FileBloomIndex
      .prunedPointRead(spark, s"$dir/events", idx, "user_id", users.head.toInt)
    assert(intProbe.count() ===
      spark.read.parquet(s"$dir/events").filter(col("user_id") === users.head).count(),
      "Int probe against Long column must still find every row")
    // null probes are refused loudly, not silently empty
    intercept[IllegalArgumentException] {
      FileBloomIndex.prunedPointRead(spark, s"$dir/events", idx, "user_id", null)
    }
    idx.unpersist(blocking = false)
  }

  test("bloom index updates incrementally: new files bloomed, stale rows dropped") {
    import graft.operators.FileBloomIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomupd").toString
    val ev = graft.sources.Tables.events(spark, sf)
    // split at the median user so BOTH writes are non-empty at any sf
    val mid = ev.stat.approxQuantile("user_id", Array(0.5), 0.0)(0).toLong
    ev.filter(col("user_id") < mid)
      .repartitionByRange(4, col("user_id"))
      .write.parquet(s"$dir/events")
    // a REAL incremental flow stores the index as a table — a cached
    // build plan still reads the data path and Spark re-caches by path
    // on write, so the append below would silently rebuild it
    FileBloomIndex
      .bloomIndex(spark, s"$dir/events", "user_id", expectedItemsPerFile = 10000L)
      .write.parquet(s"$dir/idx0")
    val idx0 = spark.read.parquet(s"$dir/idx0")
    val files0 = idx0.select("file").collect().map(_.getString(0)).toSet
    val blooms0 = idx0.select("file", "bloom").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    // ingest arrives: append more files, update instead of rebuilding
    ev.filter(col("user_id") >= mid)
      .repartitionByRange(4, col("user_id"))
      .write.mode("append").parquet(s"$dir/events")
    val idx1 = FileBloomIndex
      .updateIndex(spark, s"$dir/events", idx0, "user_id",
        expectedItemsPerFile = 10000L)
      .cache()
    val all = spark.read.parquet(s"$dir/events")
    // covers every NON-EMPTY present file (a groupBy build has no row
    // for a 0-row file — nothing to bloom, nothing a point read needs)
    val idxFiles = idx1.select("file").collect().map(_.getString(0)).toSet
    assert(idxFiles.subsetOf(all.inputFiles.toSet))
    assert(idx1.count() > files0.size.toLong, "the append must add index rows")
    assert(idx1.agg(sum("n_rows")).head().getLong(0) === all.count(),
      "every row of every present file is indexed")
    // existing files' rows are carried over BYTE-IDENTICAL, not re-bloomed
    val carried = idx1.filter(col("file").isInCollection(files0))
      .select("file", "bloom").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(carried === blooms0)
    // point reads through the updated index stay exact on both halves
    Seq(ev.filter(col("user_id") < mid), ev.filter(col("user_id") >= mid))
      .foreach { half =>
        val u = half.select("user_id").orderBy("user_id").head().getLong(0)
        val pruned = FileBloomIndex
          .prunedPointRead(spark, s"$dir/events", idx1, "user_id", u)
        val full = all.filter(col("user_id") === u)
        assert(pruned.count() === full.count(), s"user $u")
      }
    // a vanished file (compaction/delete) drops out of the index
    val victim = files0.head
    val victimPath = new org.apache.hadoop.fs.Path(new java.net.URI(victim))
    victimPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(victimPath, false)
    val idx2 = FileBloomIndex
      .updateIndex(spark, s"$dir/events", idx1, "user_id",
        expectedItemsPerFile = 10000L)
    assert(!idx2.select("file").collect().map(_.getString(0)).contains(victim))
    assert(idx2.count() === idx1.count() - 1)
    // a mismatched key column is refused loudly
    intercept[IllegalArgumentException] {
      FileBloomIndex.updateIndex(spark, s"$dir/events", idx1, "event_id")
    }
    Seq(idx0, idx1).foreach(_.unpersist(blocking = false))
  }

  test("updateIndex backfills metadata on pre-key_col rows; guard is order-proof") {
    import graft.operators.FileBloomIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomlegacy").toString
    val ev = Tables.events(spark, sf)
    val mid = ev.stat.approxQuantile("user_id", Array(0.5), 0.0)(0).toLong
    ev.filter(col("user_id") < mid).repartitionByRange(4, col("user_id"))
      .write.parquet(s"$dir/events")
    // simulate an index persisted by a pre-key_col/key_type build
    FileBloomIndex.bloomIndex(spark, s"$dir/events", "user_id", 10000L)
      .drop("key_col", "key_type").write.parquet(s"$dir/idx_legacy")
    ev.filter(col("user_id") >= mid).repartitionByRange(4, col("user_id"))
      .write.mode("append").parquet(s"$dir/events")
    // default REFUSES legacy rows: the blooms' build column is
    // unverifiable, and backfilling would launder that into trusted
    // metadata (a wrong-column bloom = silent false "definitely
    // absent" on pruned reads and forgetKey)
    intercept[IllegalArgumentException] {
      FileBloomIndex.updateIndex(spark, s"$dir/events",
        spark.read.parquet(s"$dir/idx_legacy"), "user_id",
        expectedItemsPerFile = 10000L)
    }
    val migrated = FileBloomIndex.updateIndex(spark, s"$dir/events",
      spark.read.parquet(s"$dir/idx_legacy"), "user_id",
      expectedItemsPerFile = 10000L, assumeLegacyKeyCol = true)
    // ONE update makes the stored metadata uniform — carried rows are
    // backfilled, not left null (which made the key_col guard and
    // prunedPointRead's type resolution depend on row order)
    assert(migrated.filter(col("key_col").isNull || col("key_type").isNull).isEmpty,
      "carried rows must be backfilled, not carried as nulls")
    assert(migrated.select("key_col").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("user_id"))
    // a HALF-migrated index (nulls on some rows) still guards
    // deterministically: max skips the nulls, so the mismatch is caught
    // no matter which row an arbitrary read would have returned
    val mixed = migrated.withColumn("key_col",
      when(col("file").isin(migrated.select("file").orderBy("file")
        .head().getString(0)), col("key_col")).otherwise(lit(null: String)))
    intercept[IllegalArgumentException] {
      FileBloomIndex.updateIndex(spark, s"$dir/events", mixed, "event_id")
    }
    // probing a mixed index resolves the stored type from the non-null
    // rows — exact pruned reads either way
    val u = ev.select("user_id").orderBy("user_id").head().getLong(0)
    val pruned = FileBloomIndex.prunedPointRead(
      spark, s"$dir/events", mixed, "user_id", u)
    assert(pruned.count() ===
      spark.read.parquet(s"$dir/events").filter(col("user_id") === u).count())
  }

  test("matching bucketed tables join with no shuffle exchange") {
    // idempotence across JVMs: the in-memory catalog forgets managed
    // tables but their spark-warehouse locations survive — drop both
    Seq("b_orders", "b_cust").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    Sinks.writeBucketedTable(Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice"), "b_orders", 8, Seq("o_custkey"))
    Sinks.writeBucketedTable(Tables.customer(spark, sf)
      .select("c_custkey", "c_name"), "b_cust", 8, Seq("c_custkey"))
    // force the sort-merge path — a broadcast would trivially avoid the
    // exchange without proving bucket co-location
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders").join(spark.table("b_cust"),
        col("o_custkey") === col("c_custkey"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be shuffle-free, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("xlsx read of an empty glob fails fast, not silently") {
    val e = intercept[IllegalArgumentException](
      XlsxSource.read(spark, "/tmp/nope_*.xlsx"))
    assert(e.getMessage.contains("no files match"))
  }

  test("DelimitedSink round-trips through DelimitedSource, refuses oversize") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("graft_dsink").toString
    val mart = Seq(
      (1L, "alpha", Option(12.5), Option("x")),
      (2L, "beta;semicolon", Option(0.07), None),
      (3L, "gamma", Option.empty[Double], Option("z")),
      // a double whose native toString is scientific notation — the
      // sink must render plain '12500000' digits, never '1,25E7'
      (4L, "delta", Option(1.25e7), Option("w"))
    ).toDF("id", "label", "rate", "note")
    val date = java.time.LocalDate.of(2026, 8, 14)
    val path = graft.sources.DelimitedSink.write(
      mart, dir, "rates", date, decimalCols = Seq("rate"))
    assert(path.endsWith("rates_14082026.txt"), s"legacy naming, got $path")
    // the file really uses decimal commas
    val raw = scala.io.Source.fromFile(new java.io.File(new java.net.URI(
      if (path.startsWith("file:")) path else s"file:$path")))
    val lines = try raw.getLines().toList finally raw.close()
    assert(lines.head === "id;label;rate;note")
    assert(lines.exists(_.contains("12,5")), s"decimal comma expected in $lines")
    assert(lines.exists(_.contains(";12500000;")),
      s"large double must render plain, not scientific, in $lines")
    assert(!lines.exists(l => l.contains("E7") || l.contains("e7")),
      s"no scientific notation may reach the legacy file: $lines")
    // round-trip: read back with the source, normalize, compare
    val back = graft.sources.DelimitedSource.normalizeDecimalColumns(
      graft.sources.DelimitedSource.read(spark, path), Seq("rate"))
    assert(back.select(to_date(col("create_dt")) === lit("2026-08-14").cast("date"))
      .collect().forall(_.getBoolean(0)), "filename date must round-trip")
    val got = back.select(col("id").cast("long"), col("label"),
        col("rate"), col("note")).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.getString(3))))
      .toSet
    val expect = Set(
      (1L, "alpha", Some(12.5), Some("x")),
      (2L, "beta;semicolon", Some(0.07), None),
      (3L, "gamma", None, Some("z")),
      (4L, "delta", Some(1.25e7), Some("w")))
    assert(got === expect, s"round-trip mismatch: $got")
    // the single-file guard refuses a frame past the bound
    val err = intercept[IllegalArgumentException](
      graft.sources.DelimitedSink.write(mart, dir, "big", date, maxRows = 2))
    assert(err.getMessage.contains("single-file export bound"))
  }

  test("EtlPipeline.exportMarts hands refreshed marts back as legacy files") {
    val s2 = spark
    import s2.implicits._
    val wh = Files.createTempDirectory("graft_wh_export").toString
    val out = Files.createTempDirectory("graft_out_export").toString
    Seq((1L, "x", 10.25), (2L, "y", 3.5)).toDF("id", "k", "amount")
      .write.parquet(s"$wh/rep_daily")
    val paths = graft.pipeline.EtlPipeline.exportMarts(
      spark, wh, out, Seq("rep_daily"), java.time.LocalDate.of(2026, 8, 14),
      decimalCols = Map("rep_daily" -> Seq("amount")))
    assert(paths("rep_daily").endsWith("rep_daily_14082026.txt"))
    val back = graft.sources.DelimitedSource.normalizeDecimalColumns(
      graft.sources.DelimitedSource.read(spark, paths("rep_daily")), Seq("amount"))
    assert(back.count() === 2)
    assert(back.agg(org.apache.spark.sql.functions.sum("amount"))
      .head().getDouble(0) === 13.75)
  }

  test("DelimitedSink refuses decimal values the legacy format cannot represent") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("graft_dsink_range").toString
    val date = java.time.LocalDate.of(2026, 8, 14)
    // 2.5e-7 would silently round to 0 through DECIMAL(38,6)
    val tiny = Seq((1L, Option(2.5e-7))).toDF("id", "rate")
    val e1 = intercept[IllegalArgumentException](
      graft.sources.DelimitedSink.write(tiny, dir, "t", date, Seq("rate")))
    assert(e1.getMessage.contains("representable range"))
    // 1.2e33 would overflow the cast to NULL
    val huge = Seq((1L, Option(1.2e33))).toDF("id", "rate")
    val e2 = intercept[IllegalArgumentException](
      graft.sources.DelimitedSink.write(huge, dir, "t", date, Seq("rate")))
    assert(e2.getMessage.contains("representable range"))
    // exact zero and nulls remain fine
    val ok = Seq((1L, Option(0.0)), (2L, Option.empty[Double])).toDF("id", "rate")
    val path = graft.sources.DelimitedSink.write(ok, dir, "ok", date, Seq("rate"))
    assert(path.endsWith("ok_14082026.txt"))
  }
}
