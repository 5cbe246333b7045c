package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.pipeline.{EtlPipeline, WarehouseOps}
import graft.pipeline.EtlPipeline.{FileMapping, TableMapping}
import graft.operators.Scd
import graft.sources.Tables

class EtlPipelineSpec extends SparkSpec {

  private def mkFile(dir: String, name: String, content: String): String =
    Files.writeString(Paths.get(dir, name), content).toString

  private def logRow(rep: EtlPipeline.RunReport, table: String) =
    rep.log.filter(col("table_name") === table).collect()(0)

  test("end-to-end run: find, stage, merge, run-log, archive, watermark, mart") {
    val inbox = Files.createTempDirectory("graft_inbox").toString
    val wh = Files.createTempDirectory("graft_wh").toString
    val mappings = Seq(
      FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
        decimalCols = Seq("rate")),
      FileMapping("terminals_*.csv", "dwh_terminals", "term_id", Seq("city"), scd = 2),
      FileMapping("blacklist_*.xlsx", "dwh_blacklist", "passport", Seq("entry_dt"), scd = 1))
    val marts = Seq[(String, EtlPipeline.MartRefresh)](
      "mart_rate_count" -> EtlPipeline.MartRebuild((s, whDir) =>
        s.read.parquet(s"$whDir/dwh_rates").agg(count(lit(1)).as("n"))))
    def runDay(runId: Long): EtlPipeline.RunReport = {
      val r = EtlPipeline.run(spark, inbox, wh, mappings, runId)
      EtlPipeline.refreshMarts(spark, wh, marts)
      r
    }

    // --- day 1 ---
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\nEUR;99,1\n")
    mkFile(inbox, "terminals_01012024.csv", "term_id;city\nT1;Moscow\nT2;Kazan\nT3;Perm\n")
    TestXlsx.write(s"$inbox/blacklist_01012024.xlsx",
      Seq("passport", "entry_dt"), Seq(Seq("P1", "2024-01-01"), Seq("P2", "2024-01-01")))

    val r1 = runDay(1)
    assert(r1.processedFiles.size == 3 && r1.archivedFiles.size == 3)
    assert(r1.archivedFiles.forall(_.contains("/archive/")))
    assert(logRow(r1, "stg_dwh_rates").getAs[Long]("rows_inserted") == 2)
    assert(logRow(r1, "dwh_rates").getAs[Long]("rows_inserted") == 2)
    assert(logRow(r1, "dwh_blacklist").getAs[Long]("rows_inserted") == 2)
    assert(logRow(r1, "dwh_terminals").getAs[Long]("rows_inserted") == 3)
    val rates1 = spark.read.parquet(s"$wh/dwh_rates")
    assert(rates1.count() == 2)
    assert(math.abs(rates1.filter(col("cur") === "USD").collect()(0)
      .getAs[Double]("rate") - 90.5) < 1e-9)
    assert(spark.read.parquet(s"$wh/mart_rate_count").collect()(0).getAs[Long]("n") == 2)

    // --- day 2: rate change + new cur; terminal T2 moves, T3 disappears ---
    mkFile(inbox, "rates_02012024.csv", "cur;rate\nUSD;92,0\nEUR;99,1\nGBP;115,3\n")
    mkFile(inbox, "terminals_02012024.csv", "term_id;city\nT1;Moscow\nT2;Samara\n")

    val r2 = runDay(2)
    assert(r2.processedFiles.size == 2)
    val ratesLog = logRow(r2, "dwh_rates")
    assert(ratesLog.getAs[Long]("rows_inserted") == 1)  // GBP
    assert(ratesLog.getAs[Long]("rows_updated") == 1)   // USD
    val rates2 = spark.read.parquet(s"$wh/dwh_rates")
    assert(rates2.count() == 3)
    assert(math.abs(rates2.filter(col("cur") === "USD").collect()(0)
      .getAs[Double]("rate") - 92.0) < 1e-9)
    assert(math.abs(rates2.filter(col("cur") === "EUR").collect()(0)
      .getAs[Double]("rate") - 99.1) < 1e-9)

    // NOT cached: a cached plan would serve day-2 state to the identical
    // day-3 read below (cache is keyed on the logical plan)
    val terms = spark.read.parquet(s"$wh/dwh_terminals")
    // T1 open(1) + T2 closed+open(2) + T3 closed+tombstone(2)
    assert(terms.count() == 5)
    assert(terms.filter(col("deleted_flg")).count() == 1)
    assert(terms.filter(col("term_id") === "T2" && col("city") === "Samara" &&
      col("effective_to") === lit(Scd.OpenEnd).cast("timestamp")).count() == 1)
    assert(logRow(r2, "dwh_terminals").getAs[Long]("rows_deleted") == 1)

    // --- day 3: T3 returns with its ORIGINAL city — the snapshot path
    // must close the tombstone and revive the key (identical-state
    // revival, mirroring the reference's INTERSECT-with-deleted_flg)
    mkFile(inbox, "terminals_03012024.csv", "term_id;city\nT1;Moscow\nT2;Samara\nT3;Perm\n")
    runDay(3)
    val terms3 = spark.read.parquet(s"$wh/dwh_terminals")
    val t3open = terms3.filter(col("term_id") === "T3" &&
      col("effective_to") === lit(Scd.OpenEnd).cast("timestamp"))
    assert(t3open.count() == 1)
    assert(!t3open.collect()(0).getAs[Boolean]("deleted_flg"), "T3 must revive")
    assert(terms3.filter(col("term_id") === "T3").count() == 3) // closed, closed tombstone, open

    // --- run 4: nothing new — watermark skips everything ---
    val r3 = runDay(4)
    assert(r3.processedFiles.isEmpty && r3.log.count() == 0)

    // persistent combined run log accumulated all runs
    val fullLog = spark.read.parquet(s"$wh/etl_run_log")
    assert(fullLog.filter(col("run_id") === 1).count() == 6)
    assert(fullLog.filter(col("run_id") === 2).count() == 4)
  }

  private def storedWatermarks(wh: String): Map[String, String] =
    spark.read.parquet(s"$wh/etl_watermark").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("targets merge concurrently; one target's mappings keep mapping order") {
    val inbox = Files.createTempDirectory("graft_cc_in").toString
    val wh = Files.createTempDirectory("graft_cc_wh").toString
    // two feeds into ONE target: the second's fresh-file filter must see
    // the watermark the first advanced, so its same-date file is skipped
    val mappings = Seq(
      FileMapping("fxa_*.csv", "dwh_fx", "cur", Seq("rate"), scd = 1),
      FileMapping("terms_*.csv", "dwh_cc_terms", "term_id", Seq("city"), scd = 2),
      FileMapping("fxb_*.csv", "dwh_fx", "cur", Seq("rate"), scd = 1),
      FileMapping("limits_*.csv", "dwh_cc_limits", "acct", Seq("lim"), scd = 1))
    val fxa = mkFile(inbox, "fxa_01012024.csv", "cur;rate\nUSD;1\nEUR;2\n")
    mkFile(inbox, "fxb_01012024.csv", "cur;rate\nUSD;9\n")
    val fxb2 = mkFile(inbox, "fxb_02012024.csv", "cur;rate\nUSD;3\nGBP;4\n")
    val terms = mkFile(inbox, "terms_01012024.csv", "term_id;city\nT1;Moscow\nT2;Kazan\n")
    val limits = mkFile(inbox, "limits_01012024.csv", "acct;lim\nA1;10\n")

    val r = EtlPipeline.run(spark, inbox, wh, mappings, runId = 91, archiveFiles = false)
    assert(r.processedFiles.map(Paths.get(_).getFileName.toString) ===
      Seq(fxa, terms, fxb2, limits).map(Paths.get(_).getFileName.toString),
      "processed files come out in mapping order; fxb's 01 file is behind fxa's watermark")
    assert(r.log.collect().map(_.getString(1)).toSeq === Seq(
      "stg_dwh_fx", "dwh_fx", "stg_dwh_cc_terms", "dwh_cc_terms",
      "stg_dwh_fx", "dwh_fx", "stg_dwh_cc_limits", "dwh_cc_limits"),
      "run-log rows come out in mapping order")
    val fx = spark.read.parquet(s"$wh/dwh_fx").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(fx === Map("USD" -> "3", "EUR" -> "2", "GBP" -> "4"),
      "fxb's 02 file merged after fxa's 01 file")
    val fxLogs = r.log.filter(col("table_name") === "dwh_fx").collect()
    assert(fxLogs.map(x => (x.getLong(2), x.getLong(3))).toSeq === Seq((2L, 0L), (1L, 1L)))
    assert(storedWatermarks(wh) === Map("dwh_fx" -> "2024-01-02",
      "dwh_cc_terms" -> "2024-01-01", "dwh_cc_limits" -> "2024-01-01"))
  }

  test("a failing target surfaces its own exception after the other targets finish") {
    val inbox = Files.createTempDirectory("graft_ccf_in").toString
    val wh = Files.createTempDirectory("graft_ccf_wh").toString
    // mapping 0's target has an orphaned swap stage (IllegalStateException);
    // mapping 3 has two files on one business date (IllegalArgumentException)
    Files.createDirectories(Paths.get(s"$wh/dwh_orphan__stage"))
    val mappings = Seq(
      FileMapping("orphan_*.csv", "dwh_orphan", "k", Seq("v"), scd = 1),
      FileMapping("rates_*.csv", "dwh_ccf_rates", "cur", Seq("rate"), scd = 1),
      FileMapping("terms_*.csv", "dwh_ccf_terms", "term_id", Seq("city"), scd = 2),
      FileMapping("dup*_*.csv", "dwh_dup", "k", Seq("v"), scd = 1))
    mkFile(inbox, "orphan_01012024.csv", "k;v\nK1;1\n")
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;1\n")
    mkFile(inbox, "rates_02012024.csv", "cur;rate\nUSD;2\n")
    mkFile(inbox, "terms_01012024.csv", "term_id;city\nT1;Moscow\n")
    mkFile(inbox, "dupa_01012024.csv", "k;v\nK1;1\n")
    mkFile(inbox, "dupb_01012024.csv", "k;v\nK1;2\n")

    val e = intercept[IllegalStateException] {
      EtlPipeline.run(spark, inbox, wh, mappings, runId = 92, archiveFiles = false)
    }
    assert(e.getMessage.contains("interrupted"),
      "the first failure in mapping order surfaces as thrown, not wrapped")
    assert(spark.read.parquet(s"$wh/dwh_ccf_rates").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap === Map("USD" -> "2"),
      "the other targets ran all their files")
    assert(spark.read.parquet(s"$wh/dwh_ccf_terms").count() === 1L)
    assert(storedWatermarks(wh) === Map("dwh_ccf_rates" -> "2024-01-02",
      "dwh_ccf_terms" -> "2024-01-01"), "every swapped table has its watermark stored")
    assert(!Files.exists(Paths.get(s"$wh/dwh_dup")) && !Files.exists(Paths.get(s"$wh/dwh_orphan")))
    assert(!Files.exists(Paths.get(s"$wh/etl_run_log")), "a failed run logs nothing")
  }

  test("header-only and all-rejected deliveries log stg_ = 0 with the merge's counts") {
    val inbox = Files.createTempDirectory("graft_obs_in").toString
    val wh = Files.createTempDirectory("graft_obs_wh").toString
    val qdir = Files.createTempDirectory("graft_obs_qtn").toString
    val mappings = Seq(
      FileMapping("rates_*.csv", "dwh_obs_rates", "cur", Seq("rate"), scd = 1,
        decimalCols = Seq("rate")),
      FileMapping("terms_*.csv", "dwh_obs_terms", "term_id", Seq("fee"), scd = 2,
        decimalCols = Seq("fee")),
      FileMapping("caps_*.csv", "dwh_obs_caps", "k", Seq("cap"), scd = 1,
        decimalCols = Seq("cap")))
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;1,5\nEUR;2,5\n")
    mkFile(inbox, "terms_01012024.csv", "term_id;fee\nT1;1,0\nT2;2,0\n")
    // all rejected on the table's first day: the target appears empty
    mkFile(inbox, "caps_01012024.csv", "k;cap\nK1;zz\nK2;yy\n")
    val r1 = EtlPipeline.run(spark, inbox, wh, mappings, runId = 93,
      quarantineDir = Some(qdir))
    def counts(r: EtlPipeline.RunReport, t: String) = {
      val x = logRow(r, t); (x.getLong(2), x.getLong(3), x.getLong(4))
    }
    assert(counts(r1, "stg_dwh_obs_caps") === ((0L, 0L, 0L)))
    assert(counts(r1, "qtn_dwh_obs_caps") === ((2L, 0L, 0L)))
    assert(counts(r1, "dwh_obs_caps") === ((0L, 0L, 0L)))
    assert(spark.read.parquet(s"$wh/dwh_obs_caps").isEmpty)

    // day 2: header-only snapshots for the scd1 and scd2 tables, an
    // all-rejected one against the existing scd2 history
    mkFile(inbox, "rates_02012024.csv", "cur;rate\n")
    mkFile(inbox, "terms_02012024.csv", "term_id;fee\n")
    val r2 = EtlPipeline.run(spark, inbox, wh, mappings.take(2), runId = 94,
      quarantineDir = Some(qdir))
    assert(counts(r2, "stg_dwh_obs_rates") === ((0L, 0L, 0L)))
    assert(counts(r2, "dwh_obs_rates") === ((0L, 0L, 0L)), "scd1 keeps absent keys")
    assert(counts(r2, "stg_dwh_obs_terms") === ((0L, 0L, 0L)))
    // an empty snapshot closes both live versions and tombstones both keys
    assert(counts(r2, "dwh_obs_terms") === ((2L, 0L, 2L)))
    mkFile(inbox, "terms_03012024.csv", "term_id;fee\nT1;xx\nT2;yy\n")
    val r3 = EtlPipeline.run(spark, inbox, wh, mappings.slice(1, 2), runId = 95,
      quarantineDir = Some(qdir))
    assert(counts(r3, "stg_dwh_obs_terms") === ((0L, 0L, 0L)))
    assert(counts(r3, "qtn_dwh_obs_terms") === ((2L, 0L, 0L)))
    // the quarantined keys are live: the tombstones stay, nothing new dies
    assert(counts(r3, "dwh_obs_terms") === ((2L, 0L, 2L)))
    assert(spark.read.parquet(s"$wh/dwh_obs_rates").count() === 2L)
  }

  test("an observed metric missing from the executed plan throws instead of reading 0") {
    val gone = org.apache.spark.sql.Observation()
    // a false filter prunes the observed node from the optimized plan
    assert(spark.range(5).observe(gone, count(lit(1)).as("n"))
      .filter(lit(false)).collect().isEmpty)
    intercept[IllegalStateException](EtlPipeline.observedRow(gone, "n"))
    val seen = org.apache.spark.sql.Observation()
    spark.range(5).observe(seen, count(lit(1)).as("n")).collect()
    assert(EtlPipeline.observedRow(seen, "n").getLong(0) === 5L)
    intercept[IllegalStateException](EtlPipeline.observedRow(seen, "n", "rows"))
  }

  test("a three-mapping day caches nothing and fires a bounded number of jobs") {
    val inbox = Files.createTempDirectory("graft_jb_in").toString
    val wh = Files.createTempDirectory("graft_jb_wh").toString
    val qdir = Files.createTempDirectory("graft_jb_qtn").toString
    val mappings = Seq(
      FileMapping("clients_*.csv", "dwh_jb_clients", "client_id", Seq("segment", "balance"),
        scd = 2, decimalCols = Seq("balance")),
      FileMapping("limits_*.csv", "dwh_jb_limits", "account_id", Seq("credit_limit"),
        scd = 1, decimalCols = Seq("credit_limit")),
      FileMapping("txn_*.jsonl", "dwh_jb_txn", "txn_id", Seq("client_id", "amount"),
        scd = 1, decimalCols = Seq("amount")))
    def deliver(day: Int, clients: String, limits: String, txn: String): Unit = {
      mkFile(inbox, f"clients_$day%02d012024.csv", "client_id;segment;balance\n" + clients)
      mkFile(inbox, f"limits_$day%02d012024.csv", "account_id;credit_limit\n" + limits)
      mkFile(inbox, f"txn_$day%02d012024.jsonl", txn)
    }
    deliver(1, "C1;retail;10,5\nC2;vip;20,0\nC3;retail;1,0\n", "A1;100\nA2;200\n",
      """{"txn_id":"X1","client_id":"C1","amount":"5,0"}""" + "\n")
    EtlPipeline.run(spark, inbox, wh, mappings, runId = 96, quarantineDir = Some(qdir))
    // the measured day merges against existing tables and quarantines
    // one reject per delivery
    deliver(2, "C1;vip;10,5\nC2;vip;zz\nC4;retail;3,0\n", "A1;150\nA3;300\n;9\n",
      """{"txn_id":"X2","client_id":"C2","amount":"7,5"}""" + "\n" +
        """{"txn_id":"X3","client_id":"C4","amount":""" + "\n")

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val blocks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onBlockUpdated(
          b: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        if (b.blockUpdatedInfo.blockId.isRDD && b.blockUpdatedInfo.storageLevel.isValid) {
          blocks.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val r = try {
      val res = EtlPipeline.run(spark, inbox, wh, mappings, runId = 97,
        quarantineDir = Some(qdir))
      org.apache.spark.graftbridge.TestListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      res
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(r.processedFiles.size === 3)
    assert(r.log.collect().map(_.getString(1)).toSeq === Seq(
      "qtn_dwh_jb_clients", "stg_dwh_jb_clients", "dwh_jb_clients",
      "qtn_dwh_jb_limits", "stg_dwh_jb_limits", "dwh_jb_limits",
      "qtn_dwh_jb_txn", "stg_dwh_jb_txn", "dwh_jb_txn"))
    assert(blocks.get() === 0, "no frame of the merge loop may be cached")
    // measured at 31 jobs: per file the reject count, the quarantine
    // append and one merge write (stage and log counts observed in it),
    // plus watermark, run-log and schema reads and AQE's per-stage
    // sub-jobs. Caching the stage and the merge and counting them with
    // actions of their own fired 49 jobs and stored 16 RDD blocks.
    assert(jobs.get() <= 31,
      s"the day fired ${jobs.get()} jobs — has a merge started running its DAG twice?")
  }

  test("random daily deliveries: warehouse PIT reproduces every delivered snapshot") {
    // The file-loop totality property (end-to-end sibling of
    // ScdPropertySpec's operator-level fold): deliver random daily
    // snapshot files — creates, changes, deletes, revivals, empty
    // days, decimal commas — through run(), then the warehouse's
    // point-in-time view at each day's midday must equal exactly what
    // that day's file said.
    for (seed <- Seq(7L, 21L)) {
      val rnd = new scala.util.Random(seed)
      val inbox = Files.createTempDirectory(s"graft_pt_in$seed").toString
      val wh = Files.createTempDirectory(s"graft_pt_wh$seed").toString
      val m = FileMapping("snap_*.csv", "dwh_snap", "k", Seq("v"), scd = 2,
        decimalCols = Seq("v"))
      val days = (1 to 4).map { d =>
        val snap = (1 to 6).filter(_ => rnd.nextBoolean())
          .map(i => s"K$i" -> s"${rnd.nextInt(100)},5").toMap
        mkFile(inbox, f"snap_${d}%02d012024.csv",
          "k;v\n" + snap.map { case (k, v) => s"$k;$v" }.mkString("\n") + "\n")
        EtlPipeline.run(spark, inbox, wh, Seq(m), runId = d)
        snap.map { case (k, v) => k -> v.replace(',', '.').toDouble }
      }
      days.zipWithIndex.foreach { case (snap, i) =>
        val probe = lit(f"2024-01-${i + 1}%02d 12:00:00").cast("timestamp")
        val pit = spark.read.parquet(s"$wh/dwh_snap")
          .filter(col("effective_from") <= probe && col("effective_to") >= probe &&
            !col("deleted_flg"))
          .select("k", "v").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(pit === snap, s"seed $seed day ${i + 1}: PIT must equal the file")
      }
    }
  }

  test("reference orchestration: both loops then one explicit mart update") {
    val s = spark
    import s.implicits._
    val inbox = Files.createTempDirectory("graft_orch_in").toString
    val wh = Files.createTempDirectory("graft_orch_wh").toString
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\nEUR;99,1\n")
    val fm = Seq(FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
      decimalCols = Seq("rate")))
    val src = Seq((1L, "Ann", java.sql.Timestamp.valueOf("2024-01-01 08:00:00"),
      null.asInstanceOf[java.sql.Timestamp])).toDF("client_id", "name", "create_dt", "update_dt")
    val feeds = Seq(EtlPipeline.TableFeed(
      TableMapping("clients", "dwh_clients", "client_id", Seq("name"), 1), src))
    // ordered seq: the second mart READS the first's output — refresh
    // order is binding, which is why refreshMarts takes a Seq
    val marts = Seq[(String, EtlPipeline.MartRefresh)](
      "mart_counts" -> EtlPipeline.MartRebuild((sp, whDir) =>
        sp.read.parquet(s"$whDir/dwh_rates").agg(count(lit(1)).as("n_rates"))
          .crossJoin(sp.read.parquet(s"$whDir/dwh_clients")
            .agg(count(lit(1)).as("n_clients")))),
      "mart_derived" -> EtlPipeline.MartRebuild((sp, whDir) =>
        sp.read.parquet(s"$whDir/mart_counts")
          .select((col("n_rates") + col("n_clients")).as("total"))))
    // main.py order: from_file, from_database, THEN one mart_update
    EtlPipeline.run(spark, inbox, wh, fm, runId = 61)
    EtlPipeline.runFromTables(spark, wh, feeds, runId = 62,
      deleteTs = "2024-01-02 00:00:00")
    EtlPipeline.refreshMarts(spark, wh, marts)
    val m = spark.read.parquet(s"$wh/mart_counts").head()
    assert(m.getAs[Long]("n_rates") === 2L && m.getAs[Long]("n_clients") === 1L,
      "the single mart update must see BOTH loops' tables")
    assert(spark.read.parquet(s"$wh/mart_derived").head().getAs[Long]("total") === 3L,
      "a chained mart refreshes after its upstream")
  }

  test("quarantine routes bad rows out of the merge and logs reject counts") {
    val inbox = Files.createTempDirectory("graft_qinbox").toString
    val wh = Files.createTempDirectory("graft_qwh").toString
    val qdir = Files.createTempDirectory("graft_qtn").toString
    val mappings = Seq(
      FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
        decimalCols = Seq("rate")))
    // good comma-decimal, unparseable decimal, missing key, good dot-decimal
    mkFile(inbox, "rates_01012024.csv",
      "cur;rate\nUSD;90,5\nJPY;1x2,3\n;77,0\nEUR;88.25\n")

    val r1 = EtlPipeline.run(spark, inbox, wh, mappings, runId = 11,
      quarantineDir = Some(qdir))
    val rates = spark.read.parquet(s"$wh/dwh_rates")
    assert(rates.count() == 2, "only clean rows may reach the warehouse")
    assert(math.abs(rates.filter(col("cur") === "USD").collect()(0)
      .getAs[Double]("rate") - 90.5) < 1e-9)
    val qtn = spark.read.parquet(s"$qdir/dwh_rates")
    assert(qtn.count() == 2)
    assert(qtn.select("reject_reason").collect().map(_.getString(0)).toSet ===
      Set("bad_decimal", "missing_required"))
    // the rejected row keeps its RAW string value and provenance
    val jpy = qtn.filter(col("cur") === "JPY").collect()(0)
    assert(jpy.getAs[String]("rate") === "1x2,3")
    assert(jpy.getAs[String]("src_file").contains("rates_01012024.csv"))
    assert(jpy.getAs[Long]("run_id") === 11L)
    assert(logRow(r1, "qtn_dwh_rates").getAs[Long]("rows_inserted") == 2)

    // a clean day appends nothing to the quarantine and logs no qtn row
    mkFile(inbox, "rates_02012024.csv", "cur;rate\nUSD;91,0\n")
    val r2 = EtlPipeline.run(spark, inbox, wh, mappings, runId = 12,
      quarantineDir = Some(qdir))
    assert(spark.read.parquet(s"$qdir/dwh_rates").count() == 2)
    assert(r2.log.filter(col("table_name") === "qtn_dwh_rates").isEmpty)
    assert(spark.read.parquet(s"$wh/dwh_rates")
      .filter(col("cur") === "USD").collect()(0).getAs[Double]("rate") == 91.0)
  }

  test("without a quarantine a bad decimal fails the run, leaves no stage, and a clean rerun merges") {
    val inbox = Files.createTempDirectory("graft_nqinbox").toString
    val wh = Files.createTempDirectory("graft_nqwh").toString
    val m = FileMapping("rates_*.csv", "dwh_nqrates", "cur", Seq("rate"), scd = 1,
      decimalCols = Seq("rate"))
    // the target's first delivery: the decimal cast fails inside the
    // table's stage write
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\nJPY;1x2,3\n")
    val e = intercept[Exception](EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 101))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CAST_INVALID_INPUT")), e)
    assert(!Files.exists(Paths.get(s"$wh/dwh_nqrates__stage")),
      "a failed stage write must not be left to read as an interrupted swap")
    assert(!Files.exists(Paths.get(s"$wh/dwh_nqrates")))
    // the redelivered file replaces the bad one; a row missing its key
    // fails the run the same way, refused inside the table's write
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\n;77,0\n")
    val k = intercept[Exception](EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 102))
    assert(Iterator.iterate[Throwable](k)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("null key")), k)
    assert(!Files.exists(Paths.get(s"$wh/dwh_nqrates__stage")))
    assert(!Files.exists(Paths.get(s"$wh/dwh_nqrates")))
    assert(!Files.exists(Paths.get(s"$wh/etl_watermark")))
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\n")
    val r = EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 103)
    assert(logRow(r, "dwh_nqrates").getAs[Long]("rows_inserted") == 1)
    val rates = spark.read.parquet(s"$wh/dwh_nqrates").collect()
    assert(rates.map(x => x.getString(0) -> x.getDouble(1)).toSeq === Seq("USD" -> 90.5))
  }

  test("xlsx deliveries get the quarantine split: rejects park, clean rows merge, a fix replays") {
    val inbox = Files.createTempDirectory("graft_xqinbox").toString
    val wh = Files.createTempDirectory("graft_xqwh").toString
    val qdir = Files.createTempDirectory("graft_xqtn").toString
    val m = FileMapping("limits_*.xlsx", "dwh_xlimits", "account_id", Seq("credit_limit"),
      scd = 1, decimalCols = Seq("credit_limit"))
    // good comma-decimal, missing key, unparseable decimal, good number
    TestXlsx.write(s"$inbox/limits_01012024.xlsx", Seq("account_id", "credit_limit"),
      Seq(Seq("A1", "100,5"), Seq(null, "200"), Seq("A3", "1x2,3"), Seq("A4", "300")))
    val r1 = EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 111,
      quarantineDir = Some(qdir))
    assert(r1.archivedFiles.size == 1)
    def limits() = spark.read.parquet(s"$wh/dwh_xlimits").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(limits() === Map("A1" -> 100.5, "A4" -> 300.0))
    assert(logRow(r1, "stg_dwh_xlimits").getAs[Long]("rows_inserted") == 2)
    assert(logRow(r1, "qtn_dwh_xlimits").getAs[Long]("rows_inserted") == 2)
    val qtn = spark.read.parquet(s"$qdir/dwh_xlimits").collect()
    assert(qtn.map(r => Option(r.getAs[String]("account_id")) ->
      r.getAs[String]("reject_reason")).toMap ===
      Map(None -> "missing_required", Some("A3") -> "bad_decimal"))
    assert(qtn.forall(_.getAs[String]("src_file").endsWith("limits_01012024.xlsx")),
      "an xlsx reject names its delivery")
    assert(qtn.forall(_.getAs[Long]("run_id") == 111L))
    assert(qtn.find(r => r.getAs[String]("account_id") == "A3").get
      .getAs[String]("credit_limit") === "1x2,3", "a reject keeps its raw value")

    // fix the decimal in place; the keyless row stays parked
    val fixed = spark.read.parquet(s"$qdir/dwh_xlimits")
      .withColumn("credit_limit",
        when(col("account_id") === "A3", "1,23").otherwise(col("credit_limit")))
    val tmp = Files.createTempDirectory("graft_xqfix").toString
    fixed.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$qdir/dwh_xlimits")
    val r2 = EtlPipeline.replayQuarantine(spark, qdir, wh, m, runId = 112)
    assert(logRow(r2, "qrp_dwh_xlimits").getAs[Long]("rows_inserted") == 1)
    assert(limits() === Map("A1" -> 100.5, "A3" -> 1.23, "A4" -> 300.0))
    val left = spark.read.parquet(s"$qdir/dwh_xlimits").collect()
    assert(left.map(_.getAs[String]("reject_reason")).toSeq === Seq("missing_required"))
  }

  test("jsonl shards get the audited reject loop: qtn_ row, raw-line quarantine, replay") {
    val inbox = Files.createTempDirectory("graft_jinbox").toString
    val wh = Files.createTempDirectory("graft_jwh").toString
    val qdir = Files.createTempDirectory("graft_jqtn").toString
    val mappings = Seq(
      FileMapping("rates_*.jsonl", "dwh_jrates", "cur", Seq("rate"), scd = 1,
        decimalCols = Seq("rate")))
    // good comma-decimal, malformed json, missing key, bad decimal, good dot
    mkFile(inbox, "rates_01012024.jsonl",
      """{"cur":"USD","rate":"90,5"}
        |{"cur":"GBP","rate":
        |{"cur":"","rate":"77,0"}
        |{"cur":"JPY","rate":"1x2,3"}
        |{"cur":"EUR","rate":"88.25"}
        |""".stripMargin)

    val r1 = EtlPipeline.run(spark, inbox, wh, mappings, runId = 31,
      quarantineDir = Some(qdir))
    val rates = spark.read.parquet(s"$wh/dwh_jrates")
    assert(rates.count() == 2, "only clean rows may reach the warehouse")
    assert(math.abs(rates.filter(col("cur") === "USD").collect()(0)
      .getAs[Double]("rate") - 90.5) < 1e-9)
    // the business date stamped on the shard became the watermark —
    // the same create_dt path the delimited loop drives
    assert(WarehouseOps.inventory(spark, wh)
      .filter(col("table_name") === "dwh_jrates")
      .head().getAs[String]("watermark") === "2024-01-01")
    // the quarantine stores VERBATIM lines with provenance + reasons
    val qtn = spark.read.parquet(s"$qdir/dwh_jrates")
    assert(qtn.count() == 3)
    assert(qtn.select("reject_reason").collect().map(_.getString(0)).sorted.toSeq
      === Seq("bad_decimal", "malformed_json", "missing_required"))
    val jpy = qtn.filter(col("raw_line").contains("JPY")).collect()(0)
    assert(jpy.getAs[String]("raw_line") === """{"cur":"JPY","rate":"1x2,3"}""")
    assert(jpy.getAs[String]("src_file").contains("rates_01012024.jsonl"))
    assert(jpy.getAs[Long]("run_id") === 31L)
    assert(logRow(r1, "qtn_dwh_jrates").getAs[Long]("rows_inserted") == 3)
    assert(logRow(r1, "stg_dwh_jrates").getAs[Long]("rows_inserted") == 2)

    // replay: JPY's fee is still bad, but a corrected quarantine row
    // replays through the SAME jsonl parser back into the warehouse
    val fixed = spark.read.parquet(s"$qdir/dwh_jrates")
      .withColumn("raw_line",
        when(col("raw_line").contains("JPY"),
          lit("""{"cur":"JPY","rate":"1,23"}""")).otherwise(col("raw_line")))
    val tmp = Files.createTempDirectory("graft_jfix").toString
    fixed.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$qdir/dwh_jrates")
    val r2 = EtlPipeline.replayQuarantine(spark, qdir, wh,
      mappings.head, runId = 32)
    assert(logRow(r2, "qrp_dwh_jrates").getAs[Long]("rows_inserted") == 1)
    val after = spark.read.parquet(s"$wh/dwh_jrates")
    assert(after.count() == 3)
    assert(math.abs(after.filter(col("cur") === "JPY").collect()(0)
      .getAs[Double]("rate") - 1.23) < 1e-9)
    // still-invalid lines stay quarantined, reasons recomputed
    val left = spark.read.parquet(s"$qdir/dwh_jrates").collect()
    assert(left.length == 2)
    assert(left.map(_.getAs[String]("reject_reason")).sorted.toSeq
      === Seq("malformed_json", "missing_required"))
  }

  test("replay parks dateless-src_file rows with a reason instead of aborting the batch") {
    val inbox = Files.createTempDirectory("graft_dlinbox").toString
    val wh = Files.createTempDirectory("graft_dlwh").toString
    val qdir = Files.createTempDirectory("graft_dlqtn").toString
    val m = FileMapping("rates_*.jsonl", "dwh_dlrates", "cur", Seq("rate"), scd = 1,
      decimalCols = Seq("rate"))
    mkFile(inbox, "rates_01012024.jsonl",
      """{"cur":"USD","rate":"90,5"}
        |{"cur":"JPY","rate":"1x2,3"}
        |{"cur":"GBP","rate":"zz"}
        |{"cur":"CHF","rate":"yy"}
        |{"cur":"DKK","rate":"xx"}
        |""".stripMargin)
    EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 61, quarantineDir = Some(qdir))
    assert(spark.read.parquet(s"$qdir/dwh_dlrates").count() == 4)
    // repair ALL raw lines, but hand-rename one row's src_file so it has
    // no parseable business date, NULL another's entirely, and give a
    // third an 8-digit-but-INVALID date (month 13 — passes the regex,
    // fails the parse) — none may block the dated repair, abort the
    // batch under ANSI, or silently vanish
    val fixed = spark.read.parquet(s"$qdir/dwh_dlrates")
      .withColumn("raw_line",
        when(col("raw_line").contains("JPY"), lit("""{"cur":"JPY","rate":"1,23"}"""))
          .when(col("raw_line").contains("GBP"), lit("""{"cur":"GBP","rate":"2,5"}"""))
          .when(col("raw_line").contains("DKK"), lit("""{"cur":"DKK","rate":"4,5"}"""))
          .otherwise(lit("""{"cur":"CHF","rate":"3,5"}""")))
      .withColumn("src_file",
        when(col("raw_line").contains("GBP"), lit("rates_fixed.jsonl"))
          .when(col("raw_line").contains("CHF"), lit(null: String))
          .when(col("raw_line").contains("DKK"), lit("rates_31132024.jsonl"))
          .otherwise(col("src_file")))
    val tmp = Files.createTempDirectory("graft_dlfix").toString
    fixed.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$qdir/dwh_dlrates")
    val r = EtlPipeline.replayQuarantine(spark, qdir, wh, m, runId = 62)
    assert(logRow(r, "qrp_dwh_dlrates").getAs[Long]("rows_inserted") == 1)
    val after = spark.read.parquet(s"$wh/dwh_dlrates")
    assert(after.filter(col("cur") === "JPY").count() == 1,
      "the dated repair must merge despite the dateless siblings")
    assert(after.filter(col("cur").isin("GBP", "CHF", "DKK")).isEmpty)
    val left = spark.read.parquet(s"$qdir/dwh_dlrates").collect()
    assert(left.length == 3,
      "renamed, null-src_file AND invalid-date rows must all stay parked")
    assert(left.forall(_.getAs[String]("reject_reason") == "dateless_src_file"))
    assert(left.exists(_.getAs[String]("raw_line").contains("CHF")),
      "a NULL src_file row must park as dateless, not vanish at the swap")
    assert(left.exists(_.getAs[String]("raw_line").contains("DKK")),
      "an unparseable 8-digit date must park as dateless, not null-merge or abort")
  }

  test("warehouse inventory reports footprint, watermark, and last run per table") {
    val inbox = Files.createTempDirectory("graft_winbox").toString
    val wh = Files.createTempDirectory("graft_wwh").toString
    val mappings = Seq(
      FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
        decimalCols = Seq("rate")))
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\nEUR;99,1\n")
    EtlPipeline.run(spark, inbox, wh, mappings, runId = 21)
    // stage directories of in-flight swaps (the targets still exist;
    // a stage whose target is gone is refused, see the next test)
    Seq("dwh_rates", "etl_watermark").foreach(t =>
      Files.createDirectories(Paths.get(s"$wh/${t}__stage")))

    val inv = WarehouseOps.inventory(spark, wh).collect()
    assert(inv.map(_.getString(0)).toSeq === Seq("dwh_rates"),
      "meta tables and stage directories are excluded, data tables listed")
    val r = inv(0)
    assert(r.getAs[Long]("n_files") > 0 && r.getAs[Long]("total_bytes") > 0)
    assert(r.getAs[java.sql.Timestamp]("last_modified") != null)
    assert(r.getAs[String]("watermark") === "2024-01-01")
    assert(r.getAs[Long]("last_run_id") === 21L)
    assert(r.getAs[java.sql.Timestamp]("last_run_dt") != null)
    // empty warehouse: empty frame, same schema, no exception
    val none = WarehouseOps.inventory(spark,
      Files.createTempDirectory("graft_nowh").toString)
    assert(none.isEmpty && none.columns.length === 7)
  }

  test("warehouse inventory refuses a table or watermark store left at its stage path") {
    val inbox = Files.createTempDirectory("graft_wiinbox").toString
    val wh = Files.createTempDirectory("graft_wiwh").toString
    val mappings = Seq(
      FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
        decimalCols = Seq("rate")),
      FileMapping("fx_*.csv", "dwh_fx", "cur", Seq("rate"), scd = 1,
        decimalCols = Seq("rate")))
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\n")
    mkFile(inbox, "fx_01012024.csv", "cur;rate\nEUR;99,1\n")
    EtlPipeline.run(spark, inbox, wh, mappings, runId = 22)
    assert(WarehouseOps.inventory(spark, wh).count() === 2)
    // an interrupted swap leaves the only copy at <table>__stage
    def toStage(t: String): Unit =
      Files.move(Paths.get(s"$wh/$t"), Paths.get(s"$wh/${t}__stage"))
    def refused(): Unit = {
      val e = intercept[IllegalStateException](WarehouseOps.inventory(spark, wh))
      assert(e.getMessage.contains("interrupted"))
    }
    toStage("dwh_fx")
    refused()
    toStage("etl_watermark")
    refused()
    Files.move(Paths.get(s"$wh/dwh_fx__stage"), Paths.get(s"$wh/dwh_fx"))
    refused() // the watermark store alone is still orphaned
    Files.move(Paths.get(s"$wh/etl_watermark__stage"), Paths.get(s"$wh/etl_watermark"))
    // a stage directory of a table that no longer exists at all
    Files.createDirectories(Paths.get(s"$wh/dwh_gone__stage"))
    refused()
  }

  test("quarantined rows do not read as deleted-at-source in an scd2 snapshot merge") {
    val inbox = Files.createTempDirectory("graft_qpinbox").toString
    val wh = Files.createTempDirectory("graft_qpwh").toString
    val qdir = Files.createTempDirectory("graft_qpqtn").toString
    val mappings = Seq(
      FileMapping("terms_*.csv", "dwh_terms", "term_id", Seq("fee"), scd = 2,
        decimalCols = Seq("fee")))
    mkFile(inbox, "terms_01012024.csv", "term_id;fee\nT1;1,0\nT2;2,0\nT3;3,0\n")
    EtlPipeline.run(spark, inbox, wh, mappings, runId = 31,
      quarantineDir = Some(qdir))
    // day 2: T2's fee is unparseable (quarantined), T3 is truly absent
    mkFile(inbox, "terms_02012024.csv", "term_id;fee\nT1;1,5\nT2;zz\n")
    val r2 = EtlPipeline.run(spark, inbox, wh, mappings, runId = 32,
      quarantineDir = Some(qdir))
    val cur = spark.read.parquet(s"$wh/dwh_terms")
      .filter(col("effective_to") === "9999-12-31 00:00:00" && !col("deleted_flg"))
    assert(cur.filter(col("term_id") === "T2").count() === 1,
      "a quarantined key was PRESENT in the delivery — it must not tombstone")
    assert(cur.filter(col("term_id") === "T3").isEmpty,
      "a key truly absent from the snapshot still tombstones")
    assert(cur.filter(col("term_id") === "T1" && col("fee") === 1.5).count() === 1)
    assert(logRow(r2, "qtn_dwh_terms").getAs[Long]("rows_inserted") == 1)
  }

  test("replayQuarantine merges fixed rows, keeps still-bad ones, clears when empty") {
    val inbox = Files.createTempDirectory("graft_rpinbox").toString
    val wh = Files.createTempDirectory("graft_rpwh").toString
    val qdir = Files.createTempDirectory("graft_rpqtn").toString
    val m = FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
      decimalCols = Seq("rate"))
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;90,5\nJPY;zz\nGBP;xx\n")
    EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 41,
      quarantineDir = Some(qdir))
    assert(spark.read.parquet(s"$qdir/dwh_rates").count() === 2)

    // operator fixes ONE of the two parked rows in place
    val fixed = spark.read.parquet(s"$qdir/dwh_rates")
      .withColumn("rate",
        when(col("cur") === "JPY", "0,65").otherwise(col("rate")))
    val tmp = Files.createTempDirectory("graft_rpfix").toString
    fixed.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$qdir/dwh_rates")

    val r = EtlPipeline.replayQuarantine(spark, qdir, wh, m, runId = 42)
    val rates = spark.read.parquet(s"$wh/dwh_rates").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(rates === Map("USD" -> 90.5, "JPY" -> 0.65),
      "the fixed row merges; the still-broken one does not")
    val remaining = spark.read.parquet(s"$qdir/dwh_rates").cache()
    try {
      assert(remaining.count() === 1 &&
        remaining.head().getAs[String]("cur") === "GBP")
      assert(remaining.head().getAs[String]("src_file")
        .contains("rates_01012024.csv"), "original provenance survives replay")
    } finally remaining.unpersist()
    assert(logRow(r, "qrp_dwh_rates").getAs[Long]("rows_inserted") == 1)

    // fix the last row too: quarantine directory disappears entirely
    val fixed2 = spark.read.parquet(s"$qdir/dwh_rates")
      .withColumn("rate", lit("1,15"))
    val tmp2 = Files.createTempDirectory("graft_rpfix2").toString
    fixed2.write.mode("overwrite").parquet(tmp2)
    spark.read.parquet(tmp2).write.mode("overwrite").parquet(s"$qdir/dwh_rates")
    EtlPipeline.replayQuarantine(spark, qdir, wh, m, runId = 43)
    assert(!new java.io.File(s"$qdir/dwh_rates").exists(),
      "an emptied quarantine leaves no directory behind")
    assert(spark.read.parquet(s"$wh/dwh_rates").count() === 3)
  }

  test("replayQuarantine drops rows superseded by a later snapshot instead of clobbering") {
    val inbox = Files.createTempDirectory("graft_stinbox").toString
    val wh = Files.createTempDirectory("graft_stwh").toString
    val qdir = Files.createTempDirectory("graft_stqtn").toString
    val m = FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
      decimalCols = Seq("rate"))
    // day 1 quarantines USD; day 2 delivers a NEWER parseable USD
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;zz\nEUR;99,0\n")
    EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 51,
      quarantineDir = Some(qdir))
    mkFile(inbox, "rates_02012024.csv", "cur;rate\nUSD;92,0\nEUR;99,0\n")
    EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 52,
      quarantineDir = Some(qdir))
    // operator "fixes" the stale day-1 USD row
    val fixed = spark.read.parquet(s"$qdir/dwh_rates")
      .withColumn("rate", lit("90,5"))
    val tmp = Files.createTempDirectory("graft_stfix").toString
    fixed.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(s"$qdir/dwh_rates")
    val r = EtlPipeline.replayQuarantine(spark, qdir, wh, m, runId = 53)
    assert(spark.read.parquet(s"$wh/dwh_rates")
      .filter(col("cur") === "USD").head().getAs[Double]("rate") === 92.0,
      "the day-2 value must survive — a stale replay cannot clobber it")
    val qrp = logRow(r, "qrp_dwh_rates")
    assert(qrp.getAs[Long]("rows_inserted") === 0L &&
      qrp.getAs[Long]("rows_deleted") === 1L,
      "the superseded row is dropped, not merged")
    assert(!new java.io.File(s"$qdir/dwh_rates").exists(),
      "superseded rows leave the quarantine too")
  }

  test("replayQuarantine refuses an interrupted quarantine swap instead of losing it") {
    val qdir = Files.createTempDirectory("graft_crqtn").toString
    val wh = Files.createTempDirectory("graft_crwh").toString
    // simulate the crash window: only the stage directory survives
    Files.createDirectories(Paths.get(s"$qdir/dwh_rates__stage"))
    val m = FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1)
    val e = intercept[IllegalStateException] {
      EtlPipeline.replayQuarantine(spark, qdir, wh, m, runId = 71)
    }
    assert(e.getMessage.contains("interrupted"))
  }

  test("run() refuses to recreate a quarantine over an orphaned replay stage") {
    val inbox = Files.createTempDirectory("graft_orqin").toString
    val wh = Files.createTempDirectory("graft_orqwh").toString
    val qdir = Files.createTempDirectory("graft_orqq").toString
    // interrupted replay: only the stage copy of the rejects survives
    Files.createDirectories(Paths.get(s"$qdir/dwh_rates__stage"))
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;zz\n")
    val m = FileMapping("rates_*.csv", "dwh_rates", "cur", Seq("rate"), scd = 1,
      decimalCols = Seq("rate"))
    val e = intercept[IllegalStateException] {
      EtlPipeline.run(spark, inbox, wh, Seq(m), runId = 81,
        quarantineDir = Some(qdir))
    }
    assert(e.getMessage.contains("interrupted"),
      "appending would hide the orphaned stage from replay's guard forever")
  }

  test("reserved run-log prefixes are refused as target names") {
    val wh = Files.createTempDirectory("graft_rsv").toString
    intercept[IllegalArgumentException] {
      EtlPipeline.run(spark, wh, wh,
        Seq(FileMapping("x_*.csv", "stream_x", "k", Seq("v"), scd = 1)), runId = 1)
    }
    intercept[IllegalArgumentException] {
      EtlPipeline.replayQuarantine(spark, wh, wh,
        FileMapping("x_*.csv", "qtn_x", "k", Seq("v"), scd = 1), runId = 1)
    }
  }

  test("streaming markers keep micro-batches distinct from batch run ids") {
    val s = spark
    import s.implicits._
    val inDir = Files.createTempDirectory("graft_smk_in").toString
    val wh = Files.createTempDirectory("graft_smk_wh").toString
    // a prior BATCH run logged run_id 0 and 1 for this very table — the
    // streaming dedup must not mistake those for its own batch ids
    Seq((0L, "dwh_feed", 1L, 0L, 0L), (1L, "dwh_feed", 1L, 0L, 0L))
      .toDF("run_id", "table_name", "rows_inserted", "rows_updated", "rows_deleted")
      .withColumn("run_start_dt", current_timestamp())
      .withColumn("run_end_dt", current_timestamp())
      .write.mode("append").parquet(s"$wh/etl_run_log")

    val m = TableMapping("feed", "dwh_feed", "id", Seq("v"), scd = 1)
    def push(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(inDir)
    push(Seq((1L, 1.0)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val q = EtlPipeline.streamingMerge(
      spark.readStream.schema(schema).parquet(inDir), wh, m)
    try {
      q.processAllAvailable()                      // batchId 0
      push(Seq((2L, 2.0))); q.processAllAvailable() // batchId 1
      assert(spark.read.parquet(s"$wh/dwh_feed").count() === 2,
        "micro-batches 0 and 1 must merge despite batch log rows with ids 0/1")
      val markers = spark.read.parquet(s"$wh/etl_run_log")
        .filter(col("table_name") === "stream_dwh_feed")
      assert(markers.count() === 2)
    } finally q.stop()
  }

  test("from-database run: incremental pull, key-list deletes, tombstone revival") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("graft_whdb").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    def feed(src: org.apache.spark.sql.DataFrame) = Seq(EtlPipeline.TableFeed(
      TableMapping("clients", "dwh_clients", "client_id", Seq("name"), 2), src))
    def tbl() = spark.read.parquet(s"$wh/dwh_clients")
    val openEnd = lit(Scd.OpenEnd).cast("timestamp")

    // day 1: three clients bootstrap the history
    val src1 = Seq(
      (1L, "Ann", ts("2024-01-01 08:00:00"), nullTs),
      (2L, "Bob", ts("2024-01-01 09:00:00"), nullTs),
      (3L, "Cat", ts("2024-01-01 10:00:00"), nullTs))
      .toDF("client_id", "name", "create_dt", "update_dt")
    val r1 = EtlPipeline.runFromTables(spark, wh, feed(src1), runId = 1,
      deleteTs = "2024-01-02 00:00:00")
    assert(logRow(r1, "stg_dwh_clients").getAs[Long]("rows_inserted") == 3)
    assert(tbl().count() == 3 && tbl().filter(col("deleted_flg")).count() == 0)

    // the inventory treats the ts-watermark store as META and surfaces
    // the database-loop watermark for the table it covers
    val inv = WarehouseOps.inventory(spark, wh).collect()
    assert(inv.map(_.getString(0)).toSeq === Seq("dwh_clients"),
      "etl_watermark_ts must not appear as a data table")
    // derive the expected rendering from the same instant the source
    // carried (UTC-explicit), so the assertion holds on any JVM tz
    val expWm = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(ts("2024-01-01 10:00:00").toInstant)
    assert(inv(0).getAs[String]("watermark") != null &&
      inv(0).getAs[String]("watermark").startsWith(expWm),
      "the timestamp watermark surfaces in the inventory")

    // day 2: Bob renamed (update_dt bumped), Cat gone from the source,
    // Dan new — and Ann untouched, so she is ABSENT from the incremental
    // stg but PRESENT in the key list
    val src2 = Seq(
      (1L, "Ann", ts("2024-01-01 08:00:00"), nullTs),
      (2L, "Bobby", ts("2024-01-01 09:00:00"), ts("2024-01-02 12:00:00")),
      (4L, "Dan", ts("2024-01-02 13:00:00"), nullTs))
      .toDF("client_id", "name", "create_dt", "update_dt")
    val r2 = EtlPipeline.runFromTables(spark, wh, feed(src2), runId = 2,
      deleteTs = "2024-01-03 00:00:00")
    // watermark excludes Ann: only Bob's change and Dan staged
    assert(logRow(r2, "stg_dwh_clients").getAs[Long]("rows_inserted") == 2)
    // NOTE: do not .cache() these reads — the cache is keyed on the
    // logical plan, and a later identical spark.read.parquet(path) would
    // be served the STALE cached files from before the next writeSwap.
    val t2 = tbl()
    // Ann: still ONE open live row — unchanged-since-watermark must NOT tombstone
    assert(t2.filter(col("client_id") === 1).count() == 1)
    assert(t2.filter(col("client_id") === 1 && !col("deleted_flg") &&
      col("effective_to") === openEnd).count() == 1)
    // Bob: closed old version + open renamed one
    assert(t2.filter(col("client_id") === 2).count() == 2)
    assert(t2.filter(col("client_id") === 2 && col("name") === "Bobby" &&
      col("effective_to") === openEnd).count() == 1)
    // Cat: closed + open tombstone at deleteTs
    assert(t2.filter(col("client_id") === 3).count() == 2)
    assert(t2.filter(col("client_id") === 3 && col("deleted_flg") &&
      col("effective_to") === openEnd).count() == 1)
    assert(t2.filter(col("client_id") === 4 && col("effective_to") === openEnd).count() == 1)

    // day 3: Cat returns with IDENTICAL state — the tombstone must close
    // and a live version open (reference INTERSECT includes deleted_flg)
    val src3 = src2.unionByName(Seq(
      (3L, "Cat", ts("2024-01-01 10:00:00"), ts("2024-01-03 09:00:00")))
      .toDF("client_id", "name", "create_dt", "update_dt"))
    EtlPipeline.runFromTables(spark, wh, feed(src3), runId = 3,
      deleteTs = "2024-01-04 00:00:00")
    val t3 = tbl()
    val catOpen = t3.filter(col("client_id") === 3 && col("effective_to") === openEnd)
    assert(catOpen.count() == 1)
    assert(!catOpen.collect()(0).getAs[Boolean]("deleted_flg"), "revived Cat must be live")
    assert(t3.filter(col("client_id") === 3).count() == 3) // closed, closed tombstone, open
    val t3Count = t3.count() // materialize BEFORE run 4 swaps the files

    // day 4: identical source — watermark stages nothing, table unchanged
    val r4 = EtlPipeline.runFromTables(spark, wh, feed(src3), runId = 4,
      deleteTs = "2024-01-05 00:00:00")
    assert(logRow(r4, "stg_dwh_clients").getAs[Long]("rows_inserted") == 0)
    assert(tbl().count() == t3Count)
  }

  test("from-database scd1 feed upserts incrementally without touching absent keys") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("graft_whdb1").toString
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    def feed(src: org.apache.spark.sql.DataFrame) = Seq(EtlPipeline.TableFeed(
      EtlPipeline.TableMapping("rates", "dwh_db_rates", "cur", Seq("rate"), 1), src))
    val src1 = Seq(("USD", 90.5, ts("2024-01-01 08:00:00"), nullTs),
                   ("EUR", 99.1, ts("2024-01-01 08:00:00"), nullTs))
      .toDF("cur", "rate", "create_dt", "update_dt")
    EtlPipeline.runFromTables(spark, wh, feed(src1), 1, "2024-01-02 00:00:00")
    // only USD changes past the watermark; EUR is absent from the
    // incremental stg and must survive untouched (scd1 never deletes)
    val src2 = Seq(("USD", 92.0, ts("2024-01-01 08:00:00"), ts("2024-01-02 09:00:00")),
                   ("EUR", 99.1, ts("2024-01-01 08:00:00"), nullTs))
      .toDF("cur", "rate", "create_dt", "update_dt")
    val r2 = EtlPipeline.runFromTables(spark, wh, feed(src2), 2, "2024-01-03 00:00:00")
    assert(logRow(r2, "stg_dwh_db_rates").getAs[Long]("rows_inserted") == 1)
    val t = spark.read.parquet(s"$wh/dwh_db_rates").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(t == Map("USD" -> 92.0, "EUR" -> 99.1))
  }

  test("from-database watermark never moves past rows the merge did not read") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("graft_whdb_live").toString
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    def feed(src: org.apache.spark.sql.DataFrame) = Seq(EtlPipeline.TableFeed(
      TableMapping("rates", "dwh_live_rates", "cur", Seq("rate"), 1), src, updateCol = None))
    def rates() = spark.read.parquet(s"$wh/dwh_live_rates").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    def storedWm() = spark.read.parquet(s"$wh/etl_watermark_ts").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    EtlPipeline.runFromTables(spark, wh,
      feed(Seq(("USD", 90.5, ts("2024-01-01 08:00:00"))).toDF("cur", "rate", "create_dt")),
      1, "2024-01-02 00:00:00")
    val wm1 = storedWm()

    // a live source: its only row commits after the merge's read, so the
    // merge stages nothing and every later read sees the new row
    LiveSource.reads.set(0)
    val live = spark.range(1).select(lit("USD").as("cur"), lit(92.0).as("rate"),
      LiveSource.createDt().as("create_dt"))
    val r2 = EtlPipeline.runFromTables(spark, wh, feed(live), 2, "2024-01-03 00:00:00")
    assert(logRow(r2, "dwh_live_rates").getAs[Long]("rows_updated") === 0L)
    assert(rates() === Map("USD" -> 90.5))
    assert(storedWm() === wm1, "the watermark stays behind the row the merge never saw")

    val r3 = EtlPipeline.runFromTables(spark, wh, feed(live), 3, "2024-01-04 00:00:00")
    assert(logRow(r3, "stg_dwh_live_rates").getAs[Long]("rows_inserted") === 1L)
    assert(rates() === Map("USD" -> 92.0), "the late row merges on the next run")
    assert(storedWm()("dwh_live_rates").startsWith("2024-01-03"))
  }

  private def storedTsWatermarks(wh: String): Map[String, String] =
    spark.read.parquet(s"$wh/etl_watermark_ts").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def rateFeed(target: String, rows: (String, Double, String)*) = {
    val s = spark
    import s.implicits._
    EtlPipeline.TableFeed(TableMapping("rates", target, "cur", Seq("rate"), 1),
      rows.map { case (c, r, t) => (c, r, java.sql.Timestamp.valueOf(t)) }
        .toDF("cur", "rate", "create_dt"), updateCol = None)
  }

  test("runFromTables refuses a reserved target name before it merges anything") {
    val wh = Files.createTempDirectory("graft_db_rsv").toString
    intercept[IllegalArgumentException] {
      EtlPipeline.runFromTables(spark, wh, Seq(
        rateFeed("dwh_rsv_rates", ("USD", 90.5, "2024-01-01 08:00:00")),
        rateFeed("stg_x", ("EUR", 99.1, "2024-01-01 08:00:00"))), 1, "2024-01-02 00:00:00")
    }
    for (t <- Seq("dwh_rsv_rates", "stg_x", "etl_watermark_ts", "etl_run_log"))
      assert(!Files.exists(Paths.get(s"$wh/$t")), s"$t was written before the refusal")
  }

  test("a failing feed surfaces its own exception after the other feeds' targets finish") {
    val wh = Files.createTempDirectory("graft_dbf_wh").toString
    // the first feed's target has an orphaned swap stage
    Files.createDirectories(Paths.get(s"$wh/dwh_dbf_orphan__stage"))
    val e = intercept[IllegalStateException] {
      EtlPipeline.runFromTables(spark, wh, Seq(
        rateFeed("dwh_dbf_orphan", ("USD", 1.0, "2024-01-01 08:00:00")),
        rateFeed("dwh_dbf_rates", ("USD", 2.0, "2024-01-01 09:00:00"))), 1, "2024-01-02 00:00:00")
    }
    assert(e.getMessage.contains("interrupted"),
      "the first failure in feed order surfaces as thrown, not wrapped")
    assert(spark.read.parquet(s"$wh/dwh_dbf_rates").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap === Map("USD" -> 2.0),
      "the other target ran")
    assert(storedTsWatermarks(wh).keySet === Set("dwh_dbf_rates"))
    assert(storedTsWatermarks(wh)("dwh_dbf_rates").startsWith("2024-01-01"))
    assert(!Files.exists(Paths.get(s"$wh/dwh_dbf_orphan")))
    assert(!Files.exists(Paths.get(s"$wh/etl_run_log")), "a failed run logs nothing")
  }

  test("runFromTables refuses a staged null key and keeps the table and its watermark") {
    val wh = Files.createTempDirectory("graft_db_nk").toString
    def feed(rows: (String, Double, String)*) = Seq(rateFeed("dwh_nk_rates", rows: _*))
    def rates() = spark.read.parquet(s"$wh/dwh_nk_rates").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    EtlPipeline.runFromTables(spark, wh, feed(("USD", 90.5, "2024-01-01 08:00:00")),
      1, "2024-01-02 00:00:00")
    val wm1 = storedTsWatermarks(wh)
    val e = intercept[Exception] {
      EtlPipeline.runFromTables(spark, wh, feed(("USD", 92.0, "2024-01-02 08:00:00"),
        (null, 77.0, "2024-01-02 09:00:00")), 2, "2024-01-03 00:00:00")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("null key")), e)
    assert(rates() === Map("USD" -> 90.5))
    assert(storedTsWatermarks(wh) === wm1)
    assert(!Files.exists(Paths.get(s"$wh/dwh_nk_rates__stage")))
    assert(spark.read.parquet(s"$wh/etl_run_log").filter(col("run_id") === 2).isEmpty)
  }

  test("a mapping resolves staged columns case-insensitively on a new target") {
    val s = spark
    import s.implicits._
    val inDir = Files.createTempDirectory("graft_smc_in").toString
    val wh = Files.createTempDirectory("graft_smc_wh").toString
    // Derby-style uppercase column names under a lowercase mapping; a
    // stream's batches reach the merge without a re-select
    Seq((1L, 10.0)).toDF("ID", "BAL").coalesce(1).write.mode("append").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ID", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("BAL", org.apache.spark.sql.types.DoubleType)))
    val q = EtlPipeline.streamingMerge(spark.readStream.schema(schema).parquet(inDir), wh,
      TableMapping("stream", "dwh_case_cust", "id", Seq("bal"), scd = 1))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$wh/dwh_case_cust").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap === Map(1L -> 10.0))
    } finally q.stop()
  }

  test("streaming merge upserts each micro-batch into the warehouse") {
    val s = spark
    import s.implicits._
    val inDir = Files.createTempDirectory("graft_sm_in").toString
    val wh = Files.createTempDirectory("graft_sm_wh").toString
    val m = TableMapping("stream", "dwh_stream_cust", "id", Seq("bal"), scd = 1)
    def push(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("id", "bal").coalesce(1).write.mode("append").parquet(inDir)
    push(Seq((1L, 10.0), (2L, 20.0)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bal", org.apache.spark.sql.types.DoubleType)))
    val q = EtlPipeline.streamingMerge(
      spark.readStream.schema(schema).parquet(inDir), wh, m)
    try {
      q.processAllAvailable()
      val t1 = spark.read.parquet(s"$wh/dwh_stream_cust").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(t1 == Map(1L -> 10.0, 2L -> 20.0))
      // batch 2: update user 2, insert user 3
      push(Seq((2L, 25.0), (3L, 30.0)))
      q.processAllAvailable()
      val t2 = spark.read.parquet(s"$wh/dwh_stream_cust").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(t2 == Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
      // per-micro-batch run log accumulated
      assert(spark.read.parquet(s"$wh/etl_run_log").count() >= 2)
    } finally q.stop()
  }

  test("accumulating mart equals the full rebuild across two runs") {
    val inbox = Files.createTempDirectory("graft_mart_inbox").toString
    val wh = Files.createTempDirectory("graft_mart_wh").toString
    val cutoff = "2024-01-20 00:00:00"
    val marts = Seq[(String, EtlPipeline.MartRefresh)](
      "mart_fraud" -> EtlPipeline.MartAccumulate(
        (s, d) => graft.pipeline.FraudMart.report(s, d),
        (s, d, since) => graft.pipeline.FraudMart.incrementalReport(s, d, since),
        watermarkCol = "event_dt"))
    // warehouse facts arrive in two time slices of the same stream
    Tables.customer(spark, sf).write.parquet(s"$wh/customer.parquet")
    Tables.events(spark, sf).filter(col("ts") <= lit(cutoff).cast("timestamp"))
      .write.parquet(s"$wh/events.parquet")
    EtlPipeline.run(spark, inbox, wh, Seq.empty, runId = 1)
    EtlPipeline.refreshMarts(spark, wh, marts)
    val afterRun1 = spark.read.parquet(s"$wh/mart_fraud").count()
    assert(afterRun1 > 0, "bootstrap build must flag events in the first slice")

    // second slice lands: the refresh must APPEND only the new rows
    Tables.events(spark, sf).write.mode("overwrite").parquet(s"$wh/events.parquet")
    EtlPipeline.run(spark, inbox, wh, Seq.empty, runId = 2)
    EtlPipeline.refreshMarts(spark, wh, marts)
    val accumulated = spark.read.parquet(s"$wh/mart_fraud")
    assert(accumulated.count() > afterRun1, "second run must append new flags")
    val full = graft.pipeline.FraudMart.report(spark, wh)
    assert(accumulated.exceptAll(full).count() == 0,
      "accumulated mart contains rows the full rebuild does not")
    assert(full.exceptAll(accumulated).count() == 0,
      "accumulated mart is missing rows of the full rebuild")

    // statement-level idempotence: an immediate re-refresh appends nothing
    EtlPipeline.run(spark, inbox, wh, Seq.empty, runId = 3)
    EtlPipeline.refreshMarts(spark, wh, marts)
    assert(spark.read.parquet(s"$wh/mart_fraud").count() == accumulated.count())
  }

  test("a mart left at its stage directory by an interrupted swap rebuilds and clears it") {
    val wh = Files.createTempDirectory("graft_mart_orphan").toString
    val marts = Seq[(String, EtlPipeline.MartRefresh)](
      "mart_fraud" -> EtlPipeline.MartAccumulate(
        (s, d) => graft.pipeline.FraudMart.report(s, d),
        (s, d, since) => graft.pipeline.FraudMart.incrementalReport(s, d, since),
        watermarkCol = "event_dt"))
    Tables.customer(spark, sf).write.parquet(s"$wh/customer.parquet")
    Tables.events(spark, sf).write.parquet(s"$wh/events.parquet")
    EtlPipeline.refreshMarts(spark, wh, marts)
    // a compaction interrupted between its delete and its rename
    val mart = Paths.get(s"$wh/mart_fraud")
    val stage = Paths.get(s"$wh/mart_fraud__stage")
    Files.move(mart, stage)

    EtlPipeline.refreshMarts(spark, wh, marts)
    val rebuilt = spark.read.parquet(s"$wh/mart_fraud")
    val full = graft.pipeline.FraudMart.report(spark, wh)
    assert(rebuilt.exceptAll(full).count() == 0 && full.exceptAll(rebuilt).count() == 0,
      "the rebuilt mart equals the full report")
    assert(!Files.exists(stage), "the rebuild reuses and clears the stage directory")
  }

  test("a warehouse in the stored layout continues: same rows merged, same watermarks") {
    val s = spark
    import s.implicits._
    val inbox = Files.createTempDirectory("graft_compat_in").toString
    val wh = Files.createTempDirectory("graft_compat_wh").toString
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val cutoff = "2024-01-20 00:00:00"
    // the on-disk state an earlier release leaves, written by hand: both
    // watermark stores, the run log, two targets and an accumulated mart
    Seq(("USD", 90.5), ("EUR", 99.1)).toDF("cur", "rate").write.parquet(s"$wh/dwh_rates")
    Seq(("dwh_rates", "2024-01-01")).toDF("table_name", "last_dt")
      .write.parquet(s"$wh/etl_watermark")
    Seq((1L, "Ann")).toDF("client_id", "name").write.parquet(s"$wh/dwh_clients")
    Seq(("dwh_clients", "2024-01-01 08:00:00.000000")).toDF("table_name", "last_ts")
      .write.parquet(s"$wh/etl_watermark_ts")
    Seq((1L, "dwh_rates", 2L, 0L, 0L), (1L, "dwh_clients", 1L, 0L, 0L))
      .toDF("run_id", "table_name", "rows_inserted", "rows_updated", "rows_deleted")
      .withColumn("run_start_dt", lit(ts("2024-01-01 09:00:00")))
      .withColumn("run_end_dt", lit(ts("2024-01-01 09:05:00")))
      .write.parquet(s"$wh/etl_run_log")
    Tables.customer(spark, sf).write.parquet(s"$wh/customer.parquet")
    Tables.events(spark, sf).filter(col("ts") <= lit(cutoff).cast("timestamp"))
      .write.parquet(s"$wh/events.parquet")
    graft.pipeline.FraudMart.report(spark, wh).write.parquet(s"$wh/mart_fraud")
    Tables.events(spark, sf).write.mode("overwrite").parquet(s"$wh/events.parquet")

    // day 1 is behind the stored watermark; day 2 merges
    mkFile(inbox, "rates_01012024.csv", "cur;rate\nUSD;1,0\n")
    mkFile(inbox, "rates_02012024.csv", "cur;rate\nUSD;92,0\nEUR;99,1\nGBP;115,3\n")
    val runId = EtlPipeline.nextRunId(spark, wh)
    assert(runId === 2L, "run ids continue from the stored run log")
    val r = EtlPipeline.run(spark, inbox, wh, Seq(FileMapping("rates_*.csv", "dwh_rates",
      "cur", Seq("rate"), scd = 1, decimalCols = Seq("rate"))), runId, archiveFiles = false)
    assert(r.processedFiles.map(Paths.get(_).getFileName.toString) === Seq("rates_02012024.csv"))
    val rates = logRow(r, "dwh_rates")
    assert((rates.getAs[Long]("rows_inserted"), rates.getAs[Long]("rows_updated")) === (1L, 1L))
    val src = Seq((1L, "Ann", ts("2024-01-01 08:00:00")), (2L, "Bob", ts("2024-01-02 09:00:00")))
      .toDF("client_id", "name", "create_dt")
    val db = EtlPipeline.runFromTables(spark, wh, Seq(EtlPipeline.TableFeed(
      TableMapping("clients", "dwh_clients", "client_id", Seq("name"), 1), src,
      updateCol = None)), runId + 1, "2024-01-03 00:00:00")
    assert(logRow(db, "stg_dwh_clients").getAs[Long]("rows_inserted") === 1L,
      "only the row past the stored timestamp watermark stages")
    EtlPipeline.refreshMarts(spark, wh, Seq("mart_fraud" -> EtlPipeline.MartAccumulate(
      (s, d) => graft.pipeline.FraudMart.report(s, d),
      (s, d, since) => graft.pipeline.FraudMart.incrementalReport(s, d, since),
      watermarkCol = "event_dt")))

    def store(name: String) = {
      val t = spark.read.parquet(s"$wh/$name")
      (t.columns.toSeq, t.collect().map(x => x.getString(0) -> x.getString(1)).toMap)
    }
    assert(store("etl_watermark") === (Seq("table_name", "last_dt"),
      Map("dwh_rates" -> "2024-01-02")))
    assert(store("etl_watermark_ts") === (Seq("table_name", "last_ts"),
      Map("dwh_clients" -> "2024-01-02 09:00:00.000000")))
    assert(spark.read.parquet(s"$wh/etl_run_log").select("run_id").distinct()
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    val mart = spark.read.parquet(s"$wh/mart_fraud")
    val full = graft.pipeline.FraudMart.report(spark, wh)
    assert(mart.exceptAll(full).count() == 0 && full.exceptAll(mart).count() == 0,
      "the stored mart accumulates to the full report")
  }

  test("nextRunId allocates monotone ids and runs log start/end timestamps") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("graft_runid").toString
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    def feed(src: org.apache.spark.sql.DataFrame) = Seq(EtlPipeline.TableFeed(
      TableMapping("rates", "dwh_seq_rates", "cur", Seq("rate"), 1), src))
    assert(EtlPipeline.nextRunId(spark, wh) == 1L, "fresh warehouse starts at 1")
    val src1 = Seq(("USD", 90.5, ts("2024-01-01 08:00:00"), nullTs))
      .toDF("cur", "rate", "create_dt", "update_dt")
    val r1 = EtlPipeline.runFromTables(spark, wh, feed(src1),
      EtlPipeline.nextRunId(spark, wh), "2024-01-02 00:00:00")
    assert(r1.runId == 1L)
    assert(EtlPipeline.nextRunId(spark, wh) == 2L, "allocator follows the log")
    val src2 = Seq(("USD", 92.0, ts("2024-01-01 08:00:00"), ts("2024-01-02 09:00:00")))
      .toDF("cur", "rate", "create_dt", "update_dt")
    val r2 = EtlPipeline.runFromTables(spark, wh, feed(src2),
      EtlPipeline.nextRunId(spark, wh), "2024-01-03 00:00:00")
    assert(r2.runId == 2L)
    assert(EtlPipeline.nextRunId(spark, wh) == 3L)
    val log = spark.read.parquet(s"$wh/etl_run_log")
    assert(log.select("run_id").distinct().count() == 2)
    assert(log.filter(col("run_start_dt").isNull || col("run_end_dt").isNull).count() == 0)
    assert(log.filter(col("run_end_dt") < col("run_start_dt")).count() == 0)
  }

  test("scd1 pipeline merge produces a consistent run log") {
    val wh = Files.createTempDirectory("graft_scd1log").toString
    Tables.customer(spark, sf).filter(col("c_custkey") < 100)
      .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"))
      .write.parquet(s"$wh/dwh_cust")
    val stg = Tables.customer(spark, sf).filter(col("c_custkey") < 120)
      .select(col("c_custkey").as("id"), (col("c_acctbal") + 10).as("bal"),
        lit("2024-01-31 00:00:00").cast("timestamp").as("create_dt"))
    val res = EtlPipeline.runFromTables(spark, wh, Seq(EtlPipeline.TableFeed(
      TableMapping("stg_cust", "dwh_cust", "id", Seq("bal"), 1), stg, updateCol = None)),
      runId = 7, deleteTs = "2024-02-01 00:00:00")
    val log = logRow(res, "dwh_cust")
    assert(log.getAs[Long]("run_id") == 7L)
    assert(log.getAs[Long]("rows_inserted") == 20)   // keys 100..119
    assert(log.getAs[Long]("rows_updated") == 100)   // all overlapping bals shifted
  }

  test("scd2 pipeline merge logs tombstones as deletions") {
    val ev = Tables.events(spark, sf)
    val hist = Scd.buildHistory(ev.filter(col("user_id") < 10), "user_id", "ts",
      "event_id", Seq("event_type")).withColumnRenamed("event_type", "state")
    val stg = ev.filter(col("user_id") < 5)  // users 5..9 disappear
      .groupBy("user_id").agg(max(col("ts")).as("create_dt"))
      .withColumn("state", lit("inactive"))
    val wh = Files.createTempDirectory("graft_scd2log").toString
    hist.write.parquet(s"$wh/dwh_u")
    val res = EtlPipeline.runFromTables(spark, wh, Seq(EtlPipeline.TableFeed(
      TableMapping("stg_u", "dwh_u", "user_id", Seq("state"), 2), stg, updateCol = None)),
      runId = 8, deleteTs = "2024-02-01 00:00:00")
    val log = logRow(res, "dwh_u")
    assert(log.getAs[Long]("rows_deleted") == 5)
    assert(spark.read.parquet(s"$wh/dwh_u").filter(col("deleted_flg")).count() == 5)
  }
}

/** A one-row source whose change timestamp moves after its first read:
  * the first evaluation sees the row as already loaded, every later one
  * as changed on 2024-01-03. Static, so the executor-side UDF and the
  * test share one counter in local mode.
  */
private object LiveSource {
  val reads = new java.util.concurrent.atomic.AtomicInteger()
  val createDt = udf { () =>
    java.sql.Timestamp.valueOf(
      if (reads.getAndIncrement() == 0) "2024-01-01 08:00:00" else "2024-01-03 08:00:00")
  }.asNondeterministic()
}
