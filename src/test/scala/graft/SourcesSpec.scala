package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.{DelimitedSource, FileIngest, XlsxSource}

class SourcesSpec extends SparkSpec {

  private def mkTxt(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, content)
    p.toString
  }

  test("delimited txt reader parses ;-separated decimal-comma files with filename dates") {
    val dir = Files.createTempDirectory("graft_src").toString
    mkTxt(dir, "transactions_15032024.txt",
      "transaction_id;amount;oper_type\nT1;123,45;PAYMENT\nT2;67,80;WITHDRAW\n")
    val df = DelimitedSource.normalizeDecimalColumns(
      DelimitedSource.read(spark, s"$dir/transactions_*.txt"), Seq("amount")).cache()
    assert(df.count() == 2)
    val r = df.filter(col("transaction_id") === "T1").collect()(0)
    assert(math.abs(r.getAs[Double]("amount") - 123.45) < 1e-9)
    assert(r.getAs[java.sql.Date]("create_dt").toString == "2024-03-15")
  }

  test("delimited reader gives a file with an invalid filename date a null create_dt") {
    val dir = Files.createTempDirectory("graft_baddt").toString
    mkTxt(dir, "x_31132024.txt", "k;v\nA;1\n") // month 13: matches the regex, no date
    mkTxt(dir, "x_15032024.txt", "k;v\nB;2\n")
    val dates = DelimitedSource.read(spark, s"$dir/x_*.txt").collect()
      .map(r => r.getAs[String]("k") ->
        Option(r.getAs[java.sql.Date]("create_dt")).map(_.toString)).toMap
    assert(dates === Map("A" -> None, "B" -> Some("2024-03-15")))
  }

  test("delimited reader tolerates a UTF-8 BOM: first header name comes out clean") {
    val dir = Files.createTempDirectory("graft_bom").toString
    val bytes = ("﻿" + "cur;rate\nUSD;90,5\n").getBytes("UTF-8")
    Files.write(java.nio.file.Paths.get(dir, "rates_01012024.csv"), bytes)
    val df = DelimitedSource.read(spark, s"$dir/rates_*.csv")
    assert(df.columns.take(2).toSeq === Seq("cur", "rate"),
      s"BOM must not leak into the first column name, got ${df.columns.toSeq}")
    assert(df.filter(col("cur") === "USD").count() === 1)
  }

  test("xlsx reader round-trips shared strings, numbers, skipped cells, filename dates") {
    val dir = Files.createTempDirectory("graft_xlsx").toString
    TestXlsx.write(s"$dir/terminals_02032024.xlsx",
      Seq("terminal_id", "terminal_type", "terminal_city"),
      Seq(
        Seq("A101", "POS", "Moscow"),
        Seq("A102", null, "Kazan"),      // skipped middle cell -> null
        Seq("12345", "ATM", "St <P> & Co"))) // numeric cell + XML escapes
    val df = XlsxSource.read(spark, s"$dir/terminals_*.xlsx").cache()
    assert(df.columns.toSeq ==
      Seq("terminal_id", "terminal_type", "terminal_city", "create_dt"))
    assert(df.count() == 3)
    val r1 = df.filter(col("terminal_id") === "A102").collect()(0)
    assert(r1.getAs[String]("terminal_type") == null)
    assert(r1.getAs[String]("terminal_city") == "Kazan")
    val r2 = df.filter(col("terminal_id") === "12345").collect()(0)
    assert(r2.getAs[String]("terminal_city") == "St <P> & Co")
    assert(r2.getAs[java.sql.Date]("create_dt").toString == "2024-03-02")
  }

  test("xlsx reader unions a glob of daily files on a shared header") {
    val dir = Files.createTempDirectory("graft_xlsx2").toString
    TestXlsx.write(s"$dir/blacklist_01012024.xlsx", Seq("passport"), Seq(Seq("P1"), Seq("P2")))
    TestXlsx.write(s"$dir/blacklist_02012024.xlsx", Seq("passport"), Seq(Seq("P3")))
    val df = XlsxSource.read(spark, s"$dir/blacklist_*.xlsx")
    assert(df.count() == 3)
    assert(df.select("create_dt").distinct().count() == 2)
  }

  test("xlsx reader rejects malformed sheets instead of silently dropping data") {
    val dir = Files.createTempDirectory("graft_xlsx3").toString
    // a data row wider than the header loses its overflow cells silently
    // without the guard
    TestXlsx.write(s"$dir/wide_01012024.xlsx", Seq("a", "b"),
      Seq(Seq("1", "2"), Seq("3", "4", "OVERFLOW")))
    val wide = intercept[Exception](
      XlsxSource.read(spark, s"$dir/wide_*.xlsx").count())
    val msgs = Iterator.iterate[Throwable](wide)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(msgs.contains("OVERFLOW"), s"unexpected failure: $msgs")
    // duplicate header names resolve ambiguously downstream
    TestXlsx.write(s"$dir/dup_01012024.xlsx", Seq("a", "a"), Seq(Seq("1", "2")))
    intercept[IllegalArgumentException](XlsxSource.read(spark, s"$dir/dup_*.xlsx"))
    // empty header names are unaddressable
    TestXlsx.write(s"$dir/empty_01012024.xlsx", Seq("a", ""), Seq(Seq("1", "2")))
    intercept[IllegalArgumentException](XlsxSource.read(spark, s"$dir/empty_*.xlsx"))
  }

  test("xlsx round-trips arbitrary cell content (unicode, escapes, sparse rows)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cellGen: Gen[String] = Gen.frequency(
      4 -> Gen.alphaNumStr.map(_.take(12)),
      2 -> Gen.oneOf("<&>\"'", "äöü ßẞ", "日本語テキスト", "a;b,c\td", "  padded  "),
      2 -> Gen.choose(-99999, 99999).map(_.toString),
      1 -> Gen.const(null))
    val tableGen: Gen[List[List[String]]] = for {
      w <- Gen.choose(1, 5)
      rows <- Gen.listOfN(8, Gen.listOfN(w, cellGen))
    } yield rows
    (1 to 5).foreach { i =>
      val rows = tableGen(Gen.Parameters.default, Seed(7L + i)).get
      val width = rows.head.length
      val header = (0 until width).map(c => s"col_$c")
      val dir = Files.createTempDirectory(s"graft_xlsx_prop$i").toString
      TestXlsx.write(s"$dir/t_01012024.xlsx", header, rows)
      val back = XlsxSource.read(spark, s"$dir/t_*.xlsx")
        .drop("create_dt").collect()
        .map(r => (0 until width).map(r.getString))
      // contract: trims nothing, escapes round-trip, null == skipped ==
      // empty cell; fully-empty rows are dropped (styled-but-empty Excel
      // rows must not become phantom records); row order within one file
      // is the sheet order
      val expect = rows.map(_.map(v =>
        if (v == null || v.isEmpty) null else v))
        .filter(_.exists(_ != null))
      assert(back.toSet == expect.map(_.toIndexedSeq).toSet,
        s"seed ${7L + i}: mismatch\n got ${back.toSeq}\n want $expect")
    }
  }

  test("eventsSince pushes the time bound to parquet and matches the plain filter") {
    import graft.sources.Tables
    val bound = "2024-01-15 00:00:00"
    val pushed = Tables.eventsSince(spark, sf, bound)
    val plain = Tables.events(spark, sf)
      .filter(col("ts") >= lit(bound).cast("timestamp"))
    // same rows...
    assert(pushed.count() == plain.count())
    assert(pushed.exceptAll(plain).count() == 0)
    // ...but the bound reaches the scan (the converted-column filter
    // can only push IsNotNull)
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,"),
      s"time bound must appear in PushedFilters, got:\n${plan.take(600)}")
    // strict mode must equal the µs-truncated strict filter even though
    // the raw column carries sub-µs nanos (an event whose ns sit in
    // (bound, bound+1µs) truncates to EQUAL the bound → excluded)
    val strict = graft.sources.Tables.eventsSince(spark, sf, bound, inclusive = false)
    val plainStrict = graft.sources.Tables.events(spark, sf)
      .filter(col("ts") > lit(bound).cast("timestamp"))
    assert(strict.count() == plainStrict.count())
    assert(strict.exceptAll(plainStrict).count() == 0)
  }

  test("xlsx inline rich-text cells concatenate their fragments") {
    // hand-rolled sheet: one inlineStr cell split into two rich runs
    val dir = Files.createTempDirectory("graft_xlsx_rich").toString
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><r><t>foo</t></r><r><t>bar</t></r></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    val out = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(s"$dir/rich_01012024.xlsx")))
    try {
      out.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      out.write(sheet.getBytes("UTF-8")); out.closeEntry()
    } finally out.close()
    val df = XlsxSource.read(spark, s"$dir/rich_*.xlsx")
    assert(df.collect()(0).getAs[String]("name") == "foobar")
  }

  test("documents scan parallelizes small files; filters still push to parquet") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // the guard fires on the single-split test file
    assert(docs.rdd.getNumPartitions === spark.sparkContext.defaultParallelism,
      "a single-split documents scan must be spread across the cluster")
    // and does not cost predicate pushdown: the filter crosses the
    // repartition down into the parquet scan
    val plan = docs.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(lang,en)"),
      s"lang filter must reach the scan through the repartition:\n$plan")
  }

  test("file finder globs templates and archive moves the file") {
    val dir = Files.createTempDirectory("graft_find").toString
    mkTxt(dir, "terminals_01012024.txt", "a;b\n1;2\n")
    mkTxt(dir, "unrelated.csv", "x\n1\n")
    val found = FileIngest.find(spark, dir, Seq("terminals_*.txt", "transactions_*.txt"))
    assert(found.size == 1 && found.head.endsWith("terminals_01012024.txt"))
    val archived = FileIngest.archive(spark, found.head)
    assert(archived.endsWith("archive/terminals_01012024.txt.backup"))
    assert(FileIngest.find(spark, dir, Seq("terminals_*.txt")).isEmpty)
  }

  test("jsonl reader quarantines malformed and field-missing lines; good side is typed") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl").toString
    mkTxt(dir, "docs-000.jsonl",
      """{"doc_id": 1, "text": "hello world", "source": "web"}
        |{"doc_id": 2, "text": "ok doc", "source": "books"}
        |{"doc_id": 3, "source": "web"}
        |{"doc_id": 4, "text": "   ", "source": "web"}
        |not json at all
        |{"doc_id": "five", "text": "typed wrong", "source": "web"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    val qr = graft.sources.JsonlSource.readWithQuarantine(
      spark, s"$dir/docs-*.jsonl", schema, requiredCols = Seq("text"))
    val good = qr.good.cache()
    assert(good.columns.toSeq === Seq("doc_id", "text", "source"),
      "good side carries exactly the declared schema")
    assert(good.schema("doc_id").dataType === LongType)
    assert(good.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
    val bad = qr.bad.collect()
    val reasons = bad.map(r => r.getAs[String]("raw_line") ->
      r.getAs[String]("reject_reason")).toMap
    assert(reasons.size === 4)
    assert(reasons("""{"doc_id": 3, "source": "web"}""") === "missing_required")
    assert(reasons("""{"doc_id": 4, "text": "   ", "source": "web"}""")
      === "missing_required", "whitespace-only required field is missing")
    assert(reasons("not json at all") === "malformed_json")
    assert(reasons("""{"doc_id": "five", "text": "typed wrong", "source": "web"}""")
      === "malformed_json", "a type mismatch is a parse failure, not a silent null")
    assert(bad.forall(_.getAs[String]("src_file").endsWith("docs-000.jsonl")),
      "rejects keep their provenance for replay")
  }

  test("jsonl reader refuses a schema that collides with the corrupt marker") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("_corrupt_record", StringType)))
    val e = intercept[IllegalArgumentException] {
      graft.sources.JsonlSource.readWithQuarantine(
        spark, "/nonexistent/*.jsonl", schema, Nil)
    }
    assert(e.getMessage.contains("_corrupt_record"))
  }
}
