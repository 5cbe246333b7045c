package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Reader for the reference's daily xlsx uploads (file.py:38-44 —
  * terminals, passport blacklist). xlsx is a zip of XML parts, so the
  * JDK's `java.util.zip` + StAX suffice — no external codec.
  *
  * Output contract matches [[DelimitedSource.read]]: every sheet cell
  * surfaces as a string column (named by the header row), plus
  * `create_dt` parsed from the `name_DDMMYYYY.ext` filename (null for a
  * file whose name carries no valid date). Numeric and
  * date cells yield their raw stored text (xlsx stores dates as day
  * serials); downstream normalization is explicit, same as the
  * decimal-comma handling for txt files.
  *
  * Scale shape: the driver reads ONE header (schema must precede the
  * plan); the files themselves are parsed executor-side via
  * `binaryFiles` — one task per file, which matches the workload: daily
  * dimension drops are many small files, not one huge one. Each file is
  * held in memory on its executor (a zip needs its central directory;
  * xlsx is not splittable), bounded by the format's realistic size.
  */
object XlsxSource {

  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    val glob = new Path(pathGlob)
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(glob)).map(_.toSeq).getOrElse(Seq.empty)
    require(files.nonEmpty, s"XlsxSource: no files match $pathGlob")
    val firstPath = files.map(_.getPath.toString).min
    val header = {
      val in = fs.open(new Path(firstPath))
      val rows = try parseWorkbook(readAllBytes(in)) finally in.close()
      rows.headOption.getOrElse(
        throw new IllegalArgumentException(s"XlsxSource: $firstPath has no header row"))
        .map(_.trim)
    }
    // empty or duplicate header names build a schema that only fails
    // later (and further away) on column resolution — reject at read
    require(header.forall(_.nonEmpty),
      s"XlsxSource: $firstPath header has empty column name(s): $header")
    require(header.distinct.size == header.size,
      s"XlsxSource: $firstPath header has duplicate column name(s): " +
        header.diff(header.distinct).distinct.mkString(", "))
    val width = header.length
    // each row carries its file's path in the create_dt slot, replaced
    // by the business date column below
    val schema = StructType((header :+ "create_dt").map(StructField(_, StringType)))

    val rows = spark.sparkContext.binaryFiles(pathGlob).flatMap { case (path, stream) =>
      val all = parseWorkbook(readAllBytes(stream.open()))
      if (all.isEmpty) Iterator.empty
      else {
        val h = all.head.map(_.trim)
        require(h == header,
          s"XlsxSource: $path header $h differs from $firstPath header $header")
        all.iterator.drop(1).map { r =>
          // data beyond the header width means a malformed sheet —
          // dropping the cells silently would lose data; styled-but-
          // EMPTY trailing cells (padding artifacts) are fine
          val extra = r.drop(width).filter(_.nonEmpty)
          require(extra.isEmpty,
            s"XlsxSource: $path has a data row ${r.length} cells wide but the " +
              s"header has $width columns; overflow values: ${extra.mkString(", ")}")
          Row.fromSeq((0 until width).map(i => r.lift(i).filter(_.nonEmpty).orNull) :+ path)
        }
      }
    }
    spark.createDataFrame(rows, schema)
      .withColumn("create_dt", FileIngest.businessDateCol(col("create_dt")))
  }

  private def readAllBytes(in: InputStream): Array[Byte] =
    try readAllBytesNoClose(in) finally in.close()

  /** All sheet rows (header included) of the workbook's first worksheet,
    * each row an IndexedSeq of cell strings by column position.
    */
  private def parseWorkbook(bytes: Array[Byte]): Vector[IndexedSeq[String]] = {
    val shared = zipEntry(bytes, _ == "xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)
    // numeric-aware ordering: a plain string sort would pick sheet10
    // before sheet2 — order by the numeric suffix, then name. (Full
    // fidelity would read the sheet order from workbook.xml; the
    // numeric sort covers every sheetN.xml layout Excel itself writes.)
    val sheetName = zipEntryNames(bytes)
      .filter(n => n.startsWith("xl/worksheets/") && n.endsWith(".xml"))
      .minByOption { n =>
        val digits = n.filter(_.isDigit)
        (if (digits.isEmpty) Long.MaxValue else digits.toLong, n)
      }
      .getOrElse(throw new IllegalArgumentException("XlsxSource: workbook has no worksheet part"))
    parseSheet(zipEntry(bytes, _ == sheetName).get, shared)
  }

  private def zipEntryNames(bytes: Array[Byte]): Seq[String] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map(_.getName).toVector
    finally zin.close()
  }

  private def zipEntry(bytes: Array[Byte], name: String => Boolean): Option[Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .collectFirst { case e if name(e.getName) => readAllBytesNoClose(zin) }
    } finally zin.close()
  }

  private def readAllBytesNoClose(in: InputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  private def xmlReader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    // untrusted input: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** `<si>` items of sharedStrings.xml; rich-text runs (`<si><r><t>`)
    * concatenate their `<t>` fragments.
    */
  private def parseSharedStrings(xml: Array[Byte]): Vector[String] = {
    val r = xmlReader(xml)
    val items = Vector.newBuilder[String]
    val sb = new StringBuilder
    var inSi = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; sb.clear()
              case "t" if inSi => sb.append(r.getElementText)
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
            items += sb.toString; inSi = false
          case _ => ()
        }
      }
    } finally r.close()
    items.result()
  }

  /** Worksheet rows. Cell position comes from the `r="BC12"` reference so
    * skipped (blank) cells keep later columns aligned; `t="s"` cells
    * resolve through the shared-string table, `t="inlineStr"` through
    * their inline `<is><t>`, everything else (numbers, booleans, dates)
    * passes through as the raw stored text.
    */
  private def parseSheet(xml: Array[Byte], shared: Vector[String]): Vector[IndexedSeq[String]] = {
    val r = xmlReader(xml)
    val rows = Vector.newBuilder[IndexedSeq[String]]
    val cells = scala.collection.mutable.ArrayBuffer.empty[String]
    var cellType = ""
    var cellIdx = 0
    var cellVal: String = null
    var inCell = false
    def colIndex(ref: String): Int =
      ref.takeWhile(_.isLetter).foldLeft(0)((a, c) => a * 26 + (c.toUpper - 'A' + 1)) - 1
    def pad(to: Int): Unit = while (cells.length < to) cells += ""
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => cells.clear()
              case "c" =>
                inCell = true; cellVal = null
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
                cellIdx = Option(r.getAttributeValue(null, "r"))
                  .map(colIndex).getOrElse(cells.length)
              case "v" if inCell => cellVal = r.getElementText
              case "t" if inCell =>
                // inlineStr; rich-text runs (<is><r><t>..</t></r>…) carry
                // several <t> fragments — concatenate like sharedStrings
                val frag = r.getElementText
                cellVal = if (cellVal == null) frag else cellVal + frag
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "c" =>
                val s = cellType match {
                  case "s" => if (cellVal == null) "" else shared(cellVal.trim.toInt)
                  case _ => Option(cellVal).getOrElse("")
                }
                pad(cellIdx); pad(cellIdx + 1)
                cells(cellIdx) = s
                inCell = false
              case "row" =>
                // styled-but-empty rows (<row/> or only valueless cells)
                // must not become phantom all-null records
                if (cells.exists(_.nonEmpty)) rows += cells.toIndexedSeq
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    rows.result()
  }
}
