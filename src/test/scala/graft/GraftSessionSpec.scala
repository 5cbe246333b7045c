package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session configuration: every session in the code base comes from
  * [[GraftSession.local]], and the suites run on it.
  */
class GraftSessionSpec extends SparkSpec {

  test("no SparkSession builder outside GraftSession") {
    val builderCall = "SparkSession" + ".builder"
    val home = Paths.get("src/main/scala/graft/GraftSession.scala")
    def codeLines(p: Path): Iterator[String] =
      new String(Files.readAllBytes(p), UTF_8).linesIterator.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != home)
        .filter(p => codeLines(p).exists(_.contains(builderCall)))
    }
    assert(offenders.isEmpty, s"session builders outside GraftSession: ${offenders.mkString(", ")}")
  }

  test("the suites' session carries the shared confs and GraftExtensions") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.parquet.outputTimestampType") === "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sql("SELECT rolling_hash('graft') IS NOT NULL").head().getBoolean(0))
  }
}
