package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One dial table: every runtime conf key `src/main` reads is a row of
  * README's "Dials" table, and every row is a key the code still reads.
  */
class DialsSpec extends AnyFunSuite {

  // a quoted string that is exactly a dotted lower-camel key under
  // graft. or spark.graft. (class names and messages do not match)
  private val KeyLiteral = "\"((?:spark\\.)?graft(?:\\.[a-z][A-Za-z0-9]*)+)\"".r

  private def codeKeys: Set[String] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => new String(Files.readAllBytes(p), UTF_8).linesIterator)
      .map(_.trim)
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
      .flatMap(l => KeyLiteral.findAllMatchIn(l).map(_.group(1)))
      .toSet

  private def tableKeys: Set[String] = {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), UTF_8)
    val section = readme.split("\n## ").find(_.startsWith("Dials\n"))
    assert(section.isDefined, "README has no '## Dials' section")
    val row = "^\\| `([^`]+)` \\|".r
    section.get.linesIterator.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("README's dial table names exactly the conf keys src/main reads") {
    val (code, table) = (codeKeys, tableKeys)
    assert(code.nonEmpty && table.nonEmpty)
    assert((code -- table).isEmpty, s"dials missing from README's table: ${(code -- table).mkString(", ")}")
    assert((table -- code).isEmpty, s"table rows no code reads: ${(table -- code).mkString(", ")}")
  }
}
