package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity: SparkEntry merges the per-module maps with
  * `++`, where a duplicate key silently OVERWRITES an earlier module's
  * query — this spec turns that into a test failure, at `sbt test`
  * time rather than Bench's runtime require.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("no module's query name collides with another's") {
    val all = SparkEntry.modules.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"colliding query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === all.size)
    val oracles = SparkEntry.modules.flatMap(_.oracle.keys)
    assert(SparkEntry.oracleSql.size === oracles.size)
  }

  test("qNN prefixes are unique and well-formed") {
    val shorts = SparkEntry.queries.keys.map(_.takeWhile(_ != '_')).toSeq
    assert(shorts.forall(_.matches("q\\d{2,3}")),
      "every query name must start with a qNN_ prefix")
    val dups = shorts.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"duplicate qNN prefixes: ${dups.mkString(", ")}")
  }

  test("every oracle entry has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.mkString(", ")}")
  }
}
