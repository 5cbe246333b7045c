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
    val shorts = SparkEntry.queries.keys.map(SparkEntry.shortName).toSeq
    assert(shorts.forall(_.matches("q\\d{2,3}")),
      "every query name must start with a qNN_ prefix")
    assert(SparkEntry.byShortName(shorts).size === shorts.size) // throws on a shared prefix
  }

  test("short names resolve in the given order, and unknown ones fail by name") {
    val names = SparkEntry.byShortName(Seq("q20", "q01")).map(_._1)
    assert(names.map(SparkEntry.shortName) === Seq("q20", "q01"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.byShortName(Seq("q01", "q999", "q20_fraud_report")))
    assert(e.getMessage.contains("unknown query names: q999, q20_fraud_report"))
  }

  test("every oracle entry has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.mkString(", ")}")
  }
}
