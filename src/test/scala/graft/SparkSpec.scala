package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test`). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
}
