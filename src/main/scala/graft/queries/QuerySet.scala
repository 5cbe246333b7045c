package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query module of the [[graft.SparkEntry]] registry: its queries
  * by name and, for the SQL-expressible ones, the equivalent DuckDB
  * SQL (see `SparkEntry.oracleSql`).
  */
trait QuerySet {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String] = Map.empty
}
