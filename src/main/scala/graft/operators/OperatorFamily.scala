package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family module of the operator inventory: its queries by name and,
  * for each SQL-expressible one, the DuckDB oracle twin under the same
  * name. `SparkEntry` folds the families into its registries. */
trait OperatorFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
