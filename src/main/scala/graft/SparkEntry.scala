package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module operator registries. Every key in [[queries]]
  * that is SQL-expressible has a DuckDB twin in [[oracleSql]] with
  * identical output column names (the driver hash-compares after sorting
  * columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Eager-build contract: calling an entry builds its DataFrame. For most
    * queries that runs no Spark job beyond reading the input tables'
    * schemas. The queries declared in `OperatorsSmokeSpec.eagerBuild` do
    * run jobs while they are built: eager Materialize cuts, and counts
    * that pick a plan (the media pair search takes its band width and
    * broadcast choice from a count of the cut fingerprint frame). So even
    * a plan-only consumer (`Explain`, plan lint, a dry run) executes data
    * for them and can fail on bad input at build time. That spec fails
    * whenever a query's build behaviour and the declared set disagree. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.CustomAgg.queries ++
      operators.StreamingOps.queries ++
      operators.DedupOps.queries ++
      operators.TextOps.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      operators.Extended.queries ++
      operators.Extended3.queries ++
      operators.Extended4.queries ++
      operators.Extended5.queries ++
      operators.Extended6.queries ++
      operators.Extended7.queries ++
      operators.Extended8.queries ++
      operators.Extended9.queries ++
      operators.Extended10.queries ++
      operators.Extended11.queries ++
      operators.Extended12.queries ++
      operators.Extended13.queries ++
      operators.Extended14.queries ++
      operators.Extended15.queries ++
      operators.Extended16.queries ++
      operators.Extended17.queries ++
      operators.Extended18.queries ++
      operators.PiiOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracleSql ++
      operators.CustomAgg.oracleSql ++
      operators.StreamingOps.oracleSql ++
      operators.DedupOps.oracleSql ++
      operators.TextOps.oracleSql ++
      operators.Similarity.oracleSql ++
      operators.Multimodal.oracleSql ++
      operators.Extended.oracleSql ++
      operators.Extended3.oracleSql ++
      operators.Extended4.oracleSql ++
      operators.Extended5.oracleSql ++
      operators.Extended6.oracleSql ++
      operators.Extended7.oracleSql ++
      operators.Extended8.oracleSql ++
      operators.Extended9.oracleSql ++
      operators.Extended10.oracleSql ++
      operators.Extended11.oracleSql ++
      operators.Extended12.oracleSql ++
      operators.Extended13.oracleSql ++
      operators.Extended14.oracleSql ++
      operators.Extended15.oracleSql ++
      operators.Extended16.oracleSql ++
      operators.Extended17.oracleSql ++
      operators.Extended18.oracleSql ++
      operators.PiiOps.oracleSql
}
