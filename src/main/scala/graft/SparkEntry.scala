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
    families.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    families.flatMap(_.oracleSql).toMap

  /** The operator inventory, one module per family. Each query name is
    * defined by exactly one family (`SparkEntrySpec` checks it). */
  val families: Seq[operators.OperatorFamily] = {
    import operators._
    Seq(Relational, CustomAgg, StreamingOps, DedupOps, TextOps, Corpus,
      PiiOps, Similarity, Multimodal, OrderRevenue, Warehouse, Behavioral,
      Graph, Statistics, Forecasting)
  }
}
