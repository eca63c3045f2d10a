package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge. Spark 4 made the conversion utilities
  * `private[sql]` (`classic.ExpressionUtils`); extension libraries place
  * this one-liner inside the package to build Columns from custom
  * Catalyst expressions (same approach as delta/frameless).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (custom) logical plan as a DataFrame — `Dataset.ofRows` is
    * `private[sql]` in Spark 4; custom relational operators (e.g. the
    * native as-of join) need it to surface their logical nodes. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `encoder` resolved against `ds`'s output and bound to its ordinals,
    * as a Dataset binds its own deserializer: it decodes the rows of
    * `ds.queryExecution.toRdd`. */
  def boundEncoder[T](encoder: Encoder[T],
      ds: Dataset[_]): catalyst.encoders.ExpressionEncoder[T] =
    catalyst.encoders.encoderFor(encoder).resolveAndBind(
      ds.queryExecution.analyzed.output,
      ds.sparkSession.asInstanceOf[classic.SparkSession].sessionState.analyzer)

  /** A DataFrame over catalyst rows (`SparkSession.internalCreateDataFrame`
    * is `private[sql]`): a `LogicalRDD` scan of `rows`. */
  def ofInternalRows(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Free the block-manager storage behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist()` only consults the CacheManager, which never
    * sees checkpoint RDDs — without this, every checkpointed retry round
    * of a long-running stream leaks executor storage until GC.
    */
  def unpersistCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collect {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
    }
}
