package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase distributed prefix sum — the 100 TB running-sum shape
  * shared by t07 sequence packing and m08 media shard packing. A naive
  * `Window.partitionBy(stream)` funnels each whole stream through ONE
  * task; instead rows are statically range-partitioned into blocks of
  * `blkSize` doc_ids (deterministic, no sampling, monotone in the
  * prefix order): phase 1 computes the running sum inside each
  * (stream, block) bounded window — thousands of bounded groups, no
  * task ever holds more than one block of one stream; phase 2
  * aggregates one total per (stream, block) with map-side partial
  * aggregation, computes cross-block cumulative offsets with a window
  * over that tiny per-block table (rows = corpus/blkSize, not the
  * corpus), and broadcast-joins the offsets back. `blkSize` trades
  * window-group memory against offset-table size; at 100 TB raise it
  * so the offset table stays broadcastable.
  */
object Packing {

  /** Adds `cum` = running sum of `weightCol` over rows ordered by
    * `doc_id` within each `partCol` stream. `frame` must carry
    * `doc_id`, `partCol`, and `weightCol`; it is materialized once
    * (strategy selectable via [[Materialize]]) so BOTH phases read the
    * same narrow frame instead of re-running its upstream twice.
    */
  def twoPhasePrefixSum(frame: DataFrame, partCol: String,
      weightCol: String, blkSize: Long = 4096L,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame = {
    val base =
      materialize(frame.withColumn("blk", expr(s"doc_id div $blkSize")))
    // phase 1: bounded local prefix sums, one group per (part, blk)
    val wLocal = Window.partitionBy(col(partCol), col("blk"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base
      .withColumn("local_cum", sum(col(weightCol)).over(wLocal))
    // phase 2: per-block totals -> cumulative offsets of earlier blocks
    val wOff = Window.partitionBy(col(partCol)).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col(partCol), col("blk"))
      .agg(sum(col(weightCol)).as("blk_total"))
      .withColumn("offset",
        coalesce(sum(col("blk_total")).over(wOff), lit(0L)))
      .select(col(partCol), col("blk"), col("offset"))
    local.join(broadcast(offsets), Seq(partCol, "blk"))
      .withColumn("cum", col("local_cum") + col("offset"))
      .drop("local_cum", "blk", "offset")
  }

  /** Global inclusive prefix sum + 1-based global rank over an ARBITRARY
    * total order, without a single-partition window — the scale path for
    * every "exact global cumsum/rank/ntile" contract (ABC Pareto curves,
    * RFM quintiles, decile gain tables): `repartitionByRange` on the
    * sort keys gives a parallel range exchange (the same exchange a
    * global orderBy would pay anyway), phase 1 runs bounded per-range
    * windows keyed by the physical partition id, and phase 2 broadcasts
    * one (total, count) row per range as the global offsets — the
    * [[twoPhasePrefixSum]] idea lifted from doc_id blocks to arbitrary
    * sort keys. The offsets window runs over `numParts` rows, never the
    * data.
    *
    * The input is materialized at the cut because range boundaries come
    * from sampling: a recompute could re-draw them mid-query (task
    * retry), and the partition id column must be pinned.
    *
    * Adds `cum` (inclusive running sum of `weightCol`) and `rnk`
    * (1-based global row number in the sort order). `sortCols` must be
    * a TOTAL order (include a tiebreak key).
    */
  def orderedPrefixSum(frame: DataFrame, sortCols: Seq[Column],
      weightCol: String, numParts: Int = 0,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame = {
    val n =
      if (numParts > 0) numParts
      else frame.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = materialize(
      frame.repartitionByRange(n, sortCols: _*)
        .withColumn("_pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
    val local = ranged
      .withColumn("_local_cum", sum(col(weightCol)).over(
        wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_local_rn", row_number().over(wLocal))
    // one row per range partition — the only unpartitioned window runs
    // over these <= numParts rows
    val wOff = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("_pid"))
      .agg(sum(col(weightCol)).as("_tot"), count(lit(1)).as("_cnt"))
      .withColumn("_off", coalesce(sum(col("_tot")).over(wOff), lit(0L)))
      .withColumn("_rnoff", coalesce(sum(col("_cnt")).over(wOff), lit(0L)))
      .select(col("_pid"), col("_off"), col("_rnoff"))
    local.join(broadcast(offsets), Seq("_pid"))
      .withColumn("cum", col("_local_cum") + col("_off"))
      .withColumn("rnk", col("_local_rn").cast("long") + col("_rnoff"))
      .drop("_pid", "_local_cum", "_local_rn", "_off", "_rnoff")
  }

  /** Rank-only variant of [[orderedPrefixSum]]: adds `rnk` (1-based
    * global row number in the sort order), no weight needed. */
  def orderedRank(frame: DataFrame, sortCols: Seq[Column],
      numParts: Int = 0,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame =
    orderedPrefixSum(frame.withColumn("_w1", lit(1L)), sortCols, "_w1",
      numParts, materialize).drop("_w1", "cum")

  /** Exact `ntile(k)` bucket from [[orderedPrefixSum]]'s global rank:
    * the first `n % k` buckets take `ceil(n/k)` rows, the rest
    * `floor(n/k)` — Spark's and DuckDB's NTILE contract, computed from
    * (rnk, n) without any global window. `nCol` must hold the total row
    * count (broadcast it alongside). */
  def ntileFromRank(rnk: Column, nCol: Column, k: Int): Column = {
    // integer floor-division on positive longs (exact below 2^53)
    def idiv(a: Column, b: Column) = floor(a / b).cast("long")
    val big = idiv(nCol + (k - 1), lit(k)) // ceil(n/k)
    val small = idiv(nCol, lit(k))
    val m = nCol % k // buckets that take `big` rows
    when(rnk <= m * big, idiv(rnk - 1, big) + 1)
      .otherwise(m + idiv(rnk - 1 - m * big, small) + 1)
  }
}
