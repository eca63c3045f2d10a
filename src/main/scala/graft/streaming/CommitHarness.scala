package graft.streaming

import graft.config.ConsumerConf
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import scala.util.control.NonFatal

/** The reference's batch state machine (ConsumerWorker, S3/S4/S8/S15 in
  * SURVEY.md §2.1) re-expressed for `foreachBatch`:
  *
  *  - every record is offered to the processor; per-record success is
  *    tracked (reference main/consumer/ConsumerWorker.scala:328-383)
  *  - failed records — and ONLY failed records — are retried, up to
  *    `failedMessageRetries` times (`:385-394`)
  *  - after retries, if failures <= floor(tolerance% x batchSize) the
  *    batch still succeeds: failed records are dead-lettered and the
  *    offset advances past them (`:396-407`; skip semantics `:368-374`,
  *    README.md:305-311)
  *  - above tolerance the batch throws — Structured Streaming fails the
  *    query without committing the offset range, the analogue of
  *    `ConsumerWorkerFailure` + KCL worker shutdown (`:408-414`,
  *    main/consumer/ConsumerProcessingManager.scala:113-121)
  *
  * The contiguous-ack watermark (ResponseCollector, `:259-276`) is
  * subsumed by Spark's atomic offset-range commit: a micro-batch commits
  * iff this harness returns, so the "all earlier records processed"
  * invariant holds by construction; the duplication window on crash is
  * one micro-batch (vs. up to `checkpointInterval` of acked work in the
  * reference — SURVEY.md §7.3.1).
  *
  * Everything here is distributed: per-record attempts run in
  * `mapPartitions` on executors, the retry loop on the driver only
  * orchestrates Dataset handles (no row ever reaches the driver). Each
  * round is one Spark job, and a round keeps only its failures: each
  * partition emits its failed records plus one row counting every record
  * it attempted, and the job that tallies those rows also fills the
  * round's local checkpoint. The next round scans only that checkpoint,
  * so a batch's succeeded records are never held; the last round's
  * checkpoint backs the dead-letter Dataset.
  */
object CommitHarness {

  final case class BatchStats(
      batchSize: Long,
      succeeded: Long,
      deadLettered: Long,
      attempts: Int)

  /** Raised when failures exceed tolerance — fails the streaming query
    * (at-least-once: the offset range is not committed). */
  final class BatchFailedException(
      val failed: Long, val allowed: Long, val batchSize: Long)
    extends RuntimeException(
      s"batch failed: $failed failures > tolerance $allowed of $batchSize")

  /** Process one (micro-)batch with retry-only-unacked + tolerance
    * semantics. `attempt` returns true/throws-or-false per record.
    * Returns (deadLetters, stats); throws [[BatchFailedException]] above
    * tolerance.
    */
  def processBatch[T: Encoder](
      batch: Dataset[T],
      attempt: T => Boolean,
      conf: ConsumerConf): (Dataset[T], BatchStats) = {
    val safe = (t: T) =>
      try attempt(t)
      catch { case NonFatal(_) => false }

    // a round's rows: a failed record (`failed`, its encoded `value`) or
    // a partition's count of attempted records (`n`); the explicit
    // `failed` column tells them apart for every T, primitives included
    val valueSchema = encoderFor(implicitly[Encoder[T]]).schema
    val roundSchema = StructType(Seq(
      StructField("failed", BooleanType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("value", valueSchema, nullable = true)))

    var total = 0L
    var pending = batch
    var toFree: Option[RDD[InternalRow]] = None
    var pendingCount = 0L
    var attemptsMade = 0
    val maxAttempts = conf.failedMessageRetries + 1
    // the first round always runs: its tally is also the batch size, so
    // the source is read once for both
    while (attemptsMade == 0 ||
        (pendingCount > 0 && attemptsMade < maxAttempts)) {
      val enc = GraftBridge.boundEncoder(implicitly[Encoder[T]], pending)
      // localCheckpoint severs lineage: the (side-effecting) processor is
      // invoked exactly once per record per round — a later action on the
      // dead-letter Dataset must not re-run user code (the reference's
      // ack bookkeeping is similarly write-once,
      // main/consumer/ConsumerWorker.scala:368-383). The tally job fills
      // the lazy checkpoint and cuts the lineage when it ends
      val round = pending.queryExecution.toRdd.mapPartitions { rows =>
        val decode = enc.createDeserializer()
        val encode = enc.createSerializer()
        var n = 0L
        rows.map { r => n += 1; decode(r) }
          .filterNot(safe)
          .map(t => InternalRow(true, 0L, encode(t).copy())) ++
          Iterator.single(InternalRow(false, n, null))
      }.localCheckpoint()
      val tally = round.sparkContext.runJob(round, (rows: Iterator[InternalRow]) => {
        var n, failed = 0L
        rows.foreach { r => if (r.getBoolean(0)) failed += 1 else n += r.getLong(1) }
        (n, failed)
      })
      if (attemptsMade == 0) total = tally.map(_._1).sum
      pendingCount = tally.map(_._2).sum
      // previous round's checkpoint blocks are no longer referenced once
      // this round's failures are checkpointed — free them now; the last
      // round backs the returned dead-letter Dataset and is freed by
      // freeDeadLetters (runStream does this after the dead-letter write)
      toFree.foreach(_.unpersist(blocking = false))
      toFree = Some(round)
      pending = GraftBridge.ofInternalRows(batch.sparkSession, round, roundSchema)
        .where(col("failed")).select("value.*").as[T]
      attemptsMade += 1
    }
    val allowed = conf.allowedFailures(total)
    if (pendingCount > allowed)
      throw new BatchFailedException(pendingCount, allowed, total)
    // an empty batch attempted nothing
    (pending, BatchStats(total, total - pendingCount, pendingCount,
      if (total == 0) 0 else attemptsMade))
  }

  /** Release the checkpoint storage behind the dead-letter Dataset
    * returned by [[processBatch]] (call after consuming it). */
  def freeDeadLetters(dead: Dataset[_]): Unit =
    GraftBridge.unpersistCheckpoint(dead)

  /** Wire the harness into a streaming query: per-batch retry/tolerance
    * processing with dead letters appended to a parquet path (the
    * `successful=false` skip path — offsets advance past dead letters,
    * they never block the stream).
    */
  def runStream[T: Encoder](
      stream: Dataset[T],
      attempt: T => Boolean,
      conf: ConsumerConf,
      deadLetterPath: Option[String],
      checkpointLocation: String): DataStreamWriter[T] = {
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (ds: Dataset[T], batchId: Long) =>
        val (dead, stats) = processBatch(ds, attempt, conf)
        if (stats.deadLettered > 0) deadLetterPath.foreach { p =>
          dead.write.mode("append").parquet(p)
        }
        freeDeadLetters(dead)
        ()
      }
  }
}
