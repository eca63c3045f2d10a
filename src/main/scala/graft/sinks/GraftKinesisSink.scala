package graft.sinks

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import graft.config.ProducerConf
import graft.models.ProducerEvent
import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import scala.collection.concurrent.TrieMap

/** Asynchronous record transport — the seam where a real Kinesis producer
  * (PutRecords / KPL) plugs in. `put` must be non-blocking; `onComplete`
  * is invoked from any thread when the write resolves.
  */
trait AsyncRecordClient extends Serializable {
  def put(event: ProducerEvent)(onComplete: Option[Throwable] => Unit): Unit
  def close(): Unit
  /** Ship anything buffered and fire its completions. A buffering
    * transport (PutRecords aggregation and collection) defers callbacks
    * until a request ships; the writer calls this before it blocks on a
    * full in-flight window and before commit() drains that window, or
    * either wait would be on acks only close() could produce.
    * Transports that ack at put() keep the no-op. */
  def flushPending(): Unit = ()
  /** Target shard this key routes to, when the transport knows its
    * routing (the in-process [[ShardServiceAsyncClient]] does; a raw
    * PutRecords transport may not). Drives the per-shard rate cap —
    * `None` degrades the cap to one shared bucket per writer. */
  def targetShard(partitionKey: String): Option[String] = None
}

/** Factory is what ships to executors (a client is created per partition
  * writer, like the reference's one KPL per producer actor,
  * reference main/producer/KinesisProducerActor.scala:95-101). */
trait AsyncRecordClientFactory extends Serializable {
  def create(): AsyncRecordClient
}

/** The reference's producer path (S9/S10/S11 in SURVEY.md §2.1)
  * re-expressed as a Spark sink writer:
  *
  *  - async submission with a bounded in-flight window
  *    (`maxOutstandingRequests`, default 1000 — reference
  *    main/stream/Kinesis.scala:192-202): `process` blocks once the
  *    window is full — the backpressure the sink graph stage applies by
  *    not pulling upstream (main/stream/KinesisSinkGraphStage.scala:100-105)
  *  - fail-fast: any failed write fails the task (and with it the batch /
  *    query), matching the stage failing on a single `SendFailed`
  *    (main/stream/KinesisSinkGraphStage.scala:138-143). Spark task retry
  *    implies at-least-once, documented like the reference (SURVEY.md §7.3.5)
  *  - `close` drains all outstanding acks before the task commits —
  *    `flushSync` semantics (main/producer/KinesisProducer.scala:159-163):
  *    "materialized future completes only when everything acked"
  *
  * No unthrottle hysteresis is needed: the semaphore window resumes
  * admission per-ack instead of batch-unstashing at 90%
  * (main/producer/KinesisProducerActor.scala:135-152) — a documented
  * simplification with equivalent throughput behavior (pinned by the
  * sustained-overload spec in GraftKinesisSinkSpec).
  *
  * Opt-in rate cap: producer option `rate-limit-per-shard` (records/s
  * per TARGET SHARD) engages [[ShardRateLimiters]] ahead of the in-flight
  * window — the reference's KPL `RateLimit` (reference.conf:283-301, a %
  * of the shard backend limit). Buckets key on the shard the record's
  * partition key routes to, so hot keys sharing a shard share its quota
  * while other shards proceed; see [[ShardRateLimiters]] for the
  * aggregate math across N writer tasks.
  */
final class GraftSinkWriter(
    factory: AsyncRecordClientFactory,
    conf: ProducerConf,
    keyColumn: String = "partitionKey",
    dataColumn: String = "data") extends ForeachWriter[Row] {

  @transient private var task: ProducerTask = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    task = new ProducerTask(factory, conf)
    true
  }

  override def process(row: Row): Unit = {
    // dedup ids must be non-null strings: a null would give every null-id
    // record the same dedup key (silent data loss at the transport), so
    // fail fast instead (same contract as the DSv2 path)
    val dedup = conf.idempotencyColumn.map { c =>
      row.getAs[Any](c) match {
        case s: String => s
        case null => throw new IllegalArgumentException(
          s"idempotency column '$c' is null; idempotent produce requires " +
            "a non-null string id per record")
        case other => throw new IllegalArgumentException(
          s"idempotency column '$c' must be a string; got " +
            other.getClass.getName)
      }
    }
    task.send(ProducerEvent(row.getAs[String](keyColumn),
      row.getAs[Array[Byte]](dataColumn), dedup))
  }

  override def close(errorOrNull: Throwable): Unit =
    if (task != null) {
      if (errorOrNull == null) task.commit() else task.abort()
    }
}

/** One writer task's producer core, shared by the ForeachWriter
  * ([[GraftSinkWriter]]) and DSv2
  * ([[GraftKinesisWriteSupport.GraftDataWriter]]) paths:
  *
  *  - `send` runs the KPL-style admission (rate cap or fail-if-throttled,
  *    in-flight window, record TTL) and submits asynchronously; the
  *    first failed ack fails the next call (fail-fast). With the window
  *    full it first ships the transport's buffers, whose records hold
  *    permits only a flush releases
  *  - `commit` ships buffered records, drains every outstanding ack,
  *    closes the client (flushSync) and fails if any write failed
  *  - `abort` DISCARDS: it must not close the client, because close
  *    flushes buffered aggregation records, and a failed attempt's
  *    buffered-but-unsent records are re-sent by the task retry.
  *    Flushing them here would land them twice, under a different
  *    composite dedup key than the retry's, even with an idempotency
  *    column. A real transport would destroy() without flushSync here.
  *
  * The ack callback is one function per task, not one per record.
  */
private[sinks] final class ProducerTask(factory: AsyncRecordClientFactory,
    conf: ProducerConf) {
  private val client = factory.create()
  private val window = new Semaphore(conf.maxOutstandingRequests)
  private val firstError = new AtomicReference[Throwable]()
  private val rateLimiter =
    conf.rateLimitPerShard.map(new ShardRateLimiters(_)).orNull
  private val onAck: Option[Throwable] => Unit = { result =>
    result.foreach(t => firstError.compareAndSet(null, t))
    window.release()
  }

  def send(ev: ProducerEvent): Unit = {
    failIfErrored()
    // a full window only drains as acks arrive, and a buffering
    // transport acks only what it ships: ship before blocking on it
    if (window.availablePermits() == 0) client.flushPending()
    ProducerAdmission.admit(conf, rateLimiter, window,
      client.targetShard(ev.partitionKey))
    client.put(ev)(onAck)
  }

  def commit(): Unit = {
    // a collection-buffering transport must ship its buffer (and fire
    // the acks) before the window drain below can complete
    client.flushPending()
    if (!window.tryAcquire(conf.maxOutstandingRequests,
        conf.drainTimeout.toMillis, TimeUnit.MILLISECONDS))
      throw new IllegalStateException(
        "sink commit timed out waiting for outstanding acks")
    client.close()
    failIfErrored()
  }

  def abort(): Unit = ()

  private def failIfErrored(): Unit = {
    val t = firstError.get()
    if (t != null && conf.failFast)
      throw new IllegalStateException(s"record write failed: ${t.getMessage}", t)
  }
}

object GraftKinesisSink {
  /** Batch-side variant: write a DataFrame(partitionKey, data) through the
    * same bounded-async path. */
  def writeBatch(df: DataFrame, factory: AsyncRecordClientFactory,
      conf: ProducerConf): Unit = {
    val writer = new GraftSinkWriter(factory, conf)
    df.foreachPartition { (it: Iterator[Row]) =>
      writer.open(0, 0)
      try {
        it.foreach(writer.process)
        writer.close(null)
      } catch { case t: Throwable => writer.close(t); throw t }
    }
  }
}

/** In-memory async client for tests: records appended under a registry
  * key; optional per-record artificial latency and failure injection;
  * tracks the in-flight high-water mark so specs can assert the bounded
  * window.
  */
object InMemoryAsyncClient {
  final case class Sent(partitionKey: String, payload: String)
  private val buffers = TrieMap.empty[String, ConcurrentLinkedQueue[Sent]]
  private val inFlight = TrieMap.empty[String, AtomicInteger]
  private val highWater = TrieMap.empty[String, AtomicInteger]

  def sent(key: String): Seq[Sent] = {
    val q = buffers.getOrElseUpdate(key, new ConcurrentLinkedQueue[Sent]())
    import scala.jdk.CollectionConverters._
    q.asScala.toSeq
  }
  def highWaterMark(key: String): Int =
    highWater.get(key).map(_.get()).getOrElse(0)
  def reset(key: String): Unit = {
    buffers.remove(key); inFlight.remove(key); highWater.remove(key)
  }

  final case class Factory(
      key: String,
      latencyMillis: Long = 0,
      failOnPayload: Option[String] = None) extends AsyncRecordClientFactory {
    override def create(): AsyncRecordClient = new AsyncRecordClient {
      private val pool = java.util.concurrent.Executors.newScheduledThreadPool(4)
      override def put(event: ProducerEvent)(
          onComplete: Option[Throwable] => Unit): Unit = {
        val fl = inFlight.getOrElseUpdate(key, new AtomicInteger())
        val hw = highWater.getOrElseUpdate(key, new AtomicInteger())
        val cur = fl.incrementAndGet()
        hw.accumulateAndGet(cur, math.max)
        val task = new Runnable {
          override def run(): Unit = {
            val payload = new String(event.data,
              java.nio.charset.StandardCharsets.UTF_8)
            val result =
              if (failOnPayload.contains(payload))
                Some(new RuntimeException(s"injected failure for $payload"))
              else {
                buffers.getOrElseUpdate(key,
                  new ConcurrentLinkedQueue[Sent]())
                  .add(Sent(event.partitionKey, payload))
                None
              }
            fl.decrementAndGet()
            onComplete(result)
          }
        }
        if (latencyMillis > 0)
          pool.schedule(task, latencyMillis, TimeUnit.MILLISECONDS)
        else task.run()
      }
      override def close(): Unit = {
        pool.shutdown()
        pool.awaitTermination(30, TimeUnit.SECONDS)
        ()
      }
    }
  }
}
