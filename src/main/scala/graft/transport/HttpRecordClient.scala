package graft.transport

import graft.models.ProducerEvent
import graft.sinks.{AsyncRecordClient, AsyncRecordClientFactory,
  ProducerThrottledException, RecordExpiredException, ShardAggregator}
import graft.sources.{KeyRouting, ShardServiceRegistry, SubRecord}
import scala.collection.mutable

/** PutRecords transport over the Kinesis-shaped wire — the producer
  * flush layer the KPL config rows were deferred on until a wire
  * transport existed (PARITY.md `collectionMaxCount`/`collectionMaxSize`;
  * reference main/resources/reference.conf:101,114):
  *
  *  - '''aggregation''' (KPL `AggregationEnabled`/`AggregationMaxCount`/
  *    `AggregationMaxSize`, reference.conf:57-92): records buffer per
  *    TARGET SHARD in a [[graft.sinks.ShardAggregator]], routed by
  *    [[graft.sources.KeyRouting]] over the `shards` snapshot. A sealed
  *    buffer becomes ONE collection entry through
  *    [[KinesisWire.encodeData]] (one record ships raw, several as a KPL
  *    container) keyed by its first sub-record's partition key. On an
  *    endpoint that routes by KeyRouting over the same open shards, every
  *    sub-record lands on its own key's shard. Otherwise the response
  *    shows it: an entry acked on another shard than it was sealed for
  *    (KPL's "Wrong Shard") re-lists the open shards and re-buckets what
  *    is buffered, and its records whose keys route elsewhere are
  *    resent, each under its own key, so they land on their key's shard
  *    and their later records follow them there. The stored copies
  *    stay: on a reshard during the write the sink is at-least-once, as
  *    KPL is, and a key whose records sat in two entries of one request
  *    can be reordered, as a partial-failure retry can reorder it. An
  *    endpoint that routes otherwise with no reshard (real Kinesis
  *    routes by MD5 hash ranges) turns aggregation off for the client
  *    after its first such response. With no snapshot every record is
  *    its own entry.
  *  - '''collection''' (KPL `CollectionMaxCount`/`CollectionMaxSize`):
  *    entries buffer until `collectionMaxCount` entries or an entry
  *    that would push the request past `collectionMaxSize` bytes, then
  *    ship as ONE PutRecords request
  *  - '''partial-failure retry''' (the KPL retry loop): a PutRecords
  *    response carrying per-entry `ErrorCode`s re-sends ONLY the failed
  *    entries, with the transport's exponential backoff, until an
  *    entry's age (its oldest record's) exceeds `recordTtl` (KPL
  *    `RecordTtl` → [[RecordExpiredException]]). With `failIfThrottled`
  *    (KPL `FailIfThrottled`) a throttled entry fails immediately via
  *    [[ProducerThrottledException]] instead of retrying.
  *
  * Per-record completion callbacks fire at flush with the outcome of
  * the entry that carried the record — the sink's ack-counting drain
  * (S11) works unchanged over the wire. `flushPending` seals every
  * aggregate and ships the collection; the sink calls it before it
  * would block on a full in-flight window, and at commit.
  */
final class HttpRecordClient(
    service: HttpShardService,
    collectionMaxCount: Int = 500,
    collectionMaxSize: Int = 5242880,
    recordTtlMs: Long = 30000L,
    failIfThrottled: Boolean = false,
    maxFlushRetries: Int = 8,
    backoffBaseMs: Long = 10L,
    sleeper: Long => Unit = Thread.sleep,
    clock: () => Long = System.currentTimeMillis,
    aggregationMaxCount: Int = 1,
    aggregationMaxSize: Int = 51200,
    shards: IndexedSeq[String] = IndexedSeq.empty) extends AsyncRecordClient {

  private final class Pending(val event: ProducerEvent,
      val onComplete: Option[Throwable] => Unit, val enqueuedAt: Long) {
    // WIRE bytes (UTF-8), not UTF-16 chars — a multibyte partition key
    // must count its encoded size toward the size bounds
    def wireBytes: Long = event.data.length.toLong +
      event.partitionKey.getBytes("UTF-8").length
  }

  /** One PutRecords entry and the user records it carries, sealed for
    * `shard` (`""`: no prediction). */
  private final class Entry(val key: String, val data: Array[Byte],
      val records: Vector[Pending], val shard: String) {
    def wireBytes: Long = data.length.toLong + key.getBytes("UTF-8").length
    def enqueuedAt: Long = records.head.enqueuedAt
    def complete(outcome: Option[Throwable]): Unit =
      records.foreach(_.onComplete(outcome))
  }

  private def entryOf(records: Vector[Pending], shard: String): Entry =
    new Entry(records.head.event.partitionKey,
      KinesisWire.encodeData(records.map(r =>
        SubRecord(r.event.partitionKey, r.event.data))), records, shard)

  private val aggregator = new ShardAggregator[Pending](shards,
    aggregationMaxCount, aggregationMaxSize)
  private val collection = mutable.ArrayBuffer.empty[Entry]
  private var collectionBytes = 0L

  override def put(event: ProducerEvent)(
      onComplete: Option[Throwable] => Unit): Unit = this.synchronized {
    val p = new Pending(event, onComplete, clock())
    guarded {
      aggregator.add(event.partitionKey, p.wireBytes, p)
      aggregator.drainSealed().foreach(b => collect(entryOf(b.items, b.shard)))
    }
  }

  /** A failed ship fails the write: every record still held, sealed or
    * buffered, completes with the error before the rethrow, or an
    * ack-counting drain (S11) would wait for callbacks that never come. */
  private def guarded(body: => Unit): Unit =
    try body
    catch { case e: Throwable =>
      aggregator.clear().foreach(_.onComplete(Some(e)))
      throw e
    }

  /** Add one entry to the collection, shipping it when full. */
  private def collect(entry: Entry): Unit = {
    if (collection.nonEmpty &&
        collectionBytes + entry.wireBytes > collectionMaxSize) {
      // request size bound: ship BEFORE overflowing; if that fails,
      // this entry was never attempted and completes here
      try flush()
      catch { case e: Throwable => entry.complete(Some(e)); throw e }
    }
    collection += entry
    collectionBytes += entry.wireBytes
    if (collection.size >= collectionMaxCount) flush()
  }

  private def isThrottle(code: String): Boolean =
    code.endsWith("ProvisionedThroughputExceededException") ||
      code.endsWith("ThrottlingException")

  private val WrongShard = "WrongShard"

  /** An entry that landed on another shard than it was sealed for. */
  private def wrongShard(e: Entry, landed: String): Boolean =
    e.shard.nonEmpty && e.shard != landed

  /** A wrong shard the CURRENT routing predicted means the routing is
    * stale: re-list the open shards (one ListShards listing). A changed
    * set is a reshard: route over it, buffered records included. An
    * unchanged set means the endpoint does not route by
    * [[graft.sources.KeyRouting]]: stop aggregating, so every later
    * record is its own entry under its own key. */
  private def refreshRouting(): Unit = {
    val fresh = service.openShards().toIndexedSeq
    aggregator.reroute(
      if (fresh.toSet == aggregator.routing.toSet) IndexedSeq.empty else fresh)
  }

  private def predictedNow(e: Entry): Boolean =
    aggregator.routing.nonEmpty &&
      KeyRouting.shardFor(e.key, aggregator.routing) == e.shard

  /** Whether `r`, carried by `e`, sits on its own key's shard now that
    * `e` landed on `landed`. */
  private def placed(r: Pending, e: Entry, landed: String): Boolean =
    r.event.partitionKey == e.key || (aggregator.routing.nonEmpty &&
      KeyRouting.shardFor(r.event.partitionKey, aggregator.routing) == landed)

  /** Ship the buffered collection; retry failed entries only. */
  private def flush(): Unit = {
    var pending = collection.toVector
    collection.clear()
    collectionBytes = 0L
    var attempt = 0
    while (pending.nonEmpty) {
      // a whole-request transport failure (retries exhausted in the
      // wire client, or a non-retryable 4xx) aborts the flush: every
      // still-pending record must complete with the error before the
      // rethrow, or an ack-counting drain (S11) would leak its window
      // permits and wait forever on callbacks that never fire
      val results =
        try {
          val r = service.putRecords(pending.map(e => (e.key, e.data)))
          if (pending.zip(r).exists {
                case (e, Right(landed)) => wrongShard(e, landed) && predictedNow(e)
                case _ => false
              }) refreshRouting()
          r
        } catch { case e: Throwable =>
          pending.foreach(_.complete(Some(e)))
          throw e
        }
      // producer-side counters (KPL CloudWatch vocabulary): acked user
      // records + their payload bytes and acked wire entries per landed
      // shard, per-record retries, per-entry error codes, and the
      // request count (collection efficiency)
      service.metrics.record("PutRecordsRequests", null, 1L)
      val failed = pending.zip(results).flatMap {
        case (e, Right(shardId)) =>
          // KPL "Wrong Shard": the entry is stored where it landed, but
          // records whose keys route elsewhere are resent, each under
          // its own key, which lands on its key's shard on any
          // endpoint. The stored copies stay (at-least-once).
          val (ok, misrouted) =
            if (!wrongShard(e, shardId)) (e.records, Vector.empty)
            else e.records.partition(placed(_, e, shardId))
          service.metrics.record("KinesisRecordsPut", shardId, 1L)
          service.metrics.record("UserRecordsPut", shardId, ok.size.toLong)
          service.metrics.record("UserRecordsDataPut", shardId,
            ok.iterator.map(_.event.data.length.toLong).sum)
          ok.foreach(_.onComplete(None))
          if (misrouted.nonEmpty) {
            service.metrics.record("RetriesPerRecord", null,
              misrouted.size.toLong)
            service.metrics.record(s"ErrorsByCode.$WrongShard", null, 1L)
          }
          misrouted.map(r => (entryOf(Vector(r), ""), WrongShard))
        case (e, Left(code)) =>
          service.metrics.record("RetriesPerRecord", null,
            e.records.size.toLong)
          service.metrics.record(s"ErrorsByCode.$code", null, 1L)
          Vector((e, code))
      }
      if (failed.isEmpty) return
      // KPL taxonomy: FailIfThrottled fast-fails THROTTLED entries
      // only; a transient non-throttle error (InternalFailure) is
      // retried regardless — misclassifying a 500 as throttling would
      // drop data one retry would have delivered.
      if (failIfThrottled && failed.exists(f => isThrottle(f._2))) {
        val throttled = failed.filter(f => isThrottle(f._2))
        val e = new ProducerThrottledException(
          s"${throttled.size} record(s) throttled " +
            s"(fail-if-throttled; first: ${throttled.head._2})")
        failed.foreach(_._1.complete(Some(e)))
        throw e
      }
      val now = clock()
      val (expired, alive) =
        failed.partition { case (e, _) => now - e.enqueuedAt >= recordTtlMs }
      expired.foreach { case (e, code) =>
        e.complete(Some(new RecordExpiredException(
          s"record expired after ${now - e.enqueuedAt} ms in the " +
            s"PutRecords retry loop (recordTtl=$recordTtlMs ms, " +
            s"last error $code)")))
      }
      // a wrong-shard resend alone is no failure: it neither counts
      // toward the retry budget nor backs off
      if (failed.exists(_._2 != WrongShard)) {
        attempt += 1
        if (attempt > maxFlushRetries) {
          val codes = alive.map(_._2).distinct.mkString(", ")
          val msg = s"PutRecords still failing ${alive.size} record(s) " +
            s"after $maxFlushRetries retries (codes: $codes)"
          val e: RuntimeException =
            if (alive.exists(f => isThrottle(f._2)))
              new ProducerThrottledException(msg)
            else new RuntimeException(msg)
          alive.foreach(_._1.complete(Some(e)))
          throw e
        }
        if (alive.nonEmpty) sleeper(backoffBaseMs << (attempt - 1))
      }
      pending = alive.map(_._1)
    }
  }

  /** Seal every aggregate and ship the collection now (the writer's
    * hook before it blocks on a full window, and before its drain). */
  override def flushPending(): Unit = this.synchronized {
    guarded {
      aggregator.sealAll()
      aggregator.drainSealed().foreach(b => collect(entryOf(b.items, b.shard)))
      flush()
    }
  }

  /** Drain (KinesisProducer.stop flushSync analogue, reference
    * main/producer/KinesisProducer.scala:159-163). */
  override def close(): Unit = flushPending()
}

object HttpRecordClient {
  /** Serializable factory: each partition writer reconstructs its own
    * HTTP client from the self-describing `http|endpoint|stream[|params]`
    * id (no JVM-local registry registration needed — the deployment
    * shape for a real cluster; params carry retry backoff and the
    * SigV4 signing block, see
    * [[graft.sources.ShardServiceRegistry.httpId]]). `openShards` is
    * the routing snapshot aggregation buckets by, taken once on the
    * driver; empty ships one entry per record. */
  final case class Factory(
      serviceId: String,
      collectionMaxCount: Int = 500,
      collectionMaxSize: Int = 5242880,
      recordTtlMs: Long = 30000L,
      failIfThrottled: Boolean = false,
      aggregationMaxCount: Int = 1,
      aggregationMaxSize: Int = 51200,
      openShards: Seq[String] = Nil) extends AsyncRecordClientFactory {
    override def create(): AsyncRecordClient =
      new HttpRecordClient(wireService(serviceId),
        collectionMaxCount, collectionMaxSize, recordTtlMs, failIfThrottled,
        aggregationMaxCount = aggregationMaxCount,
        aggregationMaxSize = aggregationMaxSize,
        shards = openShards.toIndexedSeq)
  }

  private def wireService(serviceId: String): HttpShardService =
    ShardServiceRegistry.get(serviceId) match {
      case h: HttpShardService => h
      case other => throw new IllegalStateException(
        // redacted: the raw id may carry SigV4 secrets in its params
        s"id ${ShardServiceRegistry.redactId(serviceId)} " +
          s"resolved to a non-wire service: $other")
    }

  /** Factory honoring the producer config's KPL collection block and,
    * when `aggregationEnabled`, its aggregation block — with the open
    * shards listed here, once per write, for every task to route by. */
  def factoryFor(conf: graft.config.ProducerConf,
      serviceId: String): Factory = {
    val collecting = Factory(serviceId, conf.collectionMaxCount,
      conf.collectionMaxSize, conf.recordTtl.toMillis, conf.failIfThrottled)
    if (!conf.aggregationEnabled) collecting
    else collecting.copy(aggregationMaxCount = conf.aggregationMaxCount,
      aggregationMaxSize = conf.aggregationMaxSize,
      openShards = wireService(serviceId).openShards())
  }
}
