package graft.sinks

import graft.models.ProducerEvent
import graft.sources.{InMemoryShardService, SubRecord}

/** Producer-side transport writing into a [[graft.sources.ShardService]]
  * stream — closes the loop with the `graft-kinesis` source so
  * produced == consumed is testable through the actual stream abstraction
  * (the reference's sink integration spec shape,
  * it/stream/KinesisSinkGraphStageIntegrationSpec.scala:23-44).
  *
  * Implements the two producer-side semantics the reference surfaces:
  *
  *  - '''partition-key routing''' (S12): records with the same
  *    partitionKey always land on the same shard (deterministic
  *    hash(key) % shards), preserving per-key order
  *    (reference README.md:669-672)
  *  - '''record aggregation''' (S13, KPL `AggregationEnabled`): up to
  *    `aggregationMaxCount` buffered payloads per shard pack into ONE
  *    wire record whose sub-records carry consecutive subSeqNo; the
  *    source's partition reader deaggregates them back
  *    (reference main/resources/reference.conf:57-92)
  */
final class ShardServiceAsyncClient(
    service: InMemoryShardService,
    aggregationMaxCount: Int = 1,
    /** KPL `AggregationMaxSize` (reference.conf:77-91, default 51200 B):
      * byte bound on one aggregated wire record — the buffer flushes
      * BEFORE a record that would push it past this bound, so a single
      * oversized record still ships alone (KPL's behavior). */
    aggregationMaxSize: Int = 51200) extends AsyncRecordClient {

  // route over OPEN shards only: after a reshard, writes go to children
  // (the closed parent rejects appends). One epoch snapshot per client —
  // a writer constructed mid-reshard routes consistently for its task.
  private val aggregator = new ShardAggregator[ProducerEvent](
    service.openShards().toIndexedSeq, aggregationMaxCount, aggregationMaxSize)

  /** Expose routing so the writer's per-shard rate cap keys its buckets
    * by the shard this key actually lands on. */
  override def targetShard(partitionKey: String): Option[String] =
    Some(this.synchronized(aggregator.shardOf(partitionKey)))

  override def put(event: ProducerEvent)(
      onComplete: Option[Throwable] => Unit): Unit = {
    // wire-size contribution: payload + partition-key bytes (the two
    // components a sub-record carries); UTF-8 bytes, not UTF-16 chars,
    // so multibyte keys count their encoded size
    val evBytes = event.data.length.toLong +
      event.partitionKey.getBytes("UTF-8").length
    this.synchronized {
      aggregator.add(event.partitionKey, evBytes, event)
      appendSealed()
    }
    onComplete(None)
  }

  private def appendSealed(): Unit =
    aggregator.drainSealed().foreach { batch =>
      // idempotent re-send drop: a task retry replays the partition in
      // the same order, so the aggregated wire record carries the same
      // composite key and the service drops it (only when every event
      // has a dedupId — mixed batches fall back to at-least-once).
      // Components are length-prefixed so ids containing the separator
      // can't collide: ["a|b"] -> "3:a|b" vs ["a","b"] -> "1:a|1:b".
      val buf = batch.items
      val key =
        if (buf.forall(_.dedupId.isDefined))
          Some(buf.flatMap(_.dedupId).map(id => s"${id.length}:$id")
            .mkString("|"))
        else None
      service.appendAssigned(batch.shard,
        buf.map(e => SubRecord(e.partitionKey, e.data)), key)
    }

  /** flushSync: drain every aggregation buffer (KinesisProducer.stop,
    * reference main/producer/KinesisProducer.scala:159-163). */
  override def close(): Unit = this.synchronized {
    aggregator.sealAll()
    appendSealed()
  }
}

object ShardServiceAsyncClient {
  /** Serializable factory resolving the target stream from the registry
    * (one client per partition writer). */
  final case class Factory(serviceId: String, aggregationMaxCount: Int = 1,
      aggregationMaxSize: Int = 51200)
      extends AsyncRecordClientFactory {
    override def create(): AsyncRecordClient =
      new ShardServiceAsyncClient(
        graft.sources.ShardServiceRegistry.get(serviceId)
          .asInstanceOf[InMemoryShardService],
        aggregationMaxCount, aggregationMaxSize)
  }

  /** Factory honoring the producer config's KPL-style aggregation block
    * (`aggregation-enabled` / `aggregation-max-count` /
    * `aggregation-max-size`, reference main/resources/reference.conf:57-92). */
  def factoryFor(conf: graft.config.ProducerConf, serviceId: String): Factory =
    Factory(serviceId,
      if (conf.aggregationEnabled) conf.aggregationMaxCount else 1,
      conf.aggregationMaxSize)
}
