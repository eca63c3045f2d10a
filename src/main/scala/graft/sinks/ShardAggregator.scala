package graft.sinks

import graft.sources.KeyRouting
import scala.collection.mutable

/** KPL's per-target-shard aggregation buffers (`AggregationMaxCount` /
  * `AggregationMaxSize`, reference main/resources/reference.conf:57-92),
  * shared by both producer transports. A record routes with
  * [[graft.sources.KeyRouting]] over a shard snapshot into its shard's
  * buffer; the buffer seals BEFORE a record that would push it past
  * `maxBytes` (so one oversized record still ships alone, KPL's
  * behavior) and when it holds `maxCount` records. Sealed batches queue
  * in seal order until the transport takes them with [[drainSealed]]; each
  * transport keeps only its own shipping step.
  *
  * With an empty snapshot nothing routes and every record is its own
  * batch, under shard `""`. [[reroute]] swaps the snapshot and re-buckets
  * the buffered records in their order, so a key's records stay in one
  * buffer, in order, across the swap.
  */
final class ShardAggregator[A](snapshot: IndexedSeq[String], maxCount: Int,
    maxBytes: Long) {
  import ShardAggregator.Batch

  private final class Buffer {
    val items = mutable.ArrayBuffer.empty[(String, Long, A)]
    var bytes = 0L
  }

  private var shards = snapshot
  private val buffers = mutable.LinkedHashMap.empty[String, Buffer]
  private val sealedBatches = mutable.Queue.empty[Batch[A]]

  // one-entry route memo: a writer with the rate cap on resolves each
  // record's shard twice (targetShard for the limiter, then put)
  private var lastKey: String = _
  private var lastShard: String = _

  /** The shard `key` routes to over the current snapshot. */
  def shardOf(key: String): String = {
    if (key != lastKey) {
      lastKey = key
      lastShard = KeyRouting.shardFor(key, shards)
    }
    lastShard
  }

  def routing: IndexedSeq[String] = shards

  /** Buffer one record of `bytes` wire bytes under `key`. */
  def add(key: String, bytes: Long, item: A): Unit =
    if (shards.isEmpty) sealedBatches += Batch("", Vector(item))
    else {
      val shard = shardOf(key)
      val buf = buffers.getOrElseUpdate(shard, new Buffer)
      if (buf.items.nonEmpty && buf.bytes + bytes > maxBytes) seal(shard, buf)
      buf.items += ((key, bytes, item))
      buf.bytes += bytes
      if (buf.items.size >= maxCount) seal(shard, buf)
    }

  private def seal(shard: String, buf: Buffer): Unit = {
    sealedBatches += Batch(shard, buf.items.iterator.map(_._3).toVector)
    buf.items.clear()
    buf.bytes = 0L
  }

  /** Seal every non-empty buffer (flushSync). */
  def sealAll(): Unit =
    buffers.foreach { case (shard, buf) => if (buf.items.nonEmpty) seal(shard, buf) }

  /** Sealed batches, oldest first, each dequeued as it is taken — also
    * those sealed while the caller ships an earlier one. */
  def drainSealed(): Iterator[Batch[A]] =
    Iterator.continually(sealedBatches).takeWhile(_.nonEmpty).map(_.dequeue())

  /** Route over `to` from now on; buffered records re-bucket in order.
    * Batches already sealed keep the shard they were sealed for. */
  def reroute(to: IndexedSeq[String]): Unit = {
    val buffered = buffers.valuesIterator.flatMap(_.items).toVector
    buffers.clear()
    shards = to
    lastKey = null
    buffered.foreach { case (key, bytes, item) => add(key, bytes, item) }
  }

  /** Drop everything held, sealed or not, and return it. */
  def clear(): Vector[A] = {
    val held = sealedBatches.iterator.flatMap(_.items).toVector ++
      buffers.valuesIterator.flatMap(_.items.iterator.map(_._3))
    sealedBatches.clear()
    buffers.clear()
    held
  }
}

object ShardAggregator {
  /** Records sealed together for `shard` (`""`: no routing). */
  final case class Batch[A](shard: String, items: Vector[A])
}
