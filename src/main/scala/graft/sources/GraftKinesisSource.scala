package graft.sources

import java.util
import graft.config.InitialPosition
import graft.models.Envelope
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 micro-batch source `graft-kinesis` — the Spark-native
  * re-expression of the reference's sharded consumer (S1/S2/S6 in
  * SURVEY.md §2.1: KinesisConsumer wrapping KCL Worker,
  * reference main/consumer/KinesisConsumer.scala:189-308, and the Akka
  * Streams facade main/stream/KinesisSourceGraphStage.scala:140-220).
  *
  * Architecture mapping:
  *  - shard leases / one record-processor per shard  →
  *    `planInputPartitions`: one [[InputPartition]] per shard range; the
  *    driver coordinates, no DynamoDB lease table. The driver's own
  *    per-shard calls (end offsets, LATEST / AT_TIMESTAMP positions) run
  *    concurrently too, one task per shard ([[ShardCalls]]), so a
  *    trigger over the wire pays about one shard's round trips, not the
  *    sum over all shards
  *  - per-shard ordered delivery → each partition reader emits its
  *    shard's records in `(seqNo, subSeqNo)` order
  *  - DynamoDB checkpoints (S5) → offset WAL at the query's
  *    checkpointLocation (per-shard positions serialized in
  *    [[GraftShardOffsets]])
  *  - `kcl.maxRecords` batch cap → [[SupportsAdmissionControl]] read
  *    limit (per-shard, per-trigger)
  *  - TRIM_HORIZON / LATEST / AT_TIMESTAMP initial positions
  *    (reference main/resources/reference.conf:469-477) → `initialOffset`;
  *    an existing checkpoint always wins (Structured Streaming restores
  *    the WAL before asking the source)
  *  - KPL deaggregation (S13) → sub-record expansion in the reader
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft-kinesis")
  *   .option("service.id", ShardServiceRegistry.register(svc))
  *   .option("initial-position", "TRIM_HORIZON")
  *   .option("max-records-per-shard", "10000")
  *   .option("shard-filter", "shard-0,shard-1") // optional static assign
  *   .load()
  * }}}
  * emits the canonical envelope schema (SURVEY.md §1.3).
  */
class GraftKinesisSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Envelope.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftKinesisTable(properties.asScala.toMap)
}

final class GraftKinesisTable(props: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"graft-kinesis(${props.getOrElse("service.id", "?")})"
  override def schema(): StructType = Envelope.schema
  // ACCEPT_ANY_SCHEMA: writes carry (partitionKey, data[, dedup id]) —
  // the producer-record shape, not the consumer envelope — and the
  // write builder validates the ordinals itself (the Kafka-connector
  // pattern for asymmetric read/write schemas)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftKinesisScanBuilder(props ++ options.asCaseSensitiveMap().asScala)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new graft.sinks.GraftKinesisWriteSupport.GraftWriteBuilder(info, props)
}

/** Column pruning (`SupportsPushDownRequiredColumns`): a query that never
  * touches `data` (e.g. per-shard counts) skips materializing payload
  * bytes in the reader — the decode path is the ingest hot path
  * (SURVEY.md §4 "worthwhile since payload decode is the hot path").
  *
  * Shard pruning (`SupportsPushDownFilters`): `shardId = x` / `shardId
  * IN (...)` predicates prune whole input partitions — a single-shard
  * backfill of a 1000-shard stream reads 1/1000th of the data (the
  * SURVEY §4 stretch item: partition pruning at the source). The
  * pushdown is exact (a kept shard's rows all satisfy the predicate),
  * so the filters are fully absorbed — no residual evaluation.
  *
  * Key-routing pruning (opt-in `key-routing-pruning=true`):
  * `partitionKey = k` / `partitionKey IN (...)` predicates prune to the
  * shards the producer's deterministic [[KeyRouting]] maps those keys
  * to — a point lookup on a 1000-shard stream reads ONE shard. Only
  * sound when every record reached the stream through the partition-key
  * router (as real Kinesis guarantees server-side via md5 hash ranges;
  * our in-memory service also exposes raw `append`, hence opt-in).
  * Unlike shardId pushdown this is shard-level, not row-level — other
  * keys share the shard — so the key filters stay residual and Spark
  * still evaluates them per row.
  *
  * NB: Spark applies V2 pushdown on the BATCH read path (snapshot /
  * backfill reads via `spark.read`); micro-batch streaming plans keep a
  * Project above the scan — an engine, not connector, limitation.
  */
final class GraftKinesisScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources.{EqualTo, In}

  private var required: StructType = Envelope.schema
  private var shardFilters: Array[Filter] = Array.empty
  private var keyFilters: Array[Filter] = Array.empty
  private val keyPruning =
    options.get("key-routing-pruning").exists(_.toBoolean)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushable, residual) = filters.partition {
      case EqualTo("shardId", _: String) => true
      case In("shardId", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    shardFilters = pushable
    if (keyPruning) keyFilters = residual.collect {
      case f @ EqualTo("partitionKey", _: String) => f
      case f @ In("partitionKey", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) => f
    }
    // key filters prune shards but other keys share a shard: residual
    residual
  }
  override def pushedFilters(): Array[Filter] = shardFilters ++ keyFilters

  private def filterValues(fs: Array[Filter]): Option[Set[String]] =
    if (fs.isEmpty) None
    else Some(fs.map {
      case EqualTo(_, v: String) => Set(v)
      case In(_, vs) => vs.collect { case s: String => s }.toSet
      case f => throw new IllegalStateException(s"unexpected pushed filter $f")
    }.reduce(_ intersect _))

  /** Shards admitted by the pushed filters (None = all). */
  private def allowedShards: Option[Set[String]] = filterValues(shardFilters)

  /** Partition keys the scan must cover (None = all keys). */
  private def allowedKeys: Option[Set[String]] = filterValues(keyFilters)

  override def build(): Scan =
    new GraftKinesisScan(options, required, allowedShards, allowedKeys)
}

final class GraftKinesisScan(options: Map[String, String],
    required: StructType,
    allowedShards: Option[Set[String]] = None,
    allowedKeys: Option[Set[String]] = None) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-kinesis [${required.fieldNames.mkString(",")}]" +
      allowedShards.fold("")(s => s" shards=${s.toSeq.sorted.mkString(",")}") +
      allowedKeys.fold("")(k => s" keys=${k.toSeq.sorted.mkString(",")}")
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new GraftKinesisMicroBatchStream(options, required)

  /** Bounded snapshot read of the stream (backfill/replay as a batch
    * table): every admitted shard from TRIM_HORIZON to the current
    * latest. Spark plans a scan more than once (physical planning, then
    * the copy `prepareForExecution` makes, each calling `toBatch` and
    * `planInputPartitions`), so the scan fixes its snapshot once: every
    * copy reads the same ranges, and the listing is paid once. */
  override lazy val toBatch: Batch = new Batch {
    private val serviceId = ShardServiceRegistry.resolveId(options)
    override def planInputPartitions(): Array[InputPartition] = partitions
    private lazy val partitions: Array[InputPartition] = {
      val service = ShardServiceRegistry.get(serviceId)
      // one listing answers the reshard check, the key routing and the
      // shard list (over the wire, each listing is a ListShards fold)
      val topology = service.shardTopology()
      // key-routing pruning is only sound while ONE routing epoch covers
      // the whole stream: after a split/merge, records in closed parents
      // (and in open shards written pre-reshard) were routed over a
      // different shard list, so the current mapping can't prune them.
      // Degrade to no key pruning the moment lineage metadata shows a
      // reshard ever happened. shardId pushdown stays exact regardless.
      val resharded = topology.exists(i => i.closed || i.parentIds.nonEmpty)
      // key-routed shards resolve against the UNSORTED open shards in
      // listing order (`openShards()`) — the exact IndexedSeq the
      // producer transport routed over; with no reshard, every listed
      // shard is open
      val keyShards: Option[Set[String]] =
        if (resharded) None
        else allowedKeys.map { keys =>
          val routed = topology.map(_.shardId).toIndexedSeq
          keys.map(k => KeyRouting.shardFor(k, routed))
        }
      // `shard-filter` option (static assignment) composes with pushdown
      val optFilter: Option[Set[String]] = options.get("shard-filter")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val shards = topology.map(_.shardId).sorted
        .filter(s => allowedShards.forall(_.contains(s)) &&
          optFilter.forall(_.contains(s)) &&
          keyShards.forall(_.contains(s)))
      // a snapshot plans once: the pool lives for this pass only
      val calls = new ShardCalls("graft-kinesis-scan")
      val ends = try calls(shards)(service.latestPosition)
        finally calls.close()
      ends.flatMap { case (s, to) =>
        if (ShardPos.ordering.lt(ShardPos.Beginning, to))
          Some(GraftShardInputPartition(serviceId, service.streamName, s,
            ShardPos.Beginning, to))
        else None
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftShardReaderFactory(required.fieldNames)
  }
}

/** Offset = last-consumed position per shard. JSON form (stable key
  * order): {"shard-0":"123:0","shard-1":"45:2"}. A drained closed shard
  * checkpoints as {"shard-0":"SHARD_END"} — KCL's SHARD_END lease state,
  * the token that later allows its WAL entry to be dropped cleanly when
  * the shard ages out of the listing.
  */
final case class GraftShardOffsets(positions: Map[String, ShardPos])
    extends Offset {
  override def json(): String =
    positions.toSeq.sortBy(_._1)
      .map { case (s, p) =>
        val pos =
          if (p == ShardPos.ShardEnd) "SHARD_END" else s"${p.seqNo}:${p.subSeqNo}"
        s""""${s}":"$pos""""
      }
      .mkString("{", ",", "}")
}

object GraftShardOffsets {
  private val Entry = """"([^"]+)":"(-?\d+):(-?\d+)"""".r
  private val EndEntry = """"([^"]+)":"SHARD_END"""".r

  /** Strict parse: a corrupted or foreign checkpoint must fail loudly —
    * silently dropping an entry would restart that shard at Beginning and
    * mass-duplicate. Every comma-separated entry must match the offset
    * grammar exactly.
    */
  def fromJson(json: String): GraftShardOffsets = {
    val t = json.trim
    if (!t.startsWith("{") || !t.endsWith("}"))
      throw new IllegalArgumentException(s"malformed shard-offset JSON: $json")
    val body = t.substring(1, t.length - 1).trim
    if (body.isEmpty) GraftShardOffsets(Map.empty)
    else GraftShardOffsets(body.split(",", -1).map { e =>
      e.trim match {
        case Entry(shard, seq, sub) =>
          shard -> ShardPos(BigInt(seq), sub.toLong)
        case EndEntry(shard) => shard -> ShardPos.ShardEnd
        case other => throw new IllegalArgumentException(
          s"unparseable shard-offset entry '$other' in: $json")
      }
    }.toMap)
  }
}

/** Runs the per-shard [[ShardService]] calls of one driver pass
  * concurrently — the shard-parallel shape of the consumer, applied to
  * offset resolution: on the wire every call is a round trip, so a
  * serial pass would cost O(shards x RTT) per trigger.
  *
  * The pool is created on first use, holds at most one thread per shard
  * of the largest pass, lets idle threads lapse and is shut down by
  * `close()`. It adds no concurrency bound of its own: in-flight wire
  * requests stay capped by the service's connection window
  * (`max-connections` in [[graft.transport.HttpShardService]]). A pass
  * over one shard runs on the calling thread.
  *
  * Failure and interrupt semantics match a serial `shards.map(f)`: the
  * first failure is rethrown as thrown (not wrapped) and the remaining
  * calls are cancelled; an interrupt of the calling thread (a query
  * stop) cancels the pass and does not wait for it.
  */
private[sources] final class ShardCalls(name: String) {
  import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
    LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

  private var pool: ThreadPoolExecutor = _

  private def poolFor(n: Int): ThreadPoolExecutor = synchronized {
    if (pool == null) {
      val threads = new java.util.concurrent.atomic.AtomicInteger(0)
      pool = new ThreadPoolExecutor(n, n, 30L, TimeUnit.SECONDS,
        new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
          val t = new Thread(r, s"$name-${threads.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      pool.allowCoreThreadTimeOut(true)
    } else if (pool.getMaximumPoolSize < n) {
      // a reshard grew the listing: widen max before core (core > max
      // is rejected)
      pool.setMaximumPoolSize(n)
      pool.setCorePoolSize(n)
    }
    pool
  }

  /** `f` applied to every shard, paired with its shard, in shard order. */
  def apply[A](shards: Seq[String])(f: String => A): Seq[(String, A)] =
    if (shards.size <= 1) shards.map(s => s -> f(s))
    else {
      val done = new ExecutorCompletionService[A](poolFor(shards.size))
      val calls = shards.map(s => done.submit(() => f(s)))
      try {
        // completion order: the first failure surfaces without waiting
        // for slower shards
        shards.foreach { _ =>
          try done.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        }
        shards.zip(calls.map(_.get()))
      } finally calls.foreach(_.cancel(true))
    }

  def close(): Unit = synchronized {
    if (pool != null) pool.shutdownNow()
    pool = null
  }
}

final class GraftKinesisMicroBatchStream(options: Map[String, String],
    required: StructType = Envelope.schema)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: end positions frozen at query start; batches
  // keep draining (respecting the admission cap) until they reach them
  @volatile private var availableNowEnd: Option[Map[String, ShardPos]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(shardCalls(listAssigned())(service.latestPosition).toMap)

  /** The lag report, which Spark feeds to progress only
    * (`SourceProgress.latestOffset`): the last pass's shards, each at the
    * tip its read-ahead reached. Only a shard the pass did not see to the
    * tip (capped below its backlog, gated, drained) asks LATEST. */
  override def reportLatestOffset(): Offset = {
    val (seen, unseen) = passTips.partition(_._2.isDefined)
    GraftShardOffsets(seen.collect { case (s, Some(tip)) => s -> tip } ++
      shardCalls(unseen.keys.toSeq)(service.latestPosition))
  }

  // shard -> its tip, if the last latestOffset pass reached it
  @volatile private var passTips = Map.empty[String, Option[ShardPos]]

  private val serviceId = ShardServiceRegistry.resolveId(options)
  @transient private lazy val service = ShardServiceRegistry.get(serviceId)
  private val shardCalls = new ShardCalls("graft-kinesis-offsets")
  private val maxRecordsPerShard =
    options.getOrElse("max-records-per-shard", "10000").toInt
  private val initialPosition = InitialPosition.parse(
    options.getOrElse("initial-position", "TRIM_HORIZON"))

  /** Imported per-shard starting positions (round-10 verdict item 6 —
    * the KCL-checkpoint migration path): the option value is the
    * engine's own offset-WAL grammar ({"shard":"seq:sub",...}),
    * typically produced by [[graft.ImportKclCheckpoints]] from a
    * DynamoDB lease-table export of the reference's `<app>-<stream>`
    * table (reference main/consumer/KinesisConsumer.scala:71-74).
    * Listed shards resume AFTER their checkpoint; unlisted shards
    * (e.g. post-migration splits) fall back to `initial-position`,
    * exactly as KCL treats a shard with no lease. Strict parse: a
    * corrupt import must fail the query, not silently reprocess. */
  private val initialPositions: Map[String, ShardPos] =
    options.get("initial-positions")
      .map(GraftShardOffsets.fromJson(_).positions)
      .getOrElse(Map.empty)

  /** Shard-discovery cadence decoupling (KCL `shardSyncIntervalMillis`,
    * reference main/resources/reference.conf; round-9 verdict item 4):
    * with the default 0 every trigger lists once — discovery runs every
    * trigger, and one listing serves the trigger's whole `latestOffset`
    * pass and its lag report (the wire client would otherwise pay a full
    * ListShards per `shardInfo` call). The listing taken at query start
    * for the read limit and the initial offset serves the first pass.
    * With an interval set, the cached topology serves every trigger
    * until it ages out, so ~N/k triggers share one listing; it is
    * invalidated early the moment a known-closed shard drains to
    * SHARD_END (children must be discovered promptly, KCL lease-sync
    * semantics), and a WAL shard missing from a cached listing forces
    * one re-sync before the data-loss verdict (a stale cache must
    * never fail a healthy query).
    */
  private val shardSyncIntervalMs =
    options.getOrElse("shard-sync-interval-millis", "0").toLong

  private final class Topology(val infos: Seq[ShardInfo],
      val fetchedAt: Long) {
    val shards: Seq[String] = infos.map(_.shardId)
    val byId: Map[String, ShardInfo] =
      infos.map(i => i.shardId -> i).toMap
    def info(id: String): ShardInfo =
      byId.getOrElse(id, ShardInfo(id, Nil, closed = false))
    @volatile var served = false // a latestOffset pass has read it
  }
  @volatile private var cachedTopo: Topology = _

  private def syncTopology(): Topology = {
    val t = new Topology(service.shardTopology(), System.currentTimeMillis())
    cachedTopo = t
    t
  }
  // calls outside a latestOffset pass reuse the cached listing
  private def topology(): Topology = {
    val t = cachedTopo
    if (t == null) syncTopology() else t
  }
  private def invalidateTopology(): Unit = cachedTopo = null

  /** Static shard assignment (`shard-filter=shard-0,shard-1`): the query
    * consumes exactly the listed shards — the Kafka `assign` pattern,
    * and the connector-level answer to V2 filter pushdown not reaching
    * micro-batch scans. Two queries on disjoint assignments split one
    * stream with no record read twice (the reference's multi-worker
    * lease partitioning, made static). Like Kafka assign, the list does
    * NOT follow resharding: a child of an assigned shard must itself be
    * assigned; parent-before-child gating applies only WITHIN the
    * assignment (a parent owned by another query is that query's
    * ordering responsibility). */
  private val assignedShards: Option[Set[String]] =
    options.get("shard-filter").map(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  private def admitted(s: String): Boolean =
    assignedShards.forall(_.contains(s))
  private def listAssigned(): Seq[String] =
    topology().shards.filter(admitted)

  override def initialOffset(): Offset =
    GraftShardOffsets(shardCalls(listAssigned()) { s =>
      initialPositions.getOrElse(s, initialPosition match {
        case InitialPosition.TrimHorizon => ShardPos.Beginning
        case InitialPosition.Latest => service.latestPosition(s)
        case InitialPosition.AtTimestamp(ms) =>
          service.positionAtTimestamp(s, ms * 1000L)
      })
    }.toMap)

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(
      maxRecordsPerShard.toLong * math.max(listAssigned().size, 1))

  /** Per-shard wire-record cap for an engine-requested limit: None means
    * unbounded (Trigger.Once / ReadAllAvailable must drain everything).
    * ReadMaxRows is a total — distributed evenly across shards
    * (aggregated sub-records may overshoot by an aggregate's width,
    * like KCL's maxRecords which also counts wire records).
    */
  private def perShardCap(limit: ReadLimit, nShards: Int): Option[Int] =
    limit match {
      case _: ReadAllAvailable => None
      case r: ReadMaxRows =>
        val n = math.max(nShards, 1)
        Some(math.max(1, math.ceil(r.maxRows().toDouble / n).toInt))
      case c: CompositeReadLimit =>
        val caps = c.getReadLimits.flatMap(l => perShardCap(l, nShards))
        if (caps.isEmpty) None else Some(caps.min)
      case _ => Some(maxRecordsPerShard)
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is used")

  /** Resharding lineage (KCL parent-before-child, reference
    * it/consumer/ConsumerProcessingManagerIntegrationSpec.scala:33-69:
    * a child shard's lease is only worked after the parent checkpoints
    * SHARD_END): a parent is drained once it is closed AND the restored
    * offset has consumed it to its current end.
    */
  private def parentDrained(from: Map[String, ShardPos],
      topo: Topology, pid: String): Boolean = {
    // a parent that already aged out of the listing is drained by
    // definition: its records are gone, nothing can be ordered after it
    // (the data-loss check in latestOffset has vetted the expiry)
    if (!topo.byId.contains(pid)) return true
    topo.info(pid).closed && ShardPos.ordering.gteq(
      from.getOrElse(pid, ShardPos.Beginning), service.latestPosition(pid))
  }

  private val failOnDataLoss =
    options.getOrElse("fail-on-data-loss", "true").toBoolean

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftShardOffsets].positions
    def lostIn(t: Topology): Set[String] =
      (from.keySet -- t.byId.keySet)
        .filter(v => from(v) != ShardPos.ShardEnd)
    // ONE topology snapshot per trigger (or per sync interval): shard
    // discovery, the data-loss check, lineage gating and closed markers
    // all read the same consistent view. A CACHED listing must never
    // produce the data-loss verdict: re-sync once and re-check first.
    val topo = {
      val c = cachedTopo
      val t = if (c == null || lostIn(c).nonEmpty || (c.served &&
          System.currentTimeMillis() - c.fetchedAt >= shardSyncIntervalMs))
        syncTopology() else c
      t.served = true
      t
    }
    // retention expiry: a shard the WAL tracks but the listing no longer
    // contains. Only a SHARD_END entry (drained before it aged out) may
    // drop silently; anything else is unread data that no longer exists —
    // fail loudly (Kafka-source failOnDataLoss semantics; opt out with
    // fail-on-data-loss=false for conscious lossy catch-up).
    val lost = lostIn(topo)
    if (lost.nonEmpty) {
      val msg = s"shards ${lost.toSeq.sorted.mkString(", ")} disappeared " +
        "from the stream listing with unconsumed WAL positions — records " +
        "expired before they were read (data loss). Set " +
        "fail-on-data-loss=false to drop them and continue."
      if (failOnDataLoss) throw new IllegalStateException(msg)
      else System.err.println(s"[graft-kinesis] WARN: $msg")
    }
    // the data-loss and parent-drained checks consult the FULL listing:
    // a shard outside this query's assignment is not lost, just foreign
    val shards = topo.shards.filter(admitted)
    val cap = perShardCap(limit, shards.size)
    val ends = shardCalls(shards)(s => endOf(s, from, topo, cap))
    // a shard just drained to SHARD_END: its children must be
    // discovered promptly (KCL creates child leases at parent
    // SHARD_END), so the cached topology dies early instead of waiting
    // out the sync interval
    if (ends.exists { case (s, (end, _)) => end == ShardPos.ShardEnd &&
        !from.get(s).contains(ShardPos.ShardEnd) }) invalidateTopology()
    passTips = ends.map { case (s, (_, tip)) => s -> tip }.toMap
    GraftShardOffsets(ends.map { case (s, (end, _)) => s -> end }.toMap)
  }

  /** One shard's end offset for this trigger, and the shard's tip when
    * the pass reached it. Reads only the start offset `from` and the
    * pass's topology, so shards resolve independently of each other. */
  private def endOf(s: String, from: Map[String, ShardPos], topo: Topology,
      cap: Option[Int]): (ShardPos, Option[ShardPos]) = {
    val f = from.getOrElse(s, ShardPos.Beginning)
    // parent-before-child: a child advances only when every parent was
    // already drained in the START offset. Gating on the start (not
    // this trigger's end) matters — partitions within one micro-batch
    // run in parallel with no cross-partition ordering, so the child
    // may begin at the earliest one batch after its parents finish.
    val gated = topo.info(s).parentIds
      .exists(p => admitted(p) && !parentDrained(from, topo, p))
    if (gated || f == ShardPos.ShardEnd) (f, None) else {
      def ahead: (ShardPos, Option[ShardPos]) = cap match {
        case Some(c) =>
          val (p, atTip) = service.positionAfterAtTip(s, f, c)
          (p, Option.when(atTip)(p))
        case None => val p = service.latestPosition(s); (p, Some(p))
      }
      // under AvailableNow, never read past the frozen end positions; a
      // shard discovered after the freeze has no frozen end and is
      // skipped entirely (AvailableNow: only data available at start)
      val (next, tip) = availableNowEnd match {
        case Some(frozen) => frozen.get(s) match {
          case Some(end) =>
            val (n, t) = ahead
            (if (ShardPos.ordering.gt(n, end)) end else n, t)
          case None => (f, None)
        }
        case None => ahead
      }
      // a CLOSED shard admitted through its final record checkpoints as
      // SHARD_END (KCL lease semantics): closed shards reject writes, so
      // latestPosition is its final end — the token that later lets the
      // WAL entry drop cleanly once the shard ages out of the listing
      val drained = topo.info(s).closed &&
        ShardPos.ordering.gteq(next, tip.getOrElse(service.latestPosition(s)))
      (if (drained) ShardPos.ShardEnd else next, tip)
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftShardOffsets.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GraftShardOffsets].positions
    val e = end.asInstanceOf[GraftShardOffsets].positions
    e.toSeq.sortBy(_._1).flatMap { case (shard, to) =>
      val fromPos = s.getOrElse(shard, ShardPos.Beginning)
      if (ShardPos.ordering.lt(fromPos, to))
        Some(GraftShardInputPartition(serviceId, service.streamName, shard,
          fromPos, to))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftShardReaderFactory(required.fieldNames)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = shardCalls.close()
}

final case class GraftShardInputPartition(
    serviceId: String,
    streamName: String,
    shardId: String,
    from: ShardPos,
    to: ShardPos) extends InputPartition

final class GraftShardReaderFactory(fieldNames: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftShardInputPartition]
    new GraftShardPartitionReader(p, fieldNames)
  }
}

/** Reads one shard range, deaggregating producer-aggregated records into
  * sub-records (consecutive subSeqNo) — the KCL `UserRecord` semantics
  * (S13). Emits envelope rows in per-shard order.
  *
  * One row is reused for every sub-record: the scan's `UnsafeProjection`
  * copies each row out before `next()` is called again. Only the fields
  * of the pruned schema are set (notably, unread payload bytes are never
  * touched); the stream and shard names are encoded once per reader and
  * the sequence number once per wire record.
  */
final class GraftShardPartitionReader(p: GraftShardInputPartition,
    fieldNames: Array[String]) extends PartitionReader[InternalRow] {
  import GraftShardPartitionReader._

  private val service = ShardServiceRegistry.get(p.serviceId)
  private val raw = service.read(p.shardId, p.from, p.to)
  private val fields: Array[Int] = fieldNames.map {
    case "streamName" => StreamName
    case "shardId" => ShardId
    case "partitionKey" => PartitionKey
    case "seqNo" => SeqNo
    case "subSeqNo" => SubSeqNo
    case "data" => Data
    case "approxArrivalTs" => ArrivalTs
    case other => throw new IllegalArgumentException(
      s"unknown envelope field: $other")
  }
  private val row = new GenericInternalRow(fields.length)
  private val streamName = UTF8String.fromString(p.streamName)
  private val shardId = UTF8String.fromString(p.shardId)
  private val needsSeqNo = fields.contains(SeqNo)

  // the wire record being expanded, its next sub-record and that one's
  // index (its subSeqNo)
  private var rec: RawShardRecord = _
  private var subs: Iterator[SubRecord] = Iterator.empty
  private var subSeqNo = 0L
  private var seqNo: Decimal = _

  override def next(): Boolean = {
    while (!subs.hasNext) {
      if (!raw.hasNext) return false
      rec = raw.next()
      if (needsSeqNo) seqNo = Decimal(scala.math.BigDecimal(rec.seqNo), 38, 0)
      // resume mid-aggregate: skip sub-records at/before the from position
      val skip =
        if (rec.seqNo != p.from.seqNo) 0
        else (math.min(p.from.subSeqNo, Int.MaxValue - 1L) + 1L).max(0L).toInt
      subs = rec.subRecords.iterator.drop(skip)
      subSeqNo = skip.toLong
    }
    val sub = subs.next()
    var i = 0
    while (i < fields.length) {
      fields(i) match {
        case StreamName => row.update(i, streamName)
        case ShardId => row.update(i, shardId)
        case PartitionKey => row.update(i, UTF8String.fromString(sub.partitionKey))
        case SeqNo => row.update(i, seqNo)
        case SubSeqNo => row.setLong(i, subSeqNo)
        case Data => row.update(i, sub.data)
        case ArrivalTs => row.setLong(i, rec.arrivalEpochMicros)
      }
      i += 1
    }
    subSeqNo += 1
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

object GraftShardPartitionReader {
  private final val StreamName = 0
  private final val ShardId = 1
  private final val PartitionKey = 2
  private final val SeqNo = 3
  private final val SubSeqNo = 4
  private final val Data = 5
  private final val ArrivalTs = 6
}
