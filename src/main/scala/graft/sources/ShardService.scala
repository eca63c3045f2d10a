package graft.sources

import scala.collection.concurrent.TrieMap

/** Position within a shard: identity of the last-consumed record.
  * Numeric `(BigInt seq, Long sub)` ordering — see
  * [[graft.models.CompoundSequenceNumber]] for why numeric (the reference's
  * string-concat comparison hazard, reference
  * main/models/ConsumerEvent.scala:29-39).
  */
final case class ShardPos(seqNo: BigInt, subSeqNo: Long)

object ShardPos {
  implicit val ordering: Ordering[ShardPos] =
    Ordering.by(p => (p.seqNo, p.subSeqNo))
  /** Below every real position (TRIM_HORIZON start). */
  val Beginning: ShardPos = ShardPos(BigInt(-1), Long.MaxValue)
  /** KCL's SHARD_END checkpoint: recorded in the offset WAL once a CLOSED
    * shard has been drained to its final record. Orders above every real
    * position (Kinesis sequence numbers are 128-bit, so 2^160 is safely
    * beyond), which keeps the parent-before-child drain comparison and
    * range reads working unchanged. Its presence is what lets the source
    * distinguish "this shard aged out after we finished it" (drop the WAL
    * entry cleanly) from "this shard vanished with unread data" (fail
    * loudly) — the same contract KCL's lease cleanup enforces by only
    * deleting SHARD_END leases.
    */
  val ShardEnd: ShardPos = ShardPos(BigInt(2).pow(160), 0L)
}

/** One user record inside a (possibly aggregated) wire record. Each
  * sub-record keeps its own partition key, as KPL aggregation does —
  * plus the optional explicit hash key (shard routing override a
  * downstream KCL consumer may rely on) and the record tags the KPL
  * `AggregatedRecord` format carries (tag value is optional in the
  * protobuf, hence `Option`).
  */
final case class SubRecord(partitionKey: String, data: Array[Byte],
    explicitHashKey: Option[String] = None,
    tags: Seq[(String, Option[String])] = Nil)

/** One wire-level record as fetched from a shard. `subRecords.size > 1`
  * models a producer-aggregated record (KPL aggregation, reference
  * main/resources/reference.conf:57-92): the partition reader deaggregates
  * into sub-records with consecutive `subSeqNo`, mirroring KCL's
  * `UserRecord` handling (reference
  * main/consumer/ConsumerProcessingManager.scala:82-89).
  */
final case class RawShardRecord(
    partitionKey: String,
    seqNo: BigInt,
    arrivalEpochMicros: Long,
    subRecords: Seq[SubRecord])

object RawShardRecord {
  /** Non-aggregated record: one payload, record-level key. */
  def single(partitionKey: String, seqNo: BigInt, arrivalEpochMicros: Long,
      data: Array[Byte]): RawShardRecord =
    RawShardRecord(partitionKey, seqNo, arrivalEpochMicros,
      Seq(SubRecord(partitionKey, data)))
}

/** Deterministic partition-key → shard routing, shared by the producer
  * transport (write side) and the scan's key-based shard pruning (read
  * side). Must stay a single definition: pruning is only sound because
  * both sides compute the identical mapping over the identical shard
  * list order (the analogue of Kinesis' server-side md5 hash-range
  * routing, reference README.md:669-672).
  */
object KeyRouting {
  def shardFor(partitionKey: String, shards: IndexedSeq[String]): String =
    shards(math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(partitionKey), shards.size))
}

/** Shard lineage + lifecycle, the resharding metadata a real ListShards
  * response carries (ParentShardId/AdjacentParentShardId + an ending
  * sequence number on closed shards). A split closes the parent and
  * opens children with `parentIds = Seq(parent)`; a merge closes both
  * parents and opens one child with both in `parentIds`.
  */
final case class ShardInfo(
    shardId: String,
    parentIds: Seq[String],
    closed: Boolean)

/** Pluggable shard transport — the seam where a real Kinesis client
  * (ListShards/GetShardIterator/GetRecords) plugs in. Implementations
  * must be cheap to construct per partition-reader from options; the
  * in-memory implementation below backs tests and local replay.
  */
trait ShardService extends Serializable {
  def streamName: String
  def listShards(): Seq[String]
  /** Lineage/lifecycle for one shard. Default: open, no parents — a
    * service that never reshards needs nothing else. */
  def shardInfo(shardId: String): ShardInfo =
    ShardInfo(shardId, Nil, closed = false)
  /** Shards currently accepting writes — the producer's routing domain
    * (closed parents stay in `listShards()` for readers, as Kinesis
    * keeps closed shards listed until retention expiry). */
  def openShards(): Seq[String] =
    shardTopology().filterNot(_.closed).map(_.shardId)
  /** Full topology in listing order — override where one bulk call is
    * cheaper than per-shard lookups (the wire client's ListShards
    * already carries lineage + closed markers for every shard, so the
    * default N+1 pattern would pay N+1 full listings there). */
  def shardTopology(): Seq[ShardInfo] = listShards().map(shardInfo)
  /** Position of the last record currently in the shard (LATEST). */
  def latestPosition(shardId: String): ShardPos
  /** Position just before the first record with arrival >= tsMicros. */
  def positionAtTimestamp(shardId: String, tsMicros: Long): ShardPos
  /** Last position reachable from `from` consuming at most `maxRecords`
    * wire records (per-shard admission control, reference `kcl.maxRecords`
    * main/resources/reference.conf:479-482). */
  def positionAfter(shardId: String, from: ShardPos, maxRecords: Int): ShardPos
  /** [[positionAfter]], and whether the read-ahead saw that position is
    * the shard's latest (then the caller need not ask [[latestPosition]]
    * too). The default never knows. */
  def positionAfterAtTip(shardId: String, from: ShardPos,
      maxRecords: Int): (ShardPos, Boolean) =
    (positionAfter(shardId, from, maxRecords), false)
  /** Ordered records with position in (from, to]. */
  def read(shardId: String, from: ShardPos, to: ShardPos)
      : Iterator[RawShardRecord]
}

/** In-memory shard store: deterministic test/replay twin of a Kinesis
  * stream (localstack analogue of the reference's integration suite,
  * reference it/common/KinesisSuite.scala:147-303). Thread-safe appends;
  * per-shard order preserved.
  */
final class InMemoryShardService(
    override val streamName: String,
    initialShards: Seq[String]) extends ShardService {

  // shard catalog is mutable: split/merge add children and close parents.
  // `order` preserves creation order — it IS the routing epoch the
  // producer transport hashes over, so it must be deterministic.
  private val order = scala.collection.mutable.ArrayBuffer.empty[String]
  private val shards =
    TrieMap.empty[String, scala.collection.mutable.ArrayBuffer[RawShardRecord]]
  private val seenKeys =
    TrieMap.empty[String, scala.collection.mutable.Set[String]]
  private val infos = TrieMap.empty[String, ShardInfo]

  private def addShard(id: String, parents: Seq[String]): Unit = {
    require(!shards.contains(id), s"shard $id already exists")
    order += id
    shards.put(id, scala.collection.mutable.ArrayBuffer.empty[RawShardRecord])
    seenKeys.put(id, scala.collection.mutable.Set.empty[String])
    infos.put(id, ShardInfo(id, parents, closed = false))
  }
  initialShards.foreach(addShard(_, Nil))

  override def shardInfo(shardId: String): ShardInfo = infos(shardId)

  /** Split: close the parent (no further writes) and open children that
    * must not be consumed past the parent's drain point — the Kinesis
    * SplitShard lifecycle (reference
    * it/consumer/ConsumerProcessingManagerIntegrationSpec.scala:33-69
    * inherits the ordering via KCL lease handover).
    */
  def split(parentId: String, childIds: Seq[String]): Unit = synchronized {
    require(childIds.nonEmpty, "split needs at least one child")
    closeShard(parentId)
    childIds.foreach(addShard(_, Seq(parentId)))
  }

  /** Merge: close both parents, open one child carrying both lineages —
    * the Kinesis MergeShards lifecycle (ParentShardId +
    * AdjacentParentShardId). */
  def merge(parentIds: Seq[String], childId: String): Unit = synchronized {
    require(parentIds.nonEmpty, "merge needs at least one parent")
    parentIds.foreach(closeShard)
    addShard(childId, parentIds)
  }

  private def closeShard(id: String): Unit =
    infos.put(id, infos(id).copy(closed = true))

  /** Retention expiry: a closed shard eventually disappears from the
    * ListShards response (real Kinesis keeps closed shards listed only
    * until their records age out). Removes the shard from the listing;
    * the record buffers are kept so an in-flight reader planned before
    * the expiry can finish — only discovery is affected, as with the
    * real API where an already-obtained shard iterator keeps working
    * briefly. Expiring an OPEN shard is a model violation.
    */
  def expire(shardId: String): Unit = synchronized {
    require(infos(shardId).closed,
      s"shard $shardId is open; only closed shards age out of the listing")
    order -= shardId
  }

  private def requireOpen(shardId: String): Unit =
    if (infos(shardId).closed) throw new IllegalStateException(
      s"shard $shardId is closed (resharded): writes must route to children")

  def append(shardId: String, rec: RawShardRecord): Unit =
    shards(shardId).synchronized { requireOpen(shardId); shards(shardId) += rec }

  private val seqGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Producer-side append with service-assigned sequence number —
    * allocation and insertion are atomic under the shard lock, so
    * per-shard order always matches sequence order even with many
    * concurrent writers (as Kinesis itself guarantees).
    *
    * `idempotencyKey`: when present, a key already appended to this
    * shard is silently dropped — the service-side dedup window backing
    * the opt-in idempotent producer (SURVEY.md §7.3.5; a real transport
    * maps this to a server-side token/dedup table).
    */
  def appendAssigned(shardId: String, subRecords: Seq[SubRecord],
      idempotencyKey: Option[String] = None): Unit =
    shards(shardId).synchronized {
      requireOpen(shardId)
      val duplicate = idempotencyKey.exists(k => !seenKeys(shardId).add(k))
      if (!duplicate)
        shards(shardId) += RawShardRecord(subRecords.head.partitionKey,
          BigInt(seqGen.incrementAndGet()),
          System.currentTimeMillis() * 1000L, subRecords)
    }

  override def listShards(): Seq[String] = synchronized { order.toList }

  private def posOf(r: RawShardRecord): ShardPos =
    ShardPos(r.seqNo, (r.subRecords.size - 1).toLong)

  override def latestPosition(shardId: String): ShardPos =
    shards(shardId).synchronized {
      shards(shardId).lastOption.map(posOf).getOrElse(ShardPos.Beginning)
    }

  override def positionAtTimestamp(shardId: String, tsMicros: Long): ShardPos =
    shards(shardId).synchronized {
      val buf = shards(shardId)
      // position of the predecessor of the FIRST record with arrival >=
      // ts: indexWhere, not takeWhile, so an out-of-order arrival later in
      // the shard cannot stop the scan early
      buf.indexWhere(_.arrivalEpochMicros >= tsMicros) match {
        case -1 => buf.lastOption.map(posOf).getOrElse(ShardPos.Beginning)
        case 0 => ShardPos.Beginning
        case i => posOf(buf(i - 1))
      }
    }

  override def positionAfter(shardId: String, from: ShardPos,
      maxRecords: Int): ShardPos =
    shards(shardId).synchronized {
      val after = shards(shardId).iterator
        .filter(r => ShardPos.ordering.gt(posOf(r), from)).take(maxRecords)
      after.foldLeft(from)((_, r) => posOf(r))
    }

  override def read(shardId: String, from: ShardPos, to: ShardPos)
      : Iterator[RawShardRecord] =
    shards(shardId).synchronized {
      shards(shardId).iterator
        .filter { r =>
          val p = posOf(r)
          ShardPos.ordering.gt(p, from) && ShardPos.ordering.lteq(p, to)
        }
        .toVector
    }.iterator
}

/** JVM-local service registry so a Serializable handle (the id string in
  * the options map) can reach partition readers in local/test mode.
  *
  * The cluster deployment shape is the `http|endpoint|stream` id
  * family: resolved ids of that form construct (and cache, per JVM) an
  * [[graft.transport.HttpShardService]] from the embedded connection
  * options — every executor builds its own wire client on first use,
  * no JVM-local registration required. Sources/sinks accept it via
  * `.option("endpoint", url).option("stream-name", name)` (see
  * [[resolveId]]).
  */
object ShardServiceRegistry {
  private val services = TrieMap.empty[String, ShardService]
  def register(service: ShardService): String = {
    val id = java.util.UUID.randomUUID().toString
    services.put(id, service)
    id
  }

  private val HttpPrefix = "http|"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Safe-to-log rendering of a self-describing id: the params
    * segment may carry `secret-access-key`/`session-token` in
    * URL-encoded plaintext, so error paths must never echo the raw
    * id (that would leak AWS secrets into driver logs / the Spark
    * UI, defeating [[graft.transport.AwsCredentials]]'s toString
    * redaction). Keeps endpoint|stream and the param KEY names;
    * every param value is dropped. */
  private[graft] def redactId(id: String): String = {
    if (!id.startsWith(HttpPrefix)) return id
    val parts = id.stripPrefix(HttpPrefix).split('|')
    if (parts.length < 3) id
    else {
      val keys = parts(2).split('&').filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        (if (i > 0) kv.take(i) else kv) + "=<redacted>"
      }.mkString("&")
      s"$HttpPrefix${parts(0)}|${parts(1)}|$keys" +
        (if (parts.length > 3) "|<redacted>" else "")
    }
  }

  /** Wire-client options that must survive the driver->executor hop
    * inside the id: KCL `retryGetRecordsInSeconds` as the backoff base
    * (reference main/resources/reference.conf:666-675) and the SigV4
    * signing block (`region` + static credentials — the explicit-
    * credentials member of the reference's credentialsProvider chain,
    * main/producer/ProducerConf.scala:105-116). Recognized keys:
    * retry-ms, region, access-key-id, secret-access-key,
    * session-token. */
  def httpId(endpoint: String, streamName: String,
      params: Map[String, String] = Map.empty): String = {
    require(!endpoint.contains("|") && !streamName.contains("|"),
      "endpoint/stream-name must not contain '|'")
    val suffix =
      if (params.isEmpty) ""
      else "|" + params.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    s"$HttpPrefix$endpoint|$streamName$suffix"
  }

  /** The id a source/sink should carry: an explicit `service.id`
    * wins; otherwise `endpoint` + `stream-name` yield a wire id. An
    * endpoint WITHOUT a stream name fails loudly (matching the conf
    * parsers) — a silent default would quietly read the wrong stream. */
  def resolveId(options: Map[String, String]): String =
    options.get("service.id").orElse(
      options.get("endpoint").map { e =>
        val stream = options.getOrElse("stream-name",
          throw new IllegalArgumentException(
            "option stream-name is required alongside endpoint " +
              "(refusing to default the target stream)"))
        val params = Map.newBuilder[String, String]
        options.get("retry-get-records-seconds")
          .foreach(s => params += "retry-ms" -> (s.toLong * 1000L).toString)
        Seq("region", "access-key-id", "secret-access-key", "session-token",
          "connect-timeout-millis", "request-timeout-millis",
          "max-connections", "metrics-level", "user-agent",
          "verify-certificate")
          .foreach(k => options.get(k).foreach(v => params += k -> v))
        val p = params.result()
        if (p.contains("access-key-id") || p.contains("secret-access-key"))
          require(p.contains("access-key-id") &&
            p.contains("secret-access-key") && p.contains("region"),
            "SigV4 signing needs region + access-key-id + secret-access-key")
        httpId(e, stream, p)
      })
      .getOrElse(throw new IllegalArgumentException(
        "option service.id (or endpoint + stream-name) required"))

  private[graft] def parseHttpId(id: String)
      : (String, String, Map[String, String]) = {
    val parts = id.stripPrefix(HttpPrefix).split('|')
    require(parts.length == 2 || parts.length == 3,
      s"malformed http service id: ${redactId(id)}")
    val params =
      if (parts.length == 3)
        parts(2).split('&').filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"malformed http id param (key ${dec(kv.take(math.max(kv.indexOf('='),0)))}) in ${redactId(id)}")
          dec(kv.take(i)) -> dec(kv.drop(i + 1))
        }.toMap
      else Map.empty[String, String]
    (parts(0), parts(1), params)
  }

  /** Construct (and cache per JVM) the wire client a self-describing
    * id encodes. */
  private def buildHttp(id: String): ShardService = {
    val (endpoint, stream, params) = parseHttpId(id)
    val retry = params.get("retry-ms")
      .map(ms => graft.transport.RetryPolicy(backoffBaseMs = ms.toLong))
      .getOrElse(graft.transport.RetryPolicy())
    val sigv4 = params.get("access-key-id").map { ak =>
      graft.transport.SigV4Config(
        region = params.getOrElse("region", sys.error(
          s"http id with credentials lacks region: ${redactId(id)}")),
        credentials = graft.transport.AwsCredentials(ak,
          params.getOrElse("secret-access-key", sys.error(
            s"http id with access-key-id lacks secret-access-key: ${redactId(id)}")),
          params.get("session-token")))
    }
    val defaults = graft.transport.HttpTuning()
    val tuning = graft.transport.HttpTuning(
      connectTimeoutMs = params.get("connect-timeout-millis")
        .map(_.toLong).getOrElse(defaults.connectTimeoutMs),
      requestTimeoutMs = params.get("request-timeout-millis")
        .map(_.toLong).getOrElse(defaults.requestTimeoutMs),
      maxConnections = params.get("max-connections")
        .map(_.toInt).getOrElse(defaults.maxConnections),
      userAgent = params.getOrElse("user-agent", defaults.userAgent),
      verifyCertificate = params.get("verify-certificate")
        .map(_.toBoolean).getOrElse(defaults.verifyCertificate))
    // KCL defaults metricsLevel to DETAILED (reference
    // main/resources/reference.conf:204-260); `none` swaps in the
    // shared no-op recorder — provably zero-cost
    val metrics = graft.metrics.MetricsRecorder.forLevel(
      graft.metrics.MetricsLevel.parse(
        params.getOrElse("metrics-level", "detailed")), stream)
    new graft.transport.HttpShardService(endpoint, stream, retry, sigv4,
      tuning, metrics)
  }

  def get(id: String): ShardService =
    if (id.startsWith(HttpPrefix))
      services.getOrElseUpdate(id, buildHttp(id))
    else services.getOrElse(id,
      throw new IllegalStateException(s"no shard service registered: $id"))
}
