package graft.transport

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.sources.{InMemoryShardService, RawShardRecord, ShardPos}
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Deterministic fault injection for [[KinesisWireStub]]: what the
  * localstack chaos knobs give the reference's integration suite. All
  * mutations happen-before the requests they affect (test sets, then
  * calls), so plain volatile/concurrent containers suffice.
  */
final class FaultPolicy {
  /** action -> remaining count of requests to fail with `failStatus`. */
  private val failRemaining = TrieMap.empty[String, AtomicInteger]
  @volatile var failStatus: Int = 500
  @volatile var failErrorType: String = "InternalFailure"

  /** Per-PutRecords-request queue of entry indices to fail: the
    * head set applies to the next PutRecords request, then pops —
    * deterministic partial-failure scripting. Failed entries carry
    * `entryErrorCode` (default throttling; set to e.g.
    * "InternalFailure" to script transient non-throttle errors). */
  val throttlePlan = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
  @volatile var entryErrorCode: String =
    "ProvisionedThroughputExceededException"

  /** When >0, the next N responses to `action` are truncated garbage
    * (malformed JSON) — exercises the client's parse-failure path. */
  private val garbleRemaining = TrieMap.empty[String, AtomicInteger]

  /** When >0, the next N requests to `action` stall `stallMillis`
    * before any response bytes — exercises the client's request
    * timeout (round-9 verdict item 5). */
  private val stallRemaining = TrieMap.empty[String, AtomicInteger]
  @volatile var stallMillis: Long = 1000L

  def failNext(action: String, n: Int, status: Int = 500,
      errorType: String = "InternalFailure"): Unit = {
    failStatus = status; failErrorType = errorType
    failRemaining.put(action, new AtomicInteger(n))
  }
  def garbleNext(action: String, n: Int): Unit =
    garbleRemaining.put(action, new AtomicInteger(n))
  def stallNext(action: String, n: Int, millis: Long = 1000L): Unit = {
    stallMillis = millis
    stallRemaining.put(action, new AtomicInteger(n))
  }

  private[transport] def shouldFail(action: String): Boolean =
    failRemaining.get(action).exists(_.getAndDecrement() > 0)
  private[transport] def shouldGarble(action: String): Boolean =
    garbleRemaining.get(action).exists(_.getAndDecrement() > 0)
  private[transport] def shouldStall(action: String): Boolean =
    stallRemaining.get(action).exists(_.getAndDecrement() > 0)
  private[transport] def nextThrottleSet(): Set[Int] =
    Option(throttlePlan.poll()).getOrElse(Set.empty)
}

/** Server-side SigV4 enforcement config for the stub: the credentials a
  * request must be signed with, the expected region, an injectable
  * clock, and the skew window (AWS allows 5 minutes). `previous`
  * models the rotation overlap window real AWS keeps: during a
  * rotation both the new and the outgoing key verify; once the server
  * drops `previous`, the stale key is rejected
  * (UnrecognizedClientException). */
final case class StubSigV4(
    credentials: AwsCredentials,
    region: String,
    clock: () => Long = () => System.currentTimeMillis(),
    skewToleranceMs: Long = 300000L,
    previous: Option[AwsCredentials] = None)

/** In-process HTTP server speaking the Kinesis-shaped wire protocol of
  * [[KinesisWire]] over a [[graft.sources.ShardService]] (usually the
  * mutable [[InMemoryShardService]]) — the zero-egress
  * localstack analogue (reference it/common/KinesisSuite.scala:147-303
  * runs the same suite shape against localstack). Every request and
  * response crosses a real TCP socket through real JSON + base64, so
  * TransportSpec exercises S1/S9 through actual bytes, HTTP error
  * taxonomy, retry/backoff, and PutRecords partial failures.
  *
  * Supported actions: ListShards (paginated), GetShardIterator
  * (TRIM_HORIZON / LATEST / AT_TIMESTAMP / AFTER_SEQUENCE_NUMBER),
  * GetRecords (Limit, NextShardIterator, SHARD_END null), PutRecords
  * (server-side key routing + per-entry error codes).
  */
final class KinesisWireStub(
    val backing: graft.sources.ShardService,
    val faults: FaultPolicy = new FaultPolicy,
    listShardsPageSize: Int = 2,
    logRequests: Boolean = true,
    tls: Option[javax.net.ssl.SSLContext] = None) {
  import KinesisWire._

  /** The mutable in-memory store, when the stub wraps one — the shape
    * every fault/reshard test drives. A read-only backing (e.g. the
    * lazy [[graft.sources.GeneratorShardService]] behind the wire
    * ingest bench) supports everything except PutRecords. */
  def store: InMemoryShardService = backing match {
    case m: InMemoryShardService => m
    case other => throw new IllegalStateException(
      s"stub backing is read-only: ${other.getClass.getSimpleName}")
  }

  /** When set, every request must carry a valid SigV4 signature over
    * these credentials — recomputed server-side from the received
    * bytes, so a tampered body, stale date, or wrong secret all fail
    * with the AWS 4xx auth taxonomy (fail-fast, never retried). */
  @volatile var requireSigV4: Option[StubSigV4] = None

  /** (action, requestBody) log for assertions — e.g. "the retry carried
    * ONLY the failed entries". */
  val requestLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, JsonNode)]()
  def requests(action: String): Seq[JsonNode] =
    requestLog.asScala.toSeq.collect { case (a, b) if a == action => b }

  private val server = tls match {
    case Some(ctx) =>
      val s = com.sun.net.httpserver.HttpsServer.create(
        new InetSocketAddress(0), 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress(0), 0)
  }
  // daemon threads AND an explicit shutdown in stop(): HttpServer.stop
  // does not stop a custom executor, and a non-daemon pool would pin
  // the JVM in DestroyJavaVM after main returns (bit a Bench run in
  // round 10 — the process outlived its own exit-code echo)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => {
      val t = new Thread(r, "wire-stub")
      t.setDaemon(true)
      t
    })
  server.setExecutor(pool)
  server.createContext("/", new Handler)
  server.start()

  /** High-water mark of concurrently in-flight requests — observability
    * for the client's max-connections bound. */
  private val inflight = new AtomicInteger(0)
  @volatile var maxInflight: Int = 0

  /** Last User-Agent header seen — observability for the `user-agent`
    * option (KCL `userAgent` parity). */
  @volatile var lastUserAgent: String = _

  def endpoint: String = {
    val scheme = if (tls.isDefined) "https" else "http"
    s"$scheme://127.0.0.1:${server.getAddress.getPort}"
  }
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  // iterator tokens are SERVER-issued and opaque to the client:
  // "g1|shardId|seqNo|subSeqNo" = exclusive lower-bound position
  private def token(shardId: String, pos: ShardPos): String =
    s"g1|$shardId|${pos.seqNo}|${pos.subSeqNo}"
  private def parseToken(t: String): (String, ShardPos) = {
    val parts = t.split('|')
    require(parts.length == 4 && parts(0) == "g1", s"bad iterator: $t")
    (parts(1), ShardPos(BigInt(parts(2)), parts(3).toLong))
  }

  private def posOf(r: RawShardRecord): ShardPos =
    ShardPos(r.seqNo, (r.subRecords.size - 1).toLong)

  private final class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val now = inflight.incrementAndGet()
        synchronized { if (now > maxInflight) maxInflight = now }
        val target = Option(ex.getRequestHeaders.getFirst(TargetHeader))
          .getOrElse("")
        val action = target.stripPrefix(TargetPrefix)
        lastUserAgent = ex.getRequestHeaders.getFirst("User-Agent")
        if (faults.shouldStall(action)) Thread.sleep(faults.stallMillis)
        val raw = ex.getRequestBody.readAllBytes()
        requireSigV4.foreach(verifySignature(ex, raw, _))
        val body = parse(raw)
        if (logRequests) requestLog.add((action, body))
        if (faults.shouldFail(action)) {
          respond(ex, faults.failStatus,
            errorBody(faults.failErrorType, "injected fault"))
        } else if (faults.shouldGarble(action)) {
          respond(ex, 200, "{\"Records\": [trunca".getBytes("UTF-8"))
        } else {
          val resp: ObjectNode = action match {
            case "ListShards" => listShards(body)
            case "GetShardIterator" => getShardIterator(body)
            case "GetRecords" => getRecords(body)
            case "PutRecords" => putRecords(body)
            case other => throw new StubError(400,
              "InvalidAction", s"unknown action $other")
          }
          respond(ex, 200, bytes(resp))
        }
      } catch {
        case e: StubError =>
          respond(ex, e.status, errorBody(e.errorType, e.getMessage))
        case e: Exception =>
          respond(ex, 500, errorBody("InternalFailure", e.toString))
      } finally { inflight.decrementAndGet(); ex.close() }

    private def respond(ex: HttpExchange, status: Int,
        body: Array[Byte]): Unit = {
      ex.getResponseHeaders.set("Content-Type", ContentType)
      ex.sendResponseHeaders(status, body.length.toLong)
      ex.getResponseBody.write(body)
    }
  }

  private final class StubError(val status: Int, val errorType: String,
      message: String) extends RuntimeException(message)

  /** Full server-side SigV4 verification, recomputed from the received
    * request exactly as a real endpoint does (AWS 4xx auth taxonomy:
    * missing/unparseable auth 400, unknown key / bad signature /
    * expired date 403 — all non-retryable, so the client fails fast).
    */
  private def verifySignature(ex: HttpExchange, payload: Array[Byte],
      cfg: StubSigV4): Unit = {
    def reject(status: Int, tpe: String, msg: String): Nothing =
      throw new StubError(status, tpe, msg)
    val authHeader = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .getOrElse(reject(400, "MissingAuthenticationTokenException",
        "request is missing Authorization"))
    val auth = SigV4.parseAuthorization(authHeader)
      .getOrElse(reject(400, "IncompleteSignatureException",
        s"unparseable Authorization: $authHeader"))
    // key lookup across the rotation overlap window: the current key
    // always verifies; the outgoing key only while `previous` is kept
    val creds = (cfg.credentials :: cfg.previous.toList)
      .find(_.accessKeyId == auth.accessKeyId)
      .getOrElse(reject(403, "UnrecognizedClientException",
        s"unknown access key ${auth.accessKeyId}"))
    if (auth.region != cfg.region || auth.service != "kinesis")
      reject(403, "InvalidSignatureException",
        s"credential scoped to ${auth.region}/${auth.service}; " +
          s"expected ${cfg.region}/kinesis")
    // the signed-header set must cover the request identity: host and
    // date always; the security token whenever temporary credentials
    // are in play (an unsigned token could be swapped in transit)
    val mustSign = Seq("host", "x-amz-date") ++
      creds.sessionToken.map(_ => "x-amz-security-token")
    val missing = mustSign.filterNot(auth.signedHeaders.contains)
    if (missing.nonEmpty)
      reject(400, "IncompleteSignatureException",
        s"headers ${missing.mkString(",")} must be signed")
    val date = Option(ex.getRequestHeaders.getFirst("X-Amz-Date"))
      .getOrElse(reject(400, "IncompleteSignatureException",
        "request is missing X-Amz-Date"))
    if (!date.startsWith(auth.dateStamp))
      reject(403, "InvalidSignatureException",
        s"date $date outside credential scope ${auth.dateStamp}")
    val reqMillis =
      try java.time.Instant.from(SigV4.DateFormat.parse(date)).toEpochMilli
      catch { case _: Exception =>
        reject(403, "InvalidSignatureException", s"malformed date $date") }
    if (math.abs(cfg.clock() - reqMillis) > cfg.skewToleranceMs)
      reject(403, "InvalidSignatureException",
        s"Signature expired: $date is outside the +/-" +
          s"${cfg.skewToleranceMs / 60000} minute skew window")
    creds.sessionToken.foreach { tok =>
      if (!Option(ex.getRequestHeaders.getFirst("X-Amz-Security-Token"))
          .contains(tok))
        reject(403, "UnrecognizedClientException",
          "security token missing or invalid")
    }
    // recompute the signature over the RECEIVED bytes and the received
    // values of the signed headers — any tampering breaks the match
    val headerVals = auth.signedHeaders.map { h =>
      h -> Option(ex.getRequestHeaders.getFirst(h))
        .getOrElse(reject(400, "IncompleteSignatureException",
          s"signed header $h absent from request"))
    }
    val cr = SigV4.canonicalRequest(ex.getRequestMethod,
      ex.getRequestURI.getRawPath, ex.getRequestURI.getRawQuery,
      headerVals, payload)
    val sts = SigV4.stringToSign(date,
      SigV4.credentialScope(auth.dateStamp, auth.region, auth.service), cr)
    val expected = SigV4.hex(SigV4.hmacSha256(
      SigV4.signingKey(creds.secretAccessKey, auth.dateStamp,
        auth.region, auth.service), sts))
    if (expected != auth.signature)
      reject(403, "InvalidSignatureException",
        "the request signature does not match the calculated signature")
  }

  private def listShards(req: JsonNode): ObjectNode = {
    val all = backing.listShards()
    val from = Option(req.get("NextToken")).map(_.asText().toInt).getOrElse(0)
    val page = all.slice(from, from + listShardsPageSize)
    val resp = obj()
    val arr = resp.putArray("Shards")
    page.foreach { id =>
      val info = backing.shardInfo(id)
      val s = arr.addObject()
      s.put("ShardId", id)
      info.parentIds.headOption.foreach(s.put("ParentShardId", _))
      info.parentIds.drop(1).headOption
        .foreach(s.put("AdjacentParentShardId", _))
      val rng = s.putObject("SequenceNumberRange")
      rng.put("StartingSequenceNumber", "0")
      // EndingSequenceNumber present <=> shard closed (the real API's
      // closed-shard marker)
      if (info.closed) rng.put("EndingSequenceNumber",
        backing.latestPosition(id).seqNo.toString)
    }
    if (from + listShardsPageSize < all.size)
      resp.put("NextToken", (from + listShardsPageSize).toString)
    resp
  }

  private def getShardIterator(req: JsonNode): ObjectNode = {
    val shardId = req.get("ShardId").asText()
    if (!backing.listShards().contains(shardId))
      throw new StubError(400, "ResourceNotFoundException",
        s"shard $shardId not found")
    val bound: ShardPos = req.get("ShardIteratorType").asText() match {
      case "TRIM_HORIZON" => ShardPos.Beginning
      case "LATEST" => backing.latestPosition(shardId)
      case "AT_TIMESTAMP" =>
        // stub extension: integer epoch micros (see KinesisWire docs)
        backing.positionAtTimestamp(shardId,
          req.get("Timestamp").asLong())
      case "AFTER_SEQUENCE_NUMBER" =>
        val seq = BigInt(req.get("StartingSequenceNumber").asText())
        // optional sub-sequence (KCL tracks it in its lease table, the
        // wire API does not carry it; the stub accepts it so the
        // position-based seam can resume mid-aggregate)
        val sub = Option(req.get("SubSequenceNumber"))
          .map(_.asLong()).getOrElse(Long.MaxValue)
        ShardPos(seq, sub)
      case other => throw new StubError(400, "ValidationException",
        s"unsupported iterator type $other")
    }
    val resp = obj()
    resp.put("ShardIterator", token(shardId, bound))
    // stub extension 1 (KinesisWire docs): surface the bound position
    val p = resp.putObject("StartingPosition")
    p.put("SequenceNumber", bound.seqNo.toString)
    p.put("SubSequenceNumber", bound.subSeqNo)
    resp
  }

  private def getRecords(req: JsonNode): ObjectNode = {
    val (shardId, from) = parseToken(req.get("ShardIterator").asText())
    val limit = Option(req.get("Limit")).map(_.asInt()).getOrElse(10000)
    val recs = backing.read(shardId, from,
      ShardPos(BigInt(2).pow(159), Long.MaxValue))
      .take(limit).toVector
    val resp = obj()
    val arr = resp.putArray("Records")
    recs.foreach { r =>
      val o = arr.addObject()
      o.put("SequenceNumber", r.seqNo.toString)
      o.put("PartitionKey", r.partitionKey)
      o.put("ApproximateArrivalTimestamp", r.arrivalEpochMicros)
      o.put("Data", b64e.encodeToString(encodeData(r.subRecords)))
    }
    val last = recs.lastOption.map(posOf).getOrElse(from)
    val atTip = ShardPos.ordering.gteq(last, backing.latestPosition(shardId))
    val drained = backing.shardInfo(shardId).closed && atTip
    // null NextShardIterator == SHARD_END (the real API's closed-shard
    // drain signal)
    if (!drained) resp.put("NextShardIterator", token(shardId, last))
    // 0 only on a page ending at the shard's latest record (the real
    // API's caught-up signal), else the page's age, at least 1 ms
    resp.put("MillisBehindLatest", if (atTip) 0L else recs.lastOption.fold(1L)(r =>
      math.max(1L, System.currentTimeMillis() - r.arrivalEpochMicros / 1000)))
    resp
  }

  private def putRecords(req: JsonNode): ObjectNode = {
    val entries = req.get("Records").elements().asScala.toVector
    val throttled = faults.nextThrottleSet()
    val open = store.openShards().toIndexedSeq
    if (open.isEmpty) throw new StubError(400,
      "ResourceNotFoundException", "no open shards")
    val resp = obj()
    val arr = resp.putArray("Records")
    var failed = 0
    entries.zipWithIndex.foreach { case (e, i) =>
      val o = arr.addObject()
      if (throttled.contains(i)) {
        failed += 1
        o.put("ErrorCode", faults.entryErrorCode)
        o.put("ErrorMessage", "injected entry failure")
      } else {
        val key = e.get("PartitionKey").asText()
        val data = b64d.decode(e.get("Data").asText())
        val shard = graft.sources.KeyRouting.shardFor(key, open)
        // an aggregated blob is stored as its sub-records so the
        // in-memory model (and every in-process reader) stays exact;
        // the wire read path re-encodes it (GetRecords above)
        store.appendAssigned(shard, decodeData(key, data))
        o.put("SequenceNumber", store.latestPosition(shard).seqNo.toString)
        o.put("ShardId", shard)
      }
    }
    resp.put("FailedRecordCount", failed)
    resp
  }
}
