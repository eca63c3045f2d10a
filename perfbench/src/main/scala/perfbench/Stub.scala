package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import graft.sources._
import graft.transport.{AwsCredentials, KinesisWire, KinesisWireStub, StubSigV4}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** The benchmark's stand-in for Kinesis, run in its own JVM so the program
  * under test sees only an endpoint. Each lane is an input stream and an
  * output stream, each a [[KinesisWireStub]] over an in-memory store, plus
  * the seeded load generator that fills the input and the checker that
  * reads the output back.
  *
  * Usage: `Stub <events-file>` (see [[Events]]).
  *
  * Line protocol on stdin, one JSON reply per command on stdout:
  * {{{
  * lane <id> drain <records> <seed>   pre-fill a backlog of aggregated records
  * lane <id> steady <rate> <burst-ms> <seconds> <ramp-ms> <seed>
  * arm <id>                            start the lane's window (and generator)
  * status <id>                         generated and landed counts
  * check <id> <fault>                  stop, verify the output, free the lane
  * cpu                                 this JVM's CPU time
  * quit
  * }}}
  */
object Stub {
  val Region = "us-east-1"
  val Creds = AwsCredentials("AKIDPERFBENCHSTUB", "perfbench/stub/secret")
  val Shards: IndexedSeq[String] = (0 until 8).map(i => s"shard-$i")
  /** KPL's default aggregated-record size bound. */
  val MaxAggregateBytes = 51200

  def nowMicros: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(args: Array[String]): Unit = {
    val events = new Events(args(0))
    val lanes = mutable.Map.empty[String, Lane]
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null) {
      val a = line.trim.split("\\s+")
      val reply: Map[String, Any] =
        try a(0) match {
          case "lane" =>
            val lane = a(2) match {
              case "drain" => Lane.drain(events, a(1), a(3).toInt, a(4).toLong)
              case "steady" => Lane.steady(events, a(1), a(3).toInt, a(4).toInt,
                a(5).toDouble, a(6).toInt, a(7).toLong)
            }
            lanes(a(1)) = lane
            Map("in" -> lane.inStub.endpoint, "out" -> lane.outStub.endpoint,
              "generated" -> lane.generated.get)
          case "arm" => lanes(a(1)).arm(); Map("armed" -> a(1))
          case "status" => lanes(a(1)).status
          case "check" =>
            val lane = lanes.remove(a(1)).get
            try lane.check(a.lift(2).getOrElse("none")) finally lane.close()
          case "cpu" =>
            val os = ManagementFactory.getOperatingSystemMXBean
              .asInstanceOf[com.sun.management.OperatingSystemMXBean]
            Map("cpu_ms" -> os.getProcessCpuTime / 1e6)
          case "quit" =>
            lanes.values.foreach(_.close())
            Map("bye" -> true)
        } catch {
          case e: Exception => Map("error" -> e.toString)
        }
      println(Json.write(reply))
      System.out.flush()
      line = if (a(0) == "quit") null else in.readLine()
    }
    sys.exit(0)
  }
}

/** Counts the requests the input stub serves and notes the first one
  * after the lane's window opens, and the user records it serves. Every
  * wire request reaches the store
  * through exactly one `read` (GetRecords) or `listShards` (ListShards and
  * GetShardIterator) call. */
final class CountingService(store: InMemoryShardService) extends ShardService {
  @volatile var armed = false
  val firstRequestMicros = new AtomicLong(-1L)
  val reads = new AtomicInteger(0)
  val listings = new AtomicInteger(0)

  private def seen(): Unit =
    if (armed && firstRequestMicros.get() < 0)
      firstRequestMicros.compareAndSet(-1L, Stub.nowMicros)

  override def streamName: String = store.streamName
  override def listShards(): Seq[String] = {
    seen(); listings.incrementAndGet(); store.listShards()
  }
  override def shardInfo(shardId: String): ShardInfo = store.shardInfo(shardId)
  override def latestPosition(shardId: String): ShardPos =
    store.latestPosition(shardId)
  override def positionAtTimestamp(shardId: String, tsMicros: Long): ShardPos =
    store.positionAtTimestamp(shardId, tsMicros)
  override def positionAfter(shardId: String, from: ShardPos, n: Int): ShardPos =
    store.positionAfter(shardId, from, n)
  /** User records in each KPL aggregate, by (shard, sequence number):
    * the store keeps an aggregate as one opaque record. */
  val aggregateSizes = TrieMap.empty[(String, BigInt), Int]
  /** User records the stub served: GetRecords takes its page from the
    * iterator, so only the records it takes are counted. */
  val servedUserRecords = new AtomicLong(0L)
  override def read(shardId: String, from: ShardPos, to: ShardPos)
      : Iterator[RawShardRecord] = {
    seen(); reads.incrementAndGet()
    store.read(shardId, from, to).map { r =>
      servedUserRecords.addAndGet(
        aggregateSizes.getOrElse((shardId, r.seqNo), r.subRecords.size).toLong)
      r
    }
  }
}

/** The `events` table, the project's streaming-replay input: one row per
  * line, `user_id<TAB>fields`, where `fields` is the row's other columns
  * as JSON members. Written by run.py from the table's parquet file. */
final class Events(path: String) {
  private val rows: Array[(String, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val t = l.indexOf('\t'); (l.substring(0, t), l.substring(t + 1))
    }.toArray
    finally src.close()
  }
  require(rows.nonEmpty, s"no events in $path")
  def size: Int = rows.length
  /** Dense index of each user id, for the checker's per-key state. */
  val keyIndex: Map[String, Int] = rows.iterator.map(_._1).distinct.zipWithIndex.toMap
  def apply(i: Int): (String, String) = rows(Math.floorMod(i, rows.length))
}

/** Seeded user records: a run of consecutive events, starting at a
  * seeded row and wrapping. Each payload carries the record's id, key,
  * per-key sequence and due time ahead of the event's own fields, so the
  * checker needs nothing but the output stream. */
final class Generator(events: Events, seed: Long) {
  private val start = new SplittableRandom(seed).nextInt(events.size)
  private val perKey = new Array[Int](events.keyIndex.size)

  /** (key, key index, JSON payload) of user record `id`. */
  def record(id: Int, dueMicros: Long): (String, Int, Array[Byte]) = {
    val (key, fields) = events(start + id)
    val k = events.keyIndex(key)
    val s = perKey(k); perKey(k) += 1
    val json = s"""{"id":$id,"k":"$key","s":$s,"due":$dueMicros,$fields}"""
    (key, k, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

final class Lane(val id: String, capacity: Int) {
  val inStore = new InMemoryShardService(s"$id-in", Stub.Shards)
  val front = new CountingService(inStore)
  val inStub = new KinesisWireStub(front, listShardsPageSize = 1000,
    logRequests = false)
  val outStore = new InMemoryShardService(s"$id-out", Stub.Shards)
  val outStub = new KinesisWireStub(outStore, listShardsPageSize = 1000,
    logRequests = false)
  Seq(inStub, outStub).foreach(_.requireSigV4 =
    Some(StubSigV4(Stub.Creds, Stub.Region)))

  // what was generated, by record id
  val generated = new AtomicInteger(0)
  val keyOf = new Array[Int](capacity)
  val dueOf = new Array[Long](capacity)

  @volatile var genEndMicros = -1L
  /** Records due before this are warm-up: checked, not timed. */
  @volatile var timedFromMicros = -1L
  @volatile var lateMaxMs = 0.0
  @volatile private var stopping = false
  private var generatorThread: Thread = _
  private var onArm: () => Unit = () => ()

  // (time, generated, landed) samples while the window is open
  private val samples = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private var sampler: Thread = _

  def landed: Long =
    Stub.Shards.map(s => outStore.latestPosition(s).seqNo).max.toLong max 0L

  def arm(): Unit = {
    if (timedFromMicros < 0) timedFromMicros = Stub.nowMicros
    front.armed = true
    sampler = daemon(s"$id-sampler") {
      while (!stopping) {
        val s = (Stub.nowMicros, generated.get.toLong, landed)
        samples.synchronized(samples += s)
        Thread.sleep(50)
      }
    }
    onArm()
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  private def startGenerator(body: => Unit): Unit =
    generatorThread = daemon(s"$id-generator")(body)
  private def isStopping: Boolean = stopping

  def status: Map[String, Any] =
    Map("generated" -> generated.get, "landed" -> landed,
      "gen_done" -> (genEndMicros > 0))

  def close(): Unit = {
    stopping = true
    inStub.stop()
    outStub.stop()
  }

  /** Stops the generator, then verifies that every generated record
    * landed in the output exactly once with per-key order kept. */
  def check(fault: String): Map[String, Any] = {
    stopping = true
    if (generatorThread != null) generatorThread.join()
    if (sampler != null) sampler.join()
    val n = generated.get
    val mapper = Json.mapper
    // output in landing order per shard: (id, s, landing micros)
    val perShard = Stub.Shards.map { sh =>
      outStore.read(sh, ShardPos.Beginning, ShardPos.ShardEnd).flatMap { r =>
        r.subRecords.map { sub =>
          val j = mapper.readTree(sub.data)
          (j.get("id").asLong(), j.get("s").asInt(), r.arrivalEpochMicros)
        }
      }.toBuffer
    }
    Lane.inject(fault, perShard, keyOf)
    val seen = new Array[Int](n)
    val lastSeq = mutable.Map.empty[Int, Int]
    var outOfOrder = 0L
    var foreign = 0L
    val landing = new Array[Long](n)
    var lastLanding = -1L
    perShard.foreach(_.foreach { case (rid, s, at) =>
      if (rid < 0 || rid >= n) foreign += 1
      else {
        val i = rid.toInt
        seen(i) += 1
        if (seen(i) == 1) landing(i) = at
        val k = keyOf(i)
        if (lastSeq.get(k).exists(_ >= s)) outOfOrder += 1
        lastSeq(k) = s
        lastLanding = math.max(lastLanding, at)
      }
    })
    val lost = seen.count(_ == 0).toLong
    val dup = seen.iterator.map(c => math.max(c - 1, 0).toLong).sum
    val delivered = n - lost
    val start = math.max(front.firstRequestMicros.get(), 0L)
    // latency samples: timed records only, from their due time (steady)
    // or from the window's first request (drain)
    val lat = (0 until n).iterator
      .filter(i => seen(i) > 0 && dueOf(i) >= timedFromMicros)
      .map(i => (landing(i) - math.max(dueOf(i), start)) / 1000.0)
      .toArray
    java.util.Arrays.sort(lat)
    def pct(p: Double): Double =
      if (lat.isEmpty) 0.0
      else lat(math.min(lat.length - 1, math.ceil(p * lat.length).toInt - 1 max 0))
    val windowStart = if (genEndMicros > 0) timedFromMicros else start
    val span = (lastLanding - windowStart) / 1e6
    val timed = lat.length
    Map(
      "attempted" -> n, "lost" -> lost, "duplicated" -> dup,
      "out_of_order" -> outOfOrder, "foreign" -> foreign,
      "failed" -> (lost + dup + outOfOrder + foreign),
      "delivered" -> delivered,
      "throughput_eps" -> (if (span > 0) timed / span else 0.0),
      "latency_p50_ms" -> pct(0.50), "latency_p99_ms" -> pct(0.99),
      "latency_samples" -> lat.length,
      "gen_late_ms_max" -> lateMaxMs,
      "timed_from_ms" -> (if (genEndMicros > 0) timedFromMicros / 1000 else 0L),
      "backlog_slope_eps" -> backlogSlope,
      "requests" -> (front.reads.get + front.listings.get),
      "served_user_records" -> front.servedUserRecords.get)
  }

  /** Backlog (generated − landed) growth over the second half of the
    * generation window, in records per second. */
  private def backlogSlope: Double = {
    val s = samples.synchronized(samples.toVector)
    val end = if (genEndMicros > 0) genEndMicros else s.lastOption.map(_._1).getOrElse(0L)
    val w = s.filter(_._1 <= end)
    if (w.size < 4) 0.0
    else {
      val mid = w(w.size / 2)
      val last = w.last
      val dt = (last._1 - mid._1) / 1e6
      if (dt <= 0) 0.0
      else ((last._2 - last._3) - (mid._2 - mid._3)) / dt
    }
  }
}

object Lane {
  /** A closed backlog of KPL-aggregated records: catch-up after
    * downtime. The records are packed as KPL packs a producer's output at
    * the reference's offered load: each 100 ms buffer
    * (`RecordMaxBufferedTime`) of 20,000 records/s holds 2,000 records,
    * and each shard's share of a buffer becomes one aggregated record of
    * at most 51,200 B (`AggregationMaxSize`). */
  def drain(events: Events, id: String, records: Int, seed: Long): Lane = {
    val lane = new Lane(id, records)
    val gen = new Generator(events, seed)
    val now = Stub.nowMicros
    val buffers = Stub.Shards.map(s => s -> mutable.ArrayBuffer.empty[SubRecord]).toMap
    val bytes = mutable.Map.empty[String, Int].withDefaultValue(0)
    // the store keeps each aggregate as the opaque blob a producer sent
    // (as Kinesis does), so serving it costs no re-encoding per read
    def flush(shard: String): Unit = {
      val b = buffers(shard)
      if (b.size == 1) lane.inStore.appendAssigned(shard, b.toVector)
      else if (b.nonEmpty) {
        lane.inStore.appendAssigned(shard,
          Seq(SubRecord(b.head.partitionKey, KinesisWire.aggregate(b.toVector))))
        lane.front.aggregateSizes((shard, lane.inStore.latestPosition(shard).seqNo)) = b.size
      }
      b.clear(); bytes(shard) = 0
    }
    for (i <- 0 until records) {
      val (key, k, data) = gen.record(i, now)
      lane.keyOf(i) = k; lane.dueOf(i) = now
      val shard = KeyRouting.shardFor(key, Stub.Shards)
      val size = data.length + key.length + 8
      if (buffers(shard).nonEmpty && bytes(shard) + size > Stub.MaxAggregateBytes)
        flush(shard)
      buffers(shard) += SubRecord(key, data)
      bytes(shard) += size
      if ((i + 1) % BufferRecords == 0) Stub.Shards.foreach(flush)
    }
    Stub.Shards.foreach(flush)
    lane.generated.set(records)
    lane.timedFromMicros = now
    lane
  }

  /** User records in one KPL buffer at the reference's offered load. */
  val BufferRecords = 2000

  /** An open-loop live tail: single (not aggregated) event records,
    * appended in bursts on a fixed schedule that does not wait for the
    * consumer. The first `rampMs` of records are warm-up. */
  def steady(events: Events, id: String, rate: Int, burstMs: Int, seconds: Double,
      rampMs: Int, seed: Long): Lane = {
    val burst = math.max(1, rate * burstMs / 1000)
    val bursts = math.ceil((seconds * 1000 + rampMs) / burstMs).toInt
    val lane = new Lane(id, burst * bursts)
    val gen = new Generator(events, seed)
    lane.onArm = () => {
      val t0 = Stub.nowMicros + 20000L
      lane.timedFromMicros = t0 + rampMs * 1000L
      val t0Ns = System.nanoTime() + 20000000L
      lane.startGenerator {
        var j = 0
        while (j < bursts && !lane.isStopping) {
          val due = t0 + j.toLong * burstMs * 1000L
          val dueNs = t0Ns + j.toLong * burstMs * 1000000L
          var wait = dueNs - System.nanoTime()
          while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs - System.nanoTime() }
          lane.lateMaxMs = math.max(lane.lateMaxMs, (System.nanoTime() - dueNs) / 1e6)
          var b = 0
          while (b < burst) {
            val i = lane.generated.get
            val (key, k, data) = gen.record(i, due)
            lane.keyOf(i) = k; lane.dueOf(i) = due
            lane.inStore.appendAssigned(KeyRouting.shardFor(key, Stub.Shards),
              Seq(SubRecord(key, data)))
            lane.generated.incrementAndGet()
            b += 1
          }
          j += 1
        }
        lane.genEndMicros = Stub.nowMicros
      }
    }
    lane
  }

  /** Seeded faults for the checker's self-test, applied to the output as
    * read back: drop one record, duplicate one, or swap two records of
    * one key. */
  def inject(fault: String,
      perShard: Seq[mutable.Buffer[(Long, Int, Long)]], keyOf: Array[Int]): Unit =
    fault match {
      case "none" =>
      case "drop" =>
        perShard.find(_.nonEmpty).foreach(b => b.remove(b.size / 2))
      case "dup" =>
        perShard.find(_.nonEmpty).foreach(b => b.insert(b.size / 2, b(b.size / 2)))
      case "swap" =>
        val done = perShard.exists { b =>
          val at = (0 until b.size - 1).find { i =>
            (i + 1 until b.size).exists(j =>
              keyOf(b(i)._1.toInt) == keyOf(b(j)._1.toInt) && {
                val t = b(i); b(i) = b(j); b(j) = t; true
              })
          }
          at.isDefined
        }
        require(done, "no two records of one key to swap")
      case other => throw new IllegalArgumentException(s"unknown fault $other")
    }
}

object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
}
