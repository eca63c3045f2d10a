package graft.sources

import graft.SparkSpec
import graft.transport.{HttpShardService, KinesisWireStub, RetryPolicy}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** Shard-discovery cadence decoupling (round-9 verdict item 4 — KCL
  * `shardSyncIntervalMillis`): with `shard-sync-interval-millis` set,
  * N triggers share ~N/k ListShards listings instead of paying one (or
  * more) per trigger; resharding is still detected within one sync
  * interval (and immediately when a known-closed shard drains to
  * SHARD_END); and a stale cached listing can never produce a false
  * data-loss verdict.
  */
class ShardSyncSpec extends SparkSpec {

  private def offsets(o: org.apache.spark.sql.connector.read.streaming.Offset)
      : Map[String, ShardPos] =
    o.asInstanceOf[GraftShardOffsets].positions

  test("N driver triggers share one cached listing: wire ListShards " +
      "count stays ~constant under a sync interval, grows per-trigger " +
      "without one") {
    val store = new InMemoryShardService("wire", Seq("shard-0", "shard-1"))
    (1 to 20).foreach(n => store.appendAssigned(s"shard-${n % 2}",
      Seq(SubRecord("k", s"v$n".getBytes(UTF_8)))))
    val stub = new KinesisWireStub(store, listShardsPageSize = 10)
    try {
      val svc = new HttpShardService(stub.endpoint, "wire",
        RetryPolicy(sleeper = _ => ()))
      val id = ShardServiceRegistry.register(svc)

      def drive(syncIntervalMs: String): Int = {
        val before = stub.requests("ListShards").size
        val ms = new GraftKinesisMicroBatchStream(Map(
          "service.id" -> id,
          "shard-sync-interval-millis" -> syncIntervalMs))
        var o = ms.initialOffset()
        (1 to 10).foreach { _ =>
          o = ms.latestOffset(o, ReadLimit.maxRows(4))
        }
        stub.requests("ListShards").size - before
      }

      val cached = drive("3600000")
      val perTrigger = drive("0")
      assert(cached <= 2,
        s"one sync must serve all 10 triggers, saw $cached listings")
      assert(perTrigger >= 10,
        s"interval 0 = discovery every trigger, saw $perTrigger listings")
    } finally stub.stop()
  }

  test("round trips of one drained micro-batch over 8 wire shards: " +
      "offsets, report, executor reads and the next empty trigger") {
    val shards = (0 until 8).map(i => s"shard-$i")
    val store = new InMemoryShardService("wire", shards)
    for (s <- shards; n <- 1 to 3) store.appendAssigned(s,
      (1 to 4).map(k => SubRecord(s"k$k", s"$s/$n/$k".getBytes(UTF_8))))
    val stub = new KinesisWireStub(store, listShardsPageSize = 10)
    try {
      val svc = new HttpShardService(stub.endpoint, "wire",
        RetryPolicy(sleeper = _ => ()))
      val ms = new GraftKinesisMicroBatchStream(Map(
        "service.id" -> ShardServiceRegistry.register(svc)))
      try {
        val start = ms.initialOffset()
        val end = ms.latestOffset(start, ms.getDefaultReadLimit)
        ms.reportLatestOffset()
        val factory = ms.createReaderFactory()
        val rows = ms.planInputPartitions(start, end).map { p =>
          val r = factory.createReader(p)
          var n = 0
          while (r.next()) n += 1
          n
        }.sum
        assert(rows === 8 * 3 * 4)
        assert(offsets(ms.latestOffset(end, ms.getDefaultReadLimit)) ===
          offsets(end), "the next trigger finds nothing new")
      } finally ms.stop()
      // listings: one at query start (initialOffset; getDefaultReadLimit
      // reuses it), which also serves the first pass, and one for the
      // second pass; the report reuses its pass's. Per shard: the capped
      // pre-read (iterator + one data page, which ends at the tip), no
      // LATEST for the report (the pre-read saw the tip), the executor
      // read (iterator + one page, which reaches the range end) and the
      // empty trigger (iterator + one empty page at the tip).
      assert(stub.requests("ListShards").size === 2)
      assert(stub.requests("GetShardIterator").size === 8 * 3)
      assert(stub.requests("GetRecords").size === 8 * 3)
    } finally stub.stop()
  }

  test("the lag report stays true: a pass capped below the backlog asks " +
      "LATEST per shard, a pass that reached the tip asks nothing") {
    val shards = (0 until 4).map(i => s"shard-$i")
    val store = new InMemoryShardService("wire", shards)
    for (s <- shards; n <- 1 to 3) store.appendAssigned(s,
      Seq(SubRecord("k", s"$s/$n".getBytes(UTF_8))))
    val stub = new KinesisWireStub(store, listShardsPageSize = 10)
    try {
      val svc = new HttpShardService(stub.endpoint, "wire",
        RetryPolicy(sleeper = _ => ()))
      val ms = new GraftKinesisMicroBatchStream(Map(
        "service.id" -> ShardServiceRegistry.register(svc)))
      try {
        val tips = shards.map(s => s -> store.latestPosition(s)).toMap
        def requests: Int = stub.requestLog.size
        def latestCalls: Int = stub.requests("GetShardIterator")
          .count(_.get("ShardIteratorType").asText() == "LATEST")
        // one record per shard: every pre-read stops at the cap
        val capped = ms.latestOffset(ms.initialOffset(), ReadLimit.maxRows(4))
        assert(offsets(capped).values.forall(_.seqNo > BigInt(0)))
        assert(offsets(capped) !== tips, "the cap binds below the backlog")
        val before = latestCalls
        assert(offsets(ms.reportLatestOffset()) === tips)
        assert(latestCalls - before === 4, "one LATEST per capped shard")
        val drained = ms.latestOffset(capped, ms.getDefaultReadLimit)
        assert(offsets(drained) === tips)
        val quiet = requests
        assert(offsets(ms.reportLatestOffset()) === tips)
        assert(requests === quiet, "an uncapped pass reports for free")
      } finally ms.stop()
    } finally stub.stop()
  }

  test("resharding is detected within one sync interval: the next " +
      "sync sees the closed parent, drains it to SHARD_END, and the " +
      "children advance in the same pass") {
    val store = new InMemoryShardService("s", Seq("p"))
    (1 to 4).foreach(n => store.appendAssigned("p",
      Seq(SubRecord("k", s"v$n".getBytes(UTF_8)))))
    val id = ShardServiceRegistry.register(store)
    val ms = new GraftKinesisMicroBatchStream(Map(
      "service.id" -> id, "shard-sync-interval-millis" -> "50"))
    val o0 = ms.initialOffset()
    val o1 = offsets(ms.latestOffset(o0, ReadLimit.allAvailable()))
    assert(o1("p").seqNo === BigInt(4), "parent fully drained")
    // reshard while the cache is warm
    store.split("p", Seq("c1", "c2"))
    (5 to 8).foreach(n => store.appendAssigned(s"c${n % 2 + 1}",
      Seq(SubRecord("k", s"v$n".getBytes(UTF_8)))))
    Thread.sleep(120) // age the cache past the 50 ms interval
    val o2 = offsets(ms.latestOffset(GraftShardOffsets(o1),
      ReadLimit.allAvailable()))
    assert(o2("p") === ShardPos.ShardEnd,
      "re-sync sees the closed drained parent")
    assert(o2.contains("c1") && o2.contains("c2"),
      "children discovered in the same pass")
    assert(Seq("c1", "c2").map(c => o2(c).seqNo).forall(_ > BigInt(0)),
      "children advance immediately (parent was drained in the start " +
        "offset)")
  }

  test("SHARD_END invalidates the cache early: children appear on the " +
      "very next trigger even under a huge sync interval") {
    val store = new InMemoryShardService("s", Seq("p"))
    (1 to 3).foreach(n => store.appendAssigned("p",
      Seq(SubRecord("k", s"v$n".getBytes(UTF_8)))))
    val id = ShardServiceRegistry.register(store)
    val ms = new GraftKinesisMicroBatchStream(Map(
      "service.id" -> id, "shard-sync-interval-millis" -> "3600000"))
    val o0 = ms.initialOffset()
    // split BEFORE the first drain completes: records remain in p
    store.split("p", Seq("c1"))
    store.appendAssigned("c1", Seq(SubRecord("k", "c".getBytes(UTF_8))))
    // cache from initialOffset() predates the split: p looks open, so
    // this trigger drains p's records without emitting SHARD_END yet
    val o1 = offsets(ms.latestOffset(o0, ReadLimit.allAvailable()))
    assert(o1("p").seqNo === BigInt(3))
    // force one re-sync by expiring the interval? No — the point of
    // this test: a sync that DOES know p is closed (fresh stream
    // instance) emits SHARD_END and must invalidate, so c1 shows up on
    // the next trigger with no interval wait.
    val ms2 = new GraftKinesisMicroBatchStream(Map(
      "service.id" -> id, "shard-sync-interval-millis" -> "3600000"))
    val o2 = offsets(ms2.latestOffset(GraftShardOffsets(o1),
      ReadLimit.allAvailable()))
    assert(o2("p") === ShardPos.ShardEnd)
    // the SHARD_END transition invalidated the cache: a shard added
    // right now is discovered by the NEXT trigger despite the interval
    store.merge(Seq("c1"), "c2")
    val o3 = offsets(ms2.latestOffset(GraftShardOffsets(o2),
      ReadLimit.allAvailable()))
    assert(o3.contains("c2"),
      "post-SHARD_END trigger must re-sync and see the new shard")
  }

  test("a stale cached listing never yields a false data-loss " +
      "verdict: the WAL naming an unknown shard forces one re-sync " +
      "before failing") {
    val store = new InMemoryShardService("s", Seq("a"))
    store.appendAssigned("a", Seq(SubRecord("k", "v".getBytes(UTF_8))))
    val id = ShardServiceRegistry.register(store)
    val ms = new GraftKinesisMicroBatchStream(Map(
      "service.id" -> id, "shard-sync-interval-millis" -> "3600000"))
    val o0 = ms.initialOffset() // cache: {a}
    // the stream reshards; a restarted query's WAL already tracks the
    // child this instance's cache has never seen
    store.split("a", Seq("b"))
    store.appendAssigned("b", Seq(SubRecord("k", "w".getBytes(UTF_8))))
    val wal = GraftShardOffsets(Map(
      "a" -> store.latestPosition("a"), "b" -> ShardPos.Beginning))
    // must NOT throw "data loss": the guard re-syncs and finds b
    val o1 = offsets(ms.latestOffset(wal, ReadLimit.allAvailable()))
    assert(o1("b").seqNo > BigInt(0), "the WAL shard advances after re-sync")
  }
}
