package graft.sinks

import graft.SparkSpec
import graft.config.ProducerConf
import org.apache.spark.sql.functions._

/** Spark twin of the reference's sink specs
  * (test/stream/KinesisSinkGraphStageSpec.scala:52-96 and
  * it/stream/KinesisSinkGraphStageIntegrationSpec.scala:23-44):
  * produced == consumed, ack-gated completion, bounded in-flight window,
  * fail-fast on send failure.
  */
class GraftKinesisSinkSpec extends SparkSpec {

  private def mkDF(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (s"pk${i % 7}", s"$i")).toDF("partitionKey", "payload")
      .select(col("partitionKey"), encode(col("payload"), "UTF-8").as("data"))
  }

  test("batch write: every record delivered, flush-on-close honored " +
      "(produced == consumed)") {
    val key = "sink-all"
    InMemoryAsyncClient.reset(key)
    GraftKinesisSink.writeBatch(mkDF(100),
      InMemoryAsyncClient.Factory(key, latencyMillis = 2),
      ProducerConf("out", maxOutstandingRequests = 10))
    val sent = InMemoryAsyncClient.sent(key)
    assert(sent.size == 100)
    assert(sent.map(_.payload).toSet == (1 to 100).map(_.toString).toSet)
  }

  test("bounded in-flight window: outstanding never exceeds " +
      "maxOutstandingRequests") {
    val key = "sink-window"
    InMemoryAsyncClient.reset(key)
    GraftKinesisSink.writeBatch(mkDF(200).repartition(1),
      InMemoryAsyncClient.Factory(key, latencyMillis = 1),
      ProducerConf("out", maxOutstandingRequests = 5))
    assert(InMemoryAsyncClient.sent(key).size == 200)
    val hw = InMemoryAsyncClient.highWaterMark(key)
    assert(hw <= 5, s"in-flight high-water $hw exceeded window 5")
    assert(hw >= 2, s"expected some concurrency, got $hw")
  }

  test("fail-fast: a single failed send fails the batch " +
      "(KinesisSinkGraphStage SendFailed semantics)") {
    val key = "sink-fail"
    InMemoryAsyncClient.reset(key)
    val e = intercept[Exception] {
      GraftKinesisSink.writeBatch(mkDF(50).repartition(1),
        InMemoryAsyncClient.Factory(key, failOnPayload = Some("25")),
        ProducerConf("out", maxOutstandingRequests = 4))
    }
    assert(e.getMessage.contains("write failed")
      || Option(e.getCause).exists(_.getMessage.contains("write failed")))
  }

  test("streaming foreach sink: all micro-batch records delivered") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val key = "sink-stream"
    InMemoryAsyncClient.reset(key)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val input = MemoryStream[Int](spark)
    input.addData(1 to 40: _*)
    val df = input.toDS().toDF("n")
      .select(col("n").cast("string").as("partitionKey"),
        encode(col("n").cast("string"), "UTF-8").as("data"))
    val q = df.writeStream
      .foreach(new GraftSinkWriter(InMemoryAsyncClient.Factory(key),
        ProducerConf("out", maxOutstandingRequests = 8)))
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      q.processAllAvailable()
      input.addData(41 to 60: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(InMemoryAsyncClient.sent(key).map(_.payload).toSet ==
      (1 to 60).map(_.toString).toSet)
  }

  test("idempotent produce fails fast on a null dedup id (a null would " +
      "collapse all null-id records onto one dedup key = silent loss)") {
    import spark.implicits._
    val key = "sink-null-idem"
    InMemoryAsyncClient.reset(key)
    val df = Seq(("k1", "p1", "r1"), ("k2", "p2", null))
      .toDF("partitionKey", "payload", "record_id")
      .select(col("partitionKey"), encode(col("payload"), "UTF-8").as("data"),
        col("record_id"))
    val e = intercept[Exception] {
      GraftKinesisSink.writeBatch(df.repartition(1),
        InMemoryAsyncClient.Factory(key),
        ProducerConf("out", idempotencyColumn = Some("record_id")))
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(chain.contains("null"), chain)
  }

  test("idempotent produce rejects a non-string dedup id at the record " +
      "(no String.valueOf coercion)") {
    import spark.implicits._
    val key = "sink-int-idem"
    InMemoryAsyncClient.reset(key)
    val df = Seq(("k1", "p1", 7L))
      .toDF("partitionKey", "payload", "record_id")
      .select(col("partitionKey"), encode(col("payload"), "UTF-8").as("data"),
        col("record_id"))
    val e = intercept[Exception] {
      GraftKinesisSink.writeBatch(df.repartition(1),
        InMemoryAsyncClient.Factory(key),
        ProducerConf("out", idempotencyColumn = Some("record_id")))
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(chain.contains("must be a string"), chain)
  }

  test("rate limit: offered load far above the cap is throttled without " +
      "failure and throughput lands at the cap (reference KPL RateLimit, " +
      "reference.conf:283-301)") {
    // the pacing itself, measured without Spark job overhead: ±10%
    val limiter = new RateLimiter(2000.0)
    val n = 1000
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => limiter.acquire())
    val eps = n / ((System.nanoTime() - t0) * 1e-9)
    assert(eps <= 2000 * 1.1, f"rate $eps%.0f above cap+10%%")
    assert(eps >= 2000 * 0.9, f"rate $eps%.0f below cap-10%%")

    // end-to-end through the sink: all records delivered, visibly paced
    val key = "sink-rate"
    InMemoryAsyncClient.reset(key)
    val t1 = System.nanoTime()
    GraftKinesisSink.writeBatch(mkDF(600).repartition(1),
      InMemoryAsyncClient.Factory(key),
      ProducerConf("out", maxOutstandingRequests = 100,
        rateLimitPerShard = Some(1200.0)))
    val elapsed = (System.nanoTime() - t1) * 1e-9
    assert(InMemoryAsyncClient.sent(key).size == 600)
    assert(elapsed >= 0.45,
      f"600 records at cap 1200/s must take >= ~0.5s; took $elapsed%.2fs")
  }

  test("fail-if-throttled: a record the rate cap cannot admit immediately " +
      "fails instead of waiting (KPL FailIfThrottled, " +
      "KinesisProducerConfig.scala:43)") {
    val key = "sink-failthrottle"
    InMemoryAsyncClient.reset(key)
    val e = intercept[Exception] {
      // cap 5/s: the burst's second record finds no token and must fail
      GraftKinesisSink.writeBatch(mkDF(100).repartition(1),
        InMemoryAsyncClient.Factory(key),
        ProducerConf("out", maxOutstandingRequests = 10,
          rateLimitPerShard = Some(5.0), failIfThrottled = true))
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[ProducerThrottledException]),
      s"expected ProducerThrottledException in ${chain(e).map(_.getClass)}")
    assert(InMemoryAsyncClient.sent(key).size < 100)
  }

  test("record TTL: a record stuck at the admission gates past " +
      "record-ttl-millis expires and fails the task (KPL RecordTtl, " +
      "KinesisProducerConfig.scala:56)") {
    import scala.concurrent.duration._
    val key = "sink-ttl"
    InMemoryAsyncClient.reset(key)
    val e = intercept[Exception] {
      // cap 2/s (blocking): the second record waits ~500 ms > 50 ms TTL
      GraftKinesisSink.writeBatch(mkDF(10).repartition(1),
        InMemoryAsyncClient.Factory(key),
        ProducerConf("out", maxOutstandingRequests = 10,
          rateLimitPerShard = Some(2.0), recordTtl = 50.millis))
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[RecordExpiredException]),
      s"expected RecordExpiredException in ${chain(e).map(_.getClass)}")
    // the default 30 s TTL never fires on the same shape
    InMemoryAsyncClient.reset(key)
    GraftKinesisSink.writeBatch(mkDF(6).repartition(1),
      InMemoryAsyncClient.Factory(key),
      ProducerConf("out", maxOutstandingRequests = 10,
        rateLimitPerShard = Some(20.0)))
    assert(InMemoryAsyncClient.sent(key).size == 6)
  }

  test("rate-limit-per-shard resolves from producer options") {
    val conf = ProducerConf.fromOptions(Map(
      "producer.default.stream-name" -> "out",
      "producer.p.rate-limit-per-shard" -> "1500"), "p")
    assert(conf.rateLimitPerShard.contains(1500.0))
    assert(ProducerConf("out").rateLimitPerShard.isEmpty)
  }

  test("sustained overload: a saturated window held over many batches " +
      "neither livelocks nor starves — every record eventually acked " +
      "(per-ack admission divergence from the reference's 0.9-hysteresis " +
      "unstash, KinesisProducerActorSpec.scala:121-158)") {
    val key = "sink-overload"
    InMemoryAsyncClient.reset(key)
    val conf = ProducerConf("out", maxOutstandingRequests = 4)
    val factory = InMemoryAsyncClient.Factory(key, latencyMillis = 2)
    // 10 consecutive epochs, each offering 50x the window — the window
    // stays pinned at capacity for the whole run
    val writer = new GraftSinkWriter(factory, conf)
    (0 until 10).foreach { epoch =>
      assert(writer.open(0, epoch.toLong))
      val rows = (1 to 200).map(i =>
        org.apache.spark.sql.Row(s"pk${i % 7}",
          s"e$epoch-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("partitionKey",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("data",
          org.apache.spark.sql.types.BinaryType)))
      rows.foreach(r => writer.process(
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          r.toSeq.toArray, schema)))
      writer.close(null) // drain: every ack must resolve, every epoch
    }
    val sent = InMemoryAsyncClient.sent(key)
    assert(sent.size == 2000, s"expected 2000 acked sends, got ${sent.size}")
    assert(sent.map(_.payload).toSet ==
      (0 until 10).flatMap(e => (1 to 200).map(i => s"e$e-$i")).toSet)
    val hw = InMemoryAsyncClient.highWaterMark(key)
    assert(hw <= 4, s"in-flight high-water $hw exceeded window 4 under overload")
    assert(hw >= 3, s"window should stay saturated under overload; got $hw")
  }

  test("composite dedup keys are separator-proof: batch [\"a|b\"] vs " +
      "batches [\"a\"],[\"b\"] never collide") {
    import graft.models.ProducerEvent
    import graft.sources.InMemoryShardService
    val svc = new InMemoryShardService("amb", Seq("s0"))
    val c1 = new ShardServiceAsyncClient(svc, aggregationMaxCount = 2)
    c1.put(ProducerEvent("k", "p1".getBytes("UTF-8"), Some("a|b")))(_ => ())
    c1.close() // flush the 1-element buffer -> dedup key for ["a|b"]
    val c2 = new ShardServiceAsyncClient(svc, aggregationMaxCount = 2)
    c2.put(ProducerEvent("k", "p2".getBytes("UTF-8"), Some("a")))(_ => ())
    c2.put(ProducerEvent("k", "p3".getBytes("UTF-8"), Some("b")))(_ => ())
    c2.close() // key for ["a","b"] — distinct from ["a|b"]'s
    val payloads = svc.read("s0", graft.sources.ShardPos.Beginning,
      svc.latestPosition("s0"))
      .flatMap(_.subRecords.map(s => new String(s.data, "UTF-8"))).toSeq
    assert(payloads.sorted == Seq("p1", "p2", "p3"), payloads.toString)
  }

  test("a failed writer attempt discards its buffered aggregation " +
      "records: the retry lands every idempotent id exactly once") {
    import graft.sources.{InMemoryShardService, ShardServiceRegistry}
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val svc = new InMemoryShardService("retry-discard", Seq("s0"))
    val id = ShardServiceRegistry.register(svc)
    val conf = ProducerConf("out", aggregationMaxCount = 10,
      idempotencyColumn = Some("record_id"))
    val factory = ShardServiceAsyncClient.factoryFor(conf, id)
    val schema = StructType(Seq(StructField("partitionKey", StringType),
      StructField("data", BinaryType), StructField("record_id", StringType)))
    def row(i: Int) = new GenericRowWithSchema(
      Array[Any]("k", s"id-$i".getBytes("UTF-8"), s"id-$i"), schema)
    // first attempt: 3 rows sit in the aggregation buffer when it fails
    val failed = new GraftSinkWriter(factory, conf)
    failed.open(0, 0)
    (1 to 3).foreach(i => failed.process(row(i)))
    failed.close(new RuntimeException("task attempt failed"))
    // the retry replays the whole partition and succeeds
    val retry = new GraftSinkWriter(factory, conf)
    retry.open(0, 0)
    (1 to 10).foreach(i => retry.process(row(i)))
    retry.close(null)
    val ids = svc.read("s0", graft.sources.ShardPos.Beginning,
      svc.latestPosition("s0"))
      .flatMap(_.subRecords.map(r => new String(r.data, "UTF-8"))).toSeq
    assert(ids.sorted == (1 to 10).map(i => s"id-$i").sorted, ids.toString)
  }

  test("per-shard rate cap: two hot keys routed to ONE shard are jointly " +
      "capped at the shard rate while another shard's traffic proceeds " +
      "from its own bucket (KPL per-shard RateLimit, reference.conf:283-301)") {
    import graft.sources.{InMemoryShardService, KeyRouting, ShardServiceRegistry}
    val shards = IndexedSeq("shard-0", "shard-1")
    val svc = new InMemoryShardService("rate-shard", shards)
    val id = ShardServiceRegistry.register(svc)
    // derive keys from the actual routing, not hardcoded hash guesses
    def keysFor(shard: String, n: Int): Seq[String] =
      Iterator.from(0).map(i => s"key-$i")
        .filter(k => KeyRouting.shardFor(k, shards) == shard).take(n).toSeq
    val Seq(hot1, hot2) = keysFor("shard-0", 2)
    val Seq(cool) = keysFor("shard-1", 1)

    // rate chosen so the two hypotheses' floors separate widely:
    // per-shard buckets pace the interleaved stream at ~0.55 s (each
    // shard's 360 records at 600/s, buckets refilling concurrently),
    // while a single shared per-writer bucket would need ~1.15 s for
    // all 720 — the 0.90 upper bound sits 0.35 s of slack above the
    // expected value and 0.25 s below the shared-bucket floor, so it
    // discriminates without being GC/CI-load flaky
    val rate = 600.0
    val writer = new GraftSinkWriter(
      ShardServiceAsyncClient.Factory(id),
      ProducerConf("rate-shard", rateLimitPerShard = Some(rate)))
    assert(writer.open(0, 0))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("partitionKey",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("data",
        org.apache.spark.sql.types.BinaryType)))
    def row(key: String, i: Int) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](key, s"$key-$i".getBytes("UTF-8")), schema)
    // interleave 360 shard-0 records (180 per hot key) with 360 shard-1
    // records: a 720-record stream where half the load shares one shard
    val t0 = System.nanoTime()
    (0 until 360).foreach { i =>
      writer.process(row(if (i % 2 == 0) hot1 else hot2, i))
      writer.process(row(cool, i))
    }
    writer.close(null)
    val elapsed = (System.nanoTime() - t0) * 1e-9
    // joint cap: hot1+hot2 share shard-0's bucket — 360 records at
    // 600/s is a ~0.55s floor (less one 30-token burst width) even
    // though each key alone would only need ~0.27s
    assert(elapsed >= 0.45,
      f"shard-0's 360 records at 600/s must take >= ~0.55s; took $elapsed%.2fs")
    // independence: shard-1's bucket refills while shard-0 blocks — a
    // single shared per-writer bucket would pace all 720 records
    // (~1.15s incl. burst); per-shard buckets overlap the two streams
    assert(elapsed <= 0.90,
      f"shard-1 traffic must not queue behind shard-0's bucket; took $elapsed%.2fs")
    // delivery is complete and routed as derived
    def count(shard: String) =
      svc.read(shard, graft.sources.ShardPos.Beginning,
        svc.latestPosition(shard)).map(_.subRecords.size).sum
    assert(count("shard-0") == 360 && count("shard-1") == 360)
  }

  test("a window smaller than one PutRecords collection does not hang: " +
      "the writer ships the transport's buffer before blocking on it") {
    import graft.sources.{InMemoryShardService, ShardPos, ShardServiceRegistry}
    import graft.transport.{HttpRecordClient, HttpShardService,
      KinesisWireStub, RetryPolicy}
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val store = new InMemoryShardService("small-window", Seq("s0", "s1"))
    val stub = new KinesisWireStub(store)
    val id = ShardServiceRegistry.register(new HttpShardService(
      stub.endpoint, "small-window", RetryPolicy(sleeper = _ => ())))
    val schema = StructType(Seq(StructField("partitionKey", StringType),
      StructField("data", BinaryType)))
    // 200 rows, window 100, default collection-max-count 500: the
    // 101st send would wait on acks that only a flush produces
    val writer = new GraftSinkWriter(HttpRecordClient.Factory(id),
      ProducerConf("small-window", maxOutstandingRequests = 100))
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val run = pool.submit(new Runnable {
        override def run(): Unit = {
          writer.open(0, 0)
          (1 to 200).foreach(i => writer.process(new GenericRowWithSchema(
            Array[Any](s"pk${i % 7}", s"$i".getBytes("UTF-8")), schema)))
          writer.close(null)
        }
      })
      // fail by timeout instead of hanging the suite
      run.get(15, java.util.concurrent.TimeUnit.SECONDS)
      val landed = Seq("s0", "s1").flatMap(sh => store.read(sh,
        ShardPos.Beginning, store.latestPosition(sh)).toSeq)
        .flatMap(_.subRecords.map(r => new String(r.data, "UTF-8")))
      assert(landed.sorted == (1 to 200).map(_.toString).sorted)
    } finally {
      pool.shutdownNow()
      stub.stop()
    }
  }
}
