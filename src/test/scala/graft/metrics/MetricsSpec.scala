package graft.metrics

import graft.SparkSpec
import graft.models.ProducerEvent
import graft.sources.{InMemoryShardService, ShardServiceRegistry, SubRecord}
import graft.transport.{HttpRecordClient, HttpShardService, KinesisWireStub,
  RetryPolicy}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** Metrics parity (round-9 verdict item 3): the three-level config of
  * the reference (KCL `metricsLevel` none/summary/detailed + KPL
  * granularity) pinned against the in-process wire stub — exact
  * counter values for a known replay at each level, per-shard vs
  * per-stream dimensions, the `none` path provably zero-cost, and the
  * StreamingQueryListener bridge surfacing per-batch deltas.
  */
class MetricsSpec extends SparkSpec {

  private def withWire(level: MetricsLevel)(
      f: (KinesisWireStub, HttpShardService) => Unit): Unit = {
    GraftMetrics.reset()
    val store = new InMemoryShardService("m", Seq("shard-0", "shard-1"))
    val stub = new KinesisWireStub(store, listShardsPageSize = 10)
    val svc = new HttpShardService(stub.endpoint, "m",
      RetryPolicy(sleeper = _ => ()),
      metrics = MetricsRecorder.forLevel(level, "m"))
    try f(stub, svc) finally { stub.stop(); GraftMetrics.reset() }
  }

  /** The known replay: 10 records of 7 bytes each ("payload$i"), one
    * scripted throttle of entry 0 on the first request, collection
    * max 4 -> 3 initial PutRecords requests + 1 retry request. */
  private def replay(svc: HttpShardService, stub: KinesisWireStub): Unit = {
    val client = new HttpRecordClient(svc, collectionMaxCount = 4,
      sleeper = _ => ())
    stub.faults.throttlePlan.add(Set(0))
    (0 until 10).foreach(i =>
      client.put(ProducerEvent(s"key-$i", s"payld-$i"))(r =>
        assert(r.isEmpty)))
    client.close()
  }

  test("detailed: exact per-stream AND per-shard counters for the " +
      "known replay, produce and consume sides") {
    withWire(MetricsLevel.Detailed) { (stub, svc) =>
      replay(svc, stub)
      val s = GraftMetrics.snapshot()
      assert(s("UserRecordsPut[stream=m]") === 10L)
      assert(s("UserRecordsDataPut[stream=m]") === 70L)
      // 3 collection flushes (4+4+2) + 1 partial-failure retry
      assert(s("PutRecordsRequests[stream=m]") === 4L)
      assert(s("RetriesPerRecord[stream=m]") === 1L)
      assert(s("ErrorsByCode.ProvisionedThroughputExceededException" +
        "[stream=m]") === 1L)
      // per-shard rows sum to the stream row (detailed granularity)
      val perShard = s.collect {
        case (k, v) if k.startsWith("UserRecordsPut[stream=m,shard=") => v
      }
      assert(perShard.sum === 10L && perShard.forall(_ > 0L))
      // consume the stream back: fetch counters appear per shard
      val got = svc.listShards().flatMap(sh =>
        svc.read(sh, graft.sources.ShardPos.Beginning,
          graft.sources.ShardPos(BigInt(2).pow(159), 0L)).toSeq)
      assert(got.size === 10)
      val s2 = GraftMetrics.snapshot()
      assert(s2("RecordsFetched[stream=m]") === 10L)
      assert(s2("BytesFetched[stream=m]") === 70L)
      assert(s2.exists(_._1.startsWith("RecordsFetched[stream=m,shard=")))
      assert(s2("GetRecordsRequests[stream=m]") >= 2L)
    }
  }

  test("aggregation on: UserRecordsPut / UserRecordsDataPut count user " +
      "records and bytes, KinesisRecordsPut the fewer wire entries; a " +
      "throttled aggregate retries and acks each of its records once") {
    withWire(MetricsLevel.Detailed) { (stub, svc) =>
      val shards = svc.openShards().toIndexedSeq
      val client = new HttpRecordClient(svc, aggregationMaxCount = 500,
        shards = shards, sleeper = _ => ())
      val acks = new java.util.concurrent.atomic.AtomicInteger(0)
      // the first request's entry 0 is the aggregate of key-0's shard
      stub.faults.throttlePlan.add(Set(0))
      (0 until 10).foreach(i =>
        client.put(ProducerEvent(s"key-$i", s"payld-$i"))(r => {
          assert(r.isEmpty); acks.incrementAndGet() }))
      client.close()
      assert(acks.get() === 10)
      val s = GraftMetrics.snapshot()
      assert(s("UserRecordsPut[stream=m]") === 10L)
      assert(s("UserRecordsDataPut[stream=m]") === 70L)
      // one aggregate per shard the keys route to
      assert(s("KinesisRecordsPut[stream=m]") === 2L)
      assert(s("PutRecordsRequests[stream=m]") === 2L)
      val firstShard = graft.sources.KeyRouting.shardFor("key-0", shards)
      assert(s("RetriesPerRecord[stream=m]") === (0 until 10).count(i =>
        graft.sources.KeyRouting.shardFor(s"key-$i", shards) == firstShard))
    }
  }

  test("summary: identical stream totals, NO shard dimension rows") {
    withWire(MetricsLevel.Summary) { (stub, svc) =>
      replay(svc, stub)
      val s = GraftMetrics.snapshot()
      assert(s("UserRecordsPut[stream=m]") === 10L)
      assert(s("UserRecordsDataPut[stream=m]") === 70L)
      assert(s("PutRecordsRequests[stream=m]") === 4L)
      assert(!s.keys.exists(_.contains("shard=")),
        s"summary level must not emit shard dimensions: ${s.keys}")
    }
  }

  test("none: zero-cost — the shared Noop recorder, empty registry") {
    withWire(MetricsLevel.None) { (stub, svc) =>
      assert(svc.metrics eq MetricsRecorder.Noop,
        "level none must bind the no-op singleton (no counting code " +
          "on the hot path at all)")
      replay(svc, stub)
      assert(GraftMetrics.snapshot().isEmpty)
    }
  }

  test("metrics-level rides the self-describing id; `none` resolves " +
      "to the Noop singleton; an unknown level fails loudly") {
    def built(level: String): HttpShardService =
      ShardServiceRegistry.get(ShardServiceRegistry.resolveId(Map(
        "endpoint" -> "http://127.0.0.1:1", "stream-name" -> s"lv-$level",
        "metrics-level" -> level))).asInstanceOf[HttpShardService]
    assert(built("none").metrics eq MetricsRecorder.Noop)
    assert(built("summary").metrics.isInstanceOf[DimensionRecorder])
    intercept[IllegalArgumentException] { MetricsLevel.parse("verbose") }
  }

  test("StreamingQueryListener bridge: per-micro-batch metric deltas " +
      "surface with progress events (the upload-cadence analogue)") {
    GraftMetrics.reset()
    val store = new InMemoryShardService("mq", Seq("shard-0"))
    (1 to 6).foreach(n => store.appendAssigned("shard-0",
      Seq(SubRecord("k", s"v$n".getBytes(UTF_8)))))
    val stub = new KinesisWireStub(store, listShardsPageSize = 10)
    val listener = new GraftMetricsListener
    spark.streams.addListener(listener)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mx").toString
      val q = spark.readStream.format("graft-kinesis")
        .option("endpoint", stub.endpoint)
        .option("stream-name", "mq")
        .option("metrics-level", "detailed")
        .load()
        .selectExpr("CAST(data AS STRING) AS v")
        .writeStream.format("memory").queryName("mx_stream")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000L)
      assert(spark.table("mx_stream").count() === 6L)
      val deltas = listener.deltas
      assert(deltas.nonEmpty, "progress events must carry metric deltas")
      // RecordsFetched counts WIRE fetches (as CloudWatch would): the
      // engine may execute a micro-batch plan more than once, so the
      // count is a positive multiple of the 6 replayed records
      val fetched = deltas.flatMap(_._2.get("RecordsFetched[stream=mq]")).sum
      assert(fetched >= 6L && fetched % 6L == 0L,
        s"bridged deltas must cover the replayed records: $deltas")
      assert(deltas.exists(
        _._2.contains("RecordsFetched[stream=mq,shard=shard-0]")),
        "detailed level: per-shard rows ride the bridge too")
    } finally {
      spark.streams.removeListener(listener)
      stub.stop()
      GraftMetrics.reset()
    }
  }

  /** Drive one AvailableNow replay at `level` through the listener +
    * reporter(s) — the uploader-seam shape (round-10 verdict item 8). */
  private def replayThroughReporter(level: String, stream: String,
      reporter: MetricsReporter): Unit = {
    GraftMetrics.reset()
    val store = new InMemoryShardService(stream, Seq("shard-0", "shard-1"))
    (1 to 4).foreach(n => store.appendAssigned(
      s"shard-${n % 2}", Seq(SubRecord("k", s"v$n".getBytes(UTF_8)))))
    val stub = new KinesisWireStub(store, listShardsPageSize = 10)
    val listener = new GraftMetricsListener(reporter)
    spark.streams.addListener(listener)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mxr").toString
      val q = spark.readStream.format("graft-kinesis")
        .option("endpoint", stub.endpoint)
        .option("stream-name", stream)
        .option("metrics-level", level)
        .load()
        .selectExpr("CAST(data AS STRING) AS v")
        .writeStream.format("memory").queryName(s"mxr_$stream")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000L)
      assert(spark.table(s"mxr_$stream").count() === 4L)
    } finally {
      spark.streams.removeListener(listener)
      stub.stop()
      GraftMetrics.reset()
    }
  }

  test("uploader seam, detailed: the reporter receives parsed datums " +
      "whose dimension sets are exactly {stream} and {stream, shard} " +
      "(both shards present), and the JSON-lines file reporter writes " +
      "the same vocabulary") {
    val collecting = new MetricsReporter.Collecting
    val file = java.nio.file.Files.createTempFile("graft-metrics", ".jsonl")
    val tee = new MetricsReporter {
      val f = new MetricsReporter.JsonLines(file)
      override def report(b: Long, d: Seq[MetricDatum]): Unit = {
        collecting.report(b, d); f.report(b, d)
      }
    }
    replayThroughReporter("detailed", "mrd", tee)
    val datums = collecting.all.flatMap(_._2)
    assert(datums.nonEmpty, "the seam must receive datums")
    val dimSets = datums.map(_.dimensions.keySet).toSet
    assert(dimSets === Set(Set("stream"), Set("stream", "shard")),
      s"detailed emits per-stream AND per-shard dimension rows: $dimSets")
    assert(datums.forall(d => d.dimensions("stream") == "mrd"))
    val shards = datums.flatMap(_.dimensions.get("shard")).toSet
    assert(shards === Set("shard-0", "shard-1"),
      s"every shard gets its own dimension row: $shards")
    // names are parsed clean (no bracket syntax leaks into the datum)
    assert(datums.forall(d => !d.metric.contains("[")))
    assert(datums.exists(_.metric == "RecordsFetched"))
    assert(datums.forall(_.value > 0L), "deltas only, no zero rows")
    // the file stand-in carries the same vocabulary, line per datum
    val lines = java.nio.file.Files.readAllLines(file)
    assert(lines.size === datums.size)
    assert(lines.asScala.forall(l =>
      l.startsWith("""{"batch":""") && l.contains(""""metric":""") &&
        l.contains(""""stream":"mrd"""") && l.endsWith("}")))
    assert(lines.asScala.exists(_.contains(""""shard":"shard-1"""")))
  }

  test("uploader seam, summary: the reporter sees ONLY the {stream} " +
      "dimension set; none: the reporter is never invoked") {
    val collecting = new MetricsReporter.Collecting
    replayThroughReporter("summary", "mrs", collecting)
    val datums = collecting.all.flatMap(_._2)
    assert(datums.nonEmpty)
    assert(datums.map(_.dimensions.keySet).toSet === Set(Set("stream")),
      "summary level must emit only per-stream dimension rows")
    assert(datums.forall(d => d.dimensions("stream") == "mrs"))
    val silent = new MetricsReporter.Collecting
    replayThroughReporter("none", "mrn", silent)
    assert(silent.all.isEmpty,
      "level none records nothing, so the seam must stay silent")
  }
}
