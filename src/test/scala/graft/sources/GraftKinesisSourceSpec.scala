package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import graft.SparkSpec
import graft.sources.{RawShardRecord, SubRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark twin of the reference's source integration suite
  * (it/stream/KinesisSourceGraphStageIntegrationSpec.scala:26-130):
  * exactly-all-messages, per-shard ordering, restart read-position
  * persistence, deaggregation, initial positions, admission control.
  */
class GraftKinesisSourceSpec extends SparkSpec {

  private def mkService(nPerShard: Int, shards: Int = 2)
      : InMemoryShardService = {
    val svc = new InMemoryShardService("it-stream",
      (0 until shards).map(i => s"shard-$i"))
    for (s <- 0 until shards; n <- 1 to nPerShard)
      svc.append(s"shard-$s", RawShardRecord.single(s"shard-$s", BigInt(n),
        1700000000000000L + n, s"$n".getBytes(UTF_8)))
    svc
  }

  private def readAll(svcId: String, tmp: String,
      extra: Map[String, String] = Map.empty): DataFrame = {
    var reader = spark.readStream.format("graft-kinesis")
      .option("service.id", svcId)
    extra.foreach { case (k, v) => reader = reader.option(k, v) }
    val name = s"sourcespec_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = reader.load()
      .selectExpr("shardId", "CAST(seqNo AS LONG) AS seq", "subSeqNo",
        "CAST(data AS STRING) AS payload", "partitionKey")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", s"$tmp/chk").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("delivers exactly all messages across shards (no loss, no dup)") {
    val svc = mkService(100)
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    val got = readAll(id, tmp)
    assert(got.count() == 200)
    assert(got.select("shardId", "seq").distinct().count() == 200)
    val perShard = got.groupBy("shardId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perShard == Map("shard-0" -> 100L, "shard-1" -> 100L))
  }

  test("restart resumes from checkpoint — read-position persistence, " +
      "no-commit => no-progress analogue") {
    val svc = mkService(50)
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-kinesis")
        .option("service.id", id).load()
        .selectExpr("shardId", "CAST(seqNo AS LONG) AS seq")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(s"$tmp/out").count() == 100)
    // more data arrives while the query is down
    for (s <- 0 until 2; n <- 51 to 80)
      svc.append(s"shard-$s", RawShardRecord.single(s"shard-$s", BigInt(n),
        1700000000000000L + n, s"$n".getBytes(UTF_8)))
    runOnce() // same checkpoint dir: must resume at seq 50, not replay
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 160, "restart must neither lose nor duplicate")
    assert(out.select("shardId", "seq").distinct().count() == 160)
    val seqs = out.select("seq").collect().map(_.getLong(0))
    assert(seqs.count(_ > 50) == 60)
  }

  test("KPL-aggregated records deaggregate into subSeqNo sub-records " +
      "(S13; ConsumerProcessingManagerSpec aggregated cases)") {
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    svc.append("shard-0", RawShardRecord("pk", BigInt(1), 1L,
      Seq("a", "b", "c").map(x => SubRecord(s"pk-$x", x.getBytes(UTF_8)))))
    svc.append("shard-0", RawShardRecord.single("pk", BigInt(2), 2L,
      "d".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    val got = readAll(id, tmp).orderBy("seq", "subSeqNo")
      .select("seq", "subSeqNo", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 0L, "a"), (1L, 1L, "b"), (1L, 2L, "c"),
      (2L, 0L, "d")))
  }

  test("initial-position LATEST skips existing records") {
    val svc = mkService(30, shards = 1)
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    var reader = spark.readStream.format("graft-kinesis")
      .option("service.id", id).option("initial-position", "LATEST")
    val q = reader.load().selectExpr("CAST(seqNo AS LONG) AS seq")
      .writeStream.format("memory").queryName("latest_test")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      q.processAllAvailable()
      assert(spark.table("latest_test").count() == 0)
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(31), 31L,
        "31".getBytes(UTF_8)))
      q.processAllAvailable()
      val seqs = spark.table("latest_test").collect().map(_.getLong(0)).toSeq
      assert(seqs == Seq(31L))
    } finally q.stop()
  }

  test("initial-position AT_TIMESTAMP starts at the first record arriving " +
      "at/after the timestamp") {
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    // arrival micros: records 1..20 at t = n * 1000 ms
    for (n <- 1 to 20)
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(n),
        n * 1000000L, s"$n".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    val got = readAll(id, tmp,
      Map("initial-position" -> "AT_TIMESTAMP:15000")) // 15s => record 15
    val seqs = got.select("seq").collect().map(_.getLong(0)).toSet
    assert(seqs == (15 to 20).map(_.toLong).toSet, s"got $seqs")
  }

  test("admission control caps records per shard per micro-batch " +
      "(kcl.maxRecords analogue)") {
    val svc = mkService(25, shards = 1)
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    val name = "cap_test"
    val q = spark.readStream.format("graft-kinesis")
      .option("service.id", id).option("max-records-per-shard", "10")
      .load().selectExpr("CAST(seqNo AS LONG) AS seq")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 25) // all delivered eventually
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.forall(_ <= 10), s"batch sizes: ${batches.toSeq}")
      assert(batches.length >= 3)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains everything in capped batches then " +
      "stops (bounded-replay batch pump)") {
    import org.apache.spark.sql.streaming.Trigger
    val svc = mkService(35, shards = 1)
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    val q = spark.readStream.format("graft-kinesis")
      .option("service.id", id).option("max-records-per-shard", "10")
      .load().selectExpr("CAST(seqNo AS LONG) AS seq")
      .writeStream.format("memory").queryName("avail_now")
      .option("checkpointLocation", s"$tmp/chk")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-stop")
    val seqs = spark.table("avail_now").collect().map(_.getLong(0)).toSet
    assert(seqs == (1 to 35).map(_.toLong).toSet)
  }

  test("AvailableNow skips shards discovered after the end-position " +
      "freeze (read-only-data-available-at-start contract)") {
    // mutable shard list to model resharding mid-run
    val inner = new InMemoryShardService("it-stream", Seq("shard-0", "shard-new"))
    for (n <- 1 to 5) {
      inner.append("shard-0", RawShardRecord.single("pk", BigInt(n), n,
        s"$n".getBytes(UTF_8)))
      inner.append("shard-new", RawShardRecord.single("pk", BigInt(n), n,
        s"$n".getBytes(UTF_8)))
    }
    @volatile var visible = Seq("shard-0")
    val svc = new ShardService {
      override def streamName: String = inner.streamName
      override def listShards(): Seq[String] = visible
      override def latestPosition(s: String): ShardPos = inner.latestPosition(s)
      override def positionAtTimestamp(s: String, t: Long): ShardPos =
        inner.positionAtTimestamp(s, t)
      override def positionAfter(s: String, f: ShardPos, m: Int): ShardPos =
        inner.positionAfter(s, f, m)
      override def read(s: String, f: ShardPos, t: ShardPos) =
        inner.read(s, f, t)
    }
    val id = ShardServiceRegistry.register(svc)
    val stream = new GraftKinesisMicroBatchStream(Map("service.id" -> id))
    stream.prepareForTriggerAvailableNow() // freeze: only shard-0 known
    visible = Seq("shard-0", "shard-new") // resharding after the freeze
    val start = stream.initialOffset().asInstanceOf[GraftShardOffsets]
    val end = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    assert(end.positions("shard-0") == ShardPos(BigInt(5), 0L))
    // new shard must be capped at its start: zero records planned
    val parts = stream.planInputPartitions(start, end)
    assert(parts.map(_.asInstanceOf[GraftShardInputPartition].shardId)
      .toSeq == Seq("shard-0"))
  }

  test("positionAtTimestamp honors 'first arrival >= ts' even with " +
      "out-of-order arrival timestamps") {
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    // arrivals: 10, 30, 20, 40 — out of order at index 2
    Seq(10L, 30L, 20L, 40L).zipWithIndex.foreach { case (t, i) =>
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(i + 1), t,
        s"$i".getBytes(UTF_8)))
    }
    // first arrival >= 25 is seq 2 (t=30): position = predecessor seq 1
    assert(svc.positionAtTimestamp("shard-0", 25L) == ShardPos(BigInt(1), 0L))
    // first arrival >= 5 is the head: Beginning
    assert(svc.positionAtTimestamp("shard-0", 5L) == ShardPos.Beginning)
    // no arrival >= 100: everything is before the timestamp
    assert(svc.positionAtTimestamp("shard-0", 100L) == ShardPos(BigInt(4), 0L))
  }

  test("graceful stop during an in-flight batch: committed batches are " +
      "never redelivered, the aborted batch is fully redelivered " +
      "(reference graceful-shutdown matrix — abort in-flight, keep acked)") {
    import GraftKinesisSourceSpec._
    val svc = mkService(30, shards = 1)
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stop").toString
    seenSeqs.clear()
    val q = spark.readStream.format("graft-kinesis")
      .option("service.id", id).option("max-records-per-shard", "10")
      .load().selectExpr("CAST(seqNo AS LONG) AS seq")
      .writeStream
      .option("checkpointLocation", s"$tmp/chk")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val seqs = df.collect().map(_.getLong(0))
        if (seqs.exists(_ > 10)) {
          // second batch: signal the test thread, then block until the
          // stop() interrupt aborts this batch mid-flight
          midBatch.countDown()
          Thread.sleep(60000)
        }
        seqs.foreach(s => seenSeqs.put(s, java.lang.Boolean.TRUE))
        ()
      }
      .start()
    assert(midBatch.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "second batch must start")
    q.stop() // graceful shutdown while batch 1 is processing
    assert(seenSeqs.keySet().size() == 10,
      s"only batch 0 may complete: ${seenSeqs.keySet()}")
    // restart: batch 0 (seqs 1-10) committed, never redelivered; the
    // aborted batch redelivers from seq 11 — no loss, duplication
    // bounded to the one in-flight batch (SURVEY §7.3.1)
    seenSeqs.clear()
    val q2 = spark.readStream.format("graft-kinesis")
      .option("service.id", id).option("max-records-per-shard", "10")
      .load().selectExpr("CAST(seqNo AS LONG) AS seq")
      .writeStream
      .option("checkpointLocation", s"$tmp/chk")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().map(_.getLong(0))
          .foreach(s => seenSeqs.put(s, java.lang.Boolean.TRUE))
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(seenSeqs.keySet().asScala.map(_.toLong) == (11L to 30L).toSet,
      "restart must redeliver exactly the uncommitted range")
  }

  test("resharding: a split mid-stream holds children at their position " +
      "until the parent is drained in the START offset (KCL parent-" +
      "before-child lease handover; ConsumerProcessingManager" +
      "IntegrationSpec.scala:33-69 analogue), no loss/dup across the split") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    for (n <- 1 to 25)
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(n), n,
        s"$n".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val stream = new GraftKinesisMicroBatchStream(Map("service.id" -> id))
    val o0 = stream.initialOffset().asInstanceOf[GraftShardOffsets]
    val o1 = stream.latestOffset(o0, ReadLimit.maxRows(10))
      .asInstanceOf[GraftShardOffsets]
    assert(o1.positions("shard-0") == ShardPos(BigInt(10), 0L))

    // split while the parent still has 15 unconsumed records
    svc.split("shard-0", Seq("shard-1", "shard-2"))
    for (c <- 1 to 2; n <- 1 to 5)
      svc.append(s"shard-$c", RawShardRecord.single("pk", BigInt(n), 100 + n,
        s"c$c-$n".getBytes(UTF_8)))
    // the closed parent rejects further writes
    intercept[IllegalStateException] {
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(26), 26L,
        "26".getBytes(UTF_8)))
    }

    // trigger 2: parent catches up to its end; children stay frozen at
    // Beginning (parent was NOT drained in the start offset o1)
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    // the closed parent drains through its final record -> SHARD_END
    assert(o2.positions("shard-0") == ShardPos.ShardEnd)
    assert(o2.positions("shard-1") == ShardPos.Beginning)
    assert(o2.positions("shard-2") == ShardPos.Beginning)
    assert(stream.planInputPartitions(o1, o2)
      .map(_.asInstanceOf[GraftShardInputPartition].shardId).toSeq ==
      Seq("shard-0"))

    // trigger 3: start offset o2 has the parent at its end -> children
    // advance; the parent plans nothing further
    val o3 = stream.latestOffset(o2, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    assert(o3.positions("shard-1") == ShardPos(BigInt(5), 0L))
    assert(o3.positions("shard-2") == ShardPos(BigInt(5), 0L))
    assert(stream.planInputPartitions(o2, o3)
      .map(_.asInstanceOf[GraftShardInputPartition].shardId).toSeq.sorted ==
      Seq("shard-1", "shard-2"))

    // merge the children back: grandchild gated until BOTH parents are
    // drained in the start offset, then advances
    svc.merge(Seq("shard-1", "shard-2"), "shard-3")
    for (n <- 1 to 3)
      svc.append("shard-3", RawShardRecord.single("pk", BigInt(n), 200 + n,
        s"m-$n".getBytes(UTF_8)))
    val o4 = stream.latestOffset(o3, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    assert(o4.positions("shard-3") == ShardPos(BigInt(3), 0L),
      "both parents drained in o3: merge child must advance")
  }

  test("resharding: a merge child stays gated while ANY parent is " +
      "undrained") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val svc = new InMemoryShardService("it-stream", Seq("shard-a", "shard-b"))
    for (n <- 1 to 2)
      svc.append("shard-a", RawShardRecord.single("pk", BigInt(n), n,
        s"$n".getBytes(UTF_8)))
    // shard-b stays empty: a closed empty parent is trivially drained
    svc.merge(Seq("shard-a", "shard-b"), "shard-c")
    svc.append("shard-c", RawShardRecord.single("pk", BigInt(1), 10L,
      "c".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val stream = new GraftKinesisMicroBatchStream(Map("service.id" -> id))
    val o0 = stream.initialOffset().asInstanceOf[GraftShardOffsets]
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    // shard-a had unconsumed data at o0 -> shard-c must hold
    assert(o1.positions("shard-a") == ShardPos.ShardEnd,
      "closed parent drained in this trigger checkpoints as SHARD_END")
    assert(o1.positions("shard-c") == ShardPos.Beginning)
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    assert(o2.positions("shard-c") == ShardPos(BigInt(1), 0L))
  }

  test("resharding end-to-end: every parent record is delivered in an " +
      "earlier micro-batch than every child record; exactly-once across " +
      "the split") {
    import GraftKinesisSourceSpec._
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    for (n <- 1 to 25)
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(n), n,
        s"$n".getBytes(UTF_8)))
    svc.split("shard-0", Seq("shard-1", "shard-2"))
    for (c <- 1 to 2; n <- 1 to 10)
      svc.append(s"shard-$c", RawShardRecord.single("pk", BigInt(n), 100 + n,
        s"c$c-$n".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-reshard").toString
    batchLog.clear()
    val q = spark.readStream.format("graft-kinesis")
      .option("service.id", id).option("max-records-per-shard", "10")
      .load().selectExpr("shardId", "CAST(seqNo AS LONG) AS seq")
      .writeStream
      .option("checkpointLocation", s"$tmp/chk")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        df.collect().foreach(r =>
          batchLog.add((bid, r.getString(0), r.getLong(1))))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val rows = batchLog.asScala.toSeq
    // exactly-once: 25 parent + 20 child records, no duplicates
    assert(rows.size == 45, s"expected 45 deliveries, got ${rows.size}")
    assert(rows.map(r => (r._2, r._3)).distinct.size == 45, "no duplicates")
    val parentBatches = rows.filter(_._2 == "shard-0").map(_._1)
    val childBatches = rows.filter(_._2 != "shard-0").map(_._1)
    assert(parentBatches.nonEmpty && childBatches.nonEmpty)
    assert(parentBatches.max < childBatches.min,
      s"child records must only flow after the parent fully drains: " +
        s"parent batches ${parentBatches.distinct.sorted}, " +
        s"child batches ${childBatches.distinct.sorted}")
  }

  test("SHARD_END survives a REAL checkpoint restart: a query whose WAL " +
      "holds the sentinel resumes cleanly, reads only the children, and " +
      "keeps working after the parent ages out between runs") {
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    for (n <- 1 to 8)
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(n), n,
        s"p$n".getBytes(UTF_8)))
    svc.split("shard-0", Seq("shard-1", "shard-2"))
    for (c <- 1 to 2; n <- 1 to 4)
      svc.append(s"shard-$c", RawShardRecord.single("pk", BigInt(n), 100 + n,
        s"c$c-$n".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-shardend").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-kinesis")
        .option("service.id", id).load()
        .selectExpr("shardId", "CAST(seqNo AS LONG) AS seq")
        .writeStream.format("parquet").option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // drains parent + children: WAL now holds shard-0 SHARD_END
    assert(spark.read.parquet(s"$tmp/out").count() == 16)
    // restart 1: Spark's OffsetSeqLog must hand SHARD_END back through
    // deserializeOffset; new child data flows, parent plans nothing
    for (c <- 1 to 2; n <- 5 to 6)
      svc.append(s"shard-$c", RawShardRecord.single("pk", BigInt(n), 200 + n,
        s"c$c-$n".getBytes(UTF_8)))
    runOnce()
    val afterRestart = spark.read.parquet(s"$tmp/out")
    assert(afterRestart.count() == 20, "restart across SHARD_END lost/duped")
    assert(afterRestart.filter(col("shardId") === "shard-0").count() == 8)
    // restart 2: the parent ages out of the listing between runs — the
    // SHARD_END entry drops cleanly and the query keeps consuming
    svc.expire("shard-0")
    for (c <- 1 to 2)
      svc.append(s"shard-$c", RawShardRecord.single("pk", BigInt(7), 300L,
        s"c$c-7".getBytes(UTF_8)))
    runOnce()
    val fin = spark.read.parquet(s"$tmp/out")
    assert(fin.count() == 22, "post-expiry restart must keep consuming")
    assert(fin.select("shardId", "seq").distinct().count() == 22)
  }

  test("retention expiry: a closed, fully-consumed shard that vanishes " +
      "from the listing drops cleanly from the offsets (SHARD_END lease " +
      "cleanup semantics)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    for (n <- 1 to 5)
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(n), n,
        s"$n".getBytes(UTF_8)))
    svc.split("shard-0", Seq("shard-1"))
    svc.append("shard-1", RawShardRecord.single("pk", BigInt(1), 10L,
      "c".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val stream = new GraftKinesisMicroBatchStream(Map("service.id" -> id))
    val o0 = stream.initialOffset().asInstanceOf[GraftShardOffsets]
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    assert(o1.positions("shard-0") == ShardPos.ShardEnd)
    // SHARD_END survives a WAL round-trip
    assert(GraftShardOffsets.fromJson(o1.json()) == o1)
    // retention expiry drops the drained parent from the listing
    svc.expire("shard-0")
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    assert(!o2.positions.contains("shard-0"),
      "a drained, aged-out shard must leave the offset map")
    // the child (whose parent lineage now points at an expired shard)
    // still advances: an expired parent is drained by definition
    assert(o2.positions("shard-1") == ShardPos(BigInt(1), 0L))
  }

  test("retention expiry: a NON-drained shard vanishing from the listing " +
      "fails loudly (unread records aged out = data loss), unless " +
      "fail-on-data-loss=false") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val svc = new InMemoryShardService("it-stream", Seq("shard-0"))
    for (n <- 1 to 25)
      svc.append("shard-0", RawShardRecord.single("pk", BigInt(n), n,
        s"$n".getBytes(UTF_8)))
    val id = ShardServiceRegistry.register(svc)
    val stream = new GraftKinesisMicroBatchStream(Map("service.id" -> id))
    val o0 = stream.initialOffset().asInstanceOf[GraftShardOffsets]
    // consume only 10 of 25, then the shard closes and ages out
    val o1 = stream.latestOffset(o0, ReadLimit.maxRows(10))
      .asInstanceOf[GraftShardOffsets]
    assert(o1.positions("shard-0") == ShardPos(BigInt(10), 0L))
    svc.split("shard-0", Seq("shard-1"))
    svc.expire("shard-0")
    val e = intercept[IllegalStateException] {
      stream.latestOffset(o1, ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("shard-0") &&
      e.getMessage.contains("data loss"), e.getMessage)
    // opt-out: conscious lossy catch-up drops the entry and continues
    val lossy = new GraftKinesisMicroBatchStream(
      Map("service.id" -> id, "fail-on-data-loss" -> "false"))
    val o2 = lossy.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardOffsets]
    assert(!o2.positions.contains("shard-0"))
  }

  test("per-shard arrival order is preserved within partitions") {
    val svc = mkService(40, shards = 1)
    val id = ShardServiceRegistry.register(svc)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    val got = readAll(id, tmp)
    // single shard -> single input partition per batch; collect in the
    // physical row order of the source output (no re-sort)
    val seqs = got.select("seq").collect().map(_.getLong(0)).toSeq
    assert(seqs == seqs.sorted, "per-shard order must be preserved")
  }

  /** A service over `inner` whose `positionAfter` runs `hook` first. */
  private def hooked(inner: ShardService)(hook: String => Unit): ShardService =
    new ShardService {
      override def streamName: String = inner.streamName
      override def listShards(): Seq[String] = inner.listShards()
      override def latestPosition(s: String): ShardPos = inner.latestPosition(s)
      override def positionAtTimestamp(s: String, t: Long): ShardPos =
        inner.positionAtTimestamp(s, t)
      override def positionAfter(s: String, f: ShardPos, m: Int): ShardPos = {
        hook(s); inner.positionAfter(s, f, m)
      }
      override def read(s: String, f: ShardPos, t: ShardPos) =
        inner.read(s, f, t)
    }

  test("one trigger resolves its shards concurrently: two shards are " +
      "inside positionAfter at the same time, offsets unchanged") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val inner = mkService(6, shards = 4)
    val inside = new CountDownLatch(2)
    val svc = hooked(inner) { s =>
      inside.countDown()
      if (!inside.await(2, TimeUnit.SECONDS))
        throw new IllegalStateException(s"positionAfter($s) ran alone")
    }
    val stream = new GraftKinesisMicroBatchStream(
      Map("service.id" -> ShardServiceRegistry.register(svc)))
    try {
      val end = stream.latestOffset(stream.initialOffset(), ReadLimit.maxRows(16))
        .asInstanceOf[GraftShardOffsets]
      assert(end.positions == (0 until 4).map(i =>
        s"shard-$i" -> ShardPos(BigInt(4), 0L)).toMap)
    } finally stream.stop()
  }

  test("a failing shard fails the pass with its own exception, unwrapped, " +
      "without waiting for the other shards, which are cancelled") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val cancelled = new CountDownLatch(1)
    val svc = hooked(mkService(3, shards = 2)) {
      case "shard-0" =>
        try Thread.sleep(10000) catch {
          case e: InterruptedException => cancelled.countDown(); throw e
        }
      case s => throw new graft.transport.KinesisApiException(
        "ResourceNotFoundException", s"$s not found", 400)
    }
    val stream = new GraftKinesisMicroBatchStream(
      Map("service.id" -> ShardServiceRegistry.register(svc)))
    try {
      val t0 = System.nanoTime()
      val e = intercept[graft.transport.KinesisApiException] {
        stream.latestOffset(stream.initialOffset(), ReadLimit.maxRows(4))
      }
      assert(e.getMessage == "ResourceNotFoundException (HTTP 400): " +
        "shard-1 not found")
      assert(System.nanoTime() - t0 < 5000000000L,
        "the failure must not wait for the slow shard")
      assert(cancelled.await(2, TimeUnit.SECONDS),
        "the slow shard's call must be interrupted")
    } finally stream.stop()
  }

  test("an interrupt of the stream thread cancels the pass at once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val entered = new CountDownLatch(2)
    val svc = hooked(mkService(3, shards = 2)) { _ =>
      entered.countDown(); Thread.sleep(10000)
    }
    val stream = new GraftKinesisMicroBatchStream(
      Map("service.id" -> ShardServiceRegistry.register(svc)))
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try stream.latestOffset(stream.initialOffset(), ReadLimit.maxRows(4))
      catch { case t: Throwable => outcome.set(t) })
    try {
      caller.start()
      assert(entered.await(2, TimeUnit.SECONDS), "both shards in flight")
      caller.interrupt()
      caller.join(2000)
      assert(!caller.isAlive, "the pass must not wait for its calls")
      assert(outcome.get.isInstanceOf[InterruptedException], outcome.get)
    } finally stream.stop()
  }
}

object GraftKinesisSourceSpec {
  // companion-held state: foreachBatch closures are serialized per task,
  // so shared state must be reached through the companion object
  val seenSeqs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]()
  val midBatch = new java.util.concurrent.CountDownLatch(1)
  // (batchId, shardId, seqNo) deliveries for the resharding ordering test
  val batchLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
}
