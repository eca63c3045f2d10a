package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder
import graft.SparkEntry
import graft.config.ConsumerConf
import graft.metrics.{GraftMetrics, MetricsLevel, MetricsRecorder}
import graft.sources.ShardServiceRegistry
import graft.streaming.CommitHarness
import graft.transport.{HttpShardService, HttpTuning, RetryPolicy, SigV4Config}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** One consumed record as the harness sees it. */
final case class Rec(partitionKey: String, data: Array[Byte])

/** The per-record processing step: parse the JSON payload. A seeded one
  * record in 1,000 fails its first attempt, so every batch runs the
  * harness's retry round; the retry succeeds. Counts every attempt.
  * JVM-global state: the program runs in `local[N]`, one JVM. */
object Work {
  @volatile var seed = 0L
  val attempts = new LongAdder
  private val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  /** Record ids restart in every lane. */
  def newLane(): Unit = failedOnce.clear()

  private def selected(id: Long): Boolean = {
    var z = id * 0x9E3779B97F4A7C15L ^ seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    Math.floorMod(z ^ (z >>> 31), 1000L) == 0L
  }

  def attempt(r: Rec): Boolean = {
    attempts.increment()
    val j = Json.mapper.readTree(r.data)
    val id = j.get("id").asLong()
    !(selected(id) && failedOnce.add(id)) && j.has("k") && j.has("s")
  }
}

/** The program under test, driven only through its public entry points:
  * the `graft-kinesis` source and sink, `CommitHarness`, and
  * `SparkEntry.queries`.
  *
  * Usage: `Sut wire <cores> <workdir> <seed>` or
  * `Sut analytics <cores> <workdir> <sf-dir> <q1,q2,...>`. Once its
  * SparkSession is up it prints `@@ {"event":"session"}`, then serves line
  * commands on stdin (`Wire.commands`, `Analytics.commands`, `reset`,
  * `report`), one `@@ <json>` reply each; `exit` ends it.
  */
object Sut {
  def out(v: Map[String, Any]): Unit = {
    println("@@ " + Json.write(v))
    System.out.flush()
  }

  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e6

  /** Peak live heap: the largest heap occupancy left after any garbage
    * collection since `resetHeapPeak` (plus one forced collection when
    * read), so the figure does not depend on when the collector ran. */
  private val liveHeapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  locally {
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val heap = heapPools.map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
        liveHeapPeak.accumulateAndGet(used, math.max)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = liveHeapPeak.set(0L)
  def heapPeakMb: Double = {
    System.gc()
    math.max(liveHeapPeak.get, liveHeap) / 1048576.0
  }
  /** Heap occupancy left by the last collection. */
  def liveHeap: Long =
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  def main(args: Array[String]): Unit = {
    val Array(mode, cores, workdir) = args.take(3)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$mode")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new SchedulerProbe
    spark.sparkContext.addSparkListener(probe)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val commands: PartialFunction[Array[String], Map[String, Any]] = mode match {
      case "wire" => new Wire(spark, probe, workdir, args(3).toLong, in).commands
      case "analytics" =>
        new Analytics(spark, probe, workdir, args(3), args(4).split(",").toSeq).commands
    }
    out(Map("event" -> "session"))
    var line = in.readLine()
    while (line != null && line.trim != "exit") {
      val a = line.trim.split("\\s+")
      out(a(0) match {
        case "reset" => Thread.sleep(300); Trace.reset(); Map("event" -> "reset")
        case "report" => Report.collect()
        case _ => commands(a)
      })
      line = in.readLine()
    }
    spark.stop()
    // wire clients leave non-daemon threads behind; the run is over
    sys.exit(0)
  }
}

/** consume → process → produce over the Kinesis-shaped wire. */
final class Wire(spark: SparkSession, probe: SchedulerProbe, workdir: String,
    seed: Long, in: java.io.BufferedReader) {
  import spark.implicits._
  Work.seed = seed

  private val conf = ConsumerConf("perfbench", "perfbench",
    failedMessageRetries = 1, failureTolerancePercentage = 0.25)
  private val region = "us-east-1"
  private val creds = graft.transport.AwsCredentials(
    "AKIDPERFBENCHSTUB", "perfbench/stub/secret")
  private def signing = Map("region" -> region,
    "access-key-id" -> creds.accessKeyId,
    "secret-access-key" -> creds.secretAccessKey)

  // per-query harness and sink accounting, driver side
  private val stats = scala.collection.mutable.ArrayBuffer
    .empty[(Long, CommitHarness.BatchStats)]

  private def sourceOptions(endpoint: String, stream: String): Map[String, String] =
    if (!Trace.enabled) signing ++ Map("endpoint" -> endpoint, "stream-name" -> stream)
    else {
      val http = new HttpShardService(endpoint, stream, RetryPolicy(),
        Some(SigV4Config(region, creds)), HttpTuning(),
        MetricsRecorder.forLevel(MetricsLevel.Detailed, stream))
      Map("service.id" -> ShardServiceRegistry.register(new TimingShardService(http)))
    }

  private def start(tag: String, source: Map[String, String],
      outEp: String): StreamingQuery = {
    val sinkOptions = signing ++ Map("endpoint" -> outEp, "stream-name" -> s"$tag-out")
    spark.readStream.format("graft-kinesis")
      .options(source)
      .load()
      .select("partitionKey", "data").as[Rec]
      .writeStream
      .option("checkpointLocation", s"$workdir/checkpoints/$tag")
      .foreachBatch { (ds: Dataset[Rec], batchId: Long) =>
        val g = Trace.batchGroup(ds.sparkSession.sparkContext.getLocalProperty)
        val (dead, st) = Trace.span("streaming.process_batch", g, "microbatch.trigger") {
          CommitHarness.processBatch[Rec](ds, (r: Rec) => Work.attempt(r), conf)
        }
        stats.synchronized(stats += ((batchId, st)))
        // produce only what the harness did not dead-letter, in the
        // batch's own (per-shard, per-key) order
        val produced: DataFrame =
          if (st.deadLettered == 0) ds.toDF()
          else {
            val deadIds = dead.map(r => Json.mapper.readTree(r.data).get("id").asLong())
              .collect().toSet
            ds.toDF().filter(!get_json_object(col("data").cast("string"), "$.id")
              .cast("long").isin(deadIds.toSeq: _*))
          }
        Trace.span("sinks.write", g, "microbatch.trigger") {
          produced.write.format("graft-kinesis").options(sinkOptions)
            .mode("append").save()
        }
        CommitHarness.freeDeadLetters(dead)
        ()
      }
      .start()
  }

  /** Runs one lane; `drain` returns once the backlog is processed, a live
    * lane runs until `stop` arrives on stdin. `traced` lanes read through
    * a [[TimingShardService]] and record spans. */
  private def lane(tag: String, inEp: String, outEp: String, live: Boolean,
      traced: Boolean): Map[String, Any] = {
    Trace.enabled = traced
    Work.newLane()
    stats.synchronized(stats.clear())
    val attempts0 = Work.attempts.sum()
    val metrics0 = GraftMetrics.snapshot()
    val sched0 = probe.snapshot
    Sut.resetHeapPeak()
    var cpu0 = Sut.cpuMs
    val t0 = System.nanoTime()
    val opts = sourceOptions(inEp, s"$tag-in")
    val q = start(tag, opts, outEp)
    if (live) {
      // a live lane's window opens once the query runs: the generator
      // starts then
      val deadline = System.nanoTime() + 30000000000L
      while (q.recentProgress.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      Sut.resetHeapPeak()
      cpu0 = Sut.cpuMs
      Sut.out(Map("event" -> "started", "tag" -> tag))
      var cmd = in.readLine()
      while (cmd != null && cmd.trim != "stop") cmd = in.readLine()
    }
    q.processAllAvailable()
    val cpu = Sut.cpuMs - cpu0
    q.stop()
    q.exception.foreach(e => throw e)
    val t1 = System.nanoTime()
    val heap = Sut.heapPeakMb
    Trace.enabled = false
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val st = stats.synchronized(stats.toVector)
    val metrics1 = GraftMetrics.snapshot()
    def delta(k: String): Long = metrics1.getOrElse(k, 0L) - metrics0.getOrElse(k, 0L)
    val sourceRequests = opts.get("service.id").map(id =>
      ShardServiceRegistry.get(id).asInstanceOf[TimingShardService].inner
        .asInstanceOf[HttpShardService].requestCount.get.toLong).getOrElse(-1L)
    Map(
      "event" -> "lane", "tag" -> tag, "traced" -> traced,
      "query_id" -> q.id.toString,
      "wall_s" -> (t1 - t0) / 1e9, "cpu_ms" -> cpu, "heap_peak_mb" -> heap,
      "records" -> st.map(_._2.batchSize).sum,
      "dead_lettered" -> st.map(_._2.deadLettered).sum,
      "retry_rounds" -> st.map(s => math.max(s._2.attempts - 1, 0)).sum,
      "attempts" -> (Work.attempts.sum() - attempts0),
      "batches" -> progress.map(p => Map(
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)),
      "sched" -> probe.since(sched0),
      "source_requests" -> sourceRequests,
      "get_records" -> delta(s"GetRecordsRequests[stream=$tag-in]"),
      "bytes_fetched" -> delta(s"BytesFetched[stream=$tag-in]"),
      "put_requests" -> delta(s"PutRecordsRequests[stream=$tag-out]"),
      "user_records_put" -> delta(s"UserRecordsPut[stream=$tag-out]"),
      "put_retries" -> delta(s"RetriesPerRecord[stream=$tag-out]"))
  }

  val commands: PartialFunction[Array[String], Map[String, Any]] = {
    // warm <in> <out>: the set-up's warm-up lane
    case Array("warm", inEp, outEp) =>
      lane("warm", inEp, outEp, live = false, traced = false) + ("event" -> "warm")
    // lane <tag> <in> <out> <drain|live> <traced 0|1>
    case Array("lane", tag, inEp, outEp, kind, traced) =>
      lane(tag, inEp, outEp, kind == "live", traced == "1")
  }
}

/** A fixed mix of `SparkEntry.queries` through the `noop` sink. */
final class Analytics(spark: SparkSession, probe: SchedulerProbe,
    workdir: String, sfDir: String, names: Seq[String]) {

  /** Largest live heap at the end of a query in this pass. */
  private var passPeak = 0L

  /** Samples the live heap at the query's end, its cached data still
    * held, after a full collection (so the figure does not depend on when
    * the collector last ran, as young collections would leave dead
    * objects in the old generation); then frees the cached data. The
    * first collection lets Spark's ContextCleaner drop the broadcasts and
    * shuffles of earlier queries, the second reclaims them, so the sample
    * does not depend on which query ran before. */
  private def release(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    passPeak = math.max(passPeak, Sut.liveHeap)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Builds, plans (traced only) and executes one query; returns the
    * wall of each step. `sink` writes the result. */
  private def runOne(name: String, group: String, sink: DataFrame => Unit)
      : Map[String, Double] = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.group", group)
    val cached0 = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t1 = System.nanoTime()
    Trace.record("operators.build", group, "query", t0, t1)
    Trace.count("operators.cuts", (sc.getPersistentRDDs.keySet -- cached0).size)
    if (Trace.enabled) Trace.span("operators.plan", group, "query") {
      df.queryExecution.executedPlan
    }
    val t2 = System.nanoTime()
    sink(df)
    val t3 = System.nanoTime()
    Trace.record("operators.exec", group, "query", t2, t3)
    Trace.record("query", group, "", t0, t3)
    sc.setLocalProperty("perfbench.group", null)
    release()
    System.err.println(f"[perfbench] $group%s build ${(t1 - t0) / 1e9}%.3f s, " +
      f"exec ${(t3 - t2) / 1e9}%.3f s")
    Map("build_s" -> (t1 - t0) / 1e9, "plan_exec_s" -> (t3 - t2) / 1e9,
      "wall_s" -> ((t1 - t0) + (t3 - t2)) / 1e9)
  }

  /** Warm-up pass: results go to parquet for the oracle check. */
  private def warm(): Map[String, Any] = {
    val warmDir = s"$workdir/results"
    val warm = names.map { n =>
      n -> (try runOne(n, s"q$n#warm", _.coalesce(1).write.mode("overwrite")
        .parquet(s"$warmDir/$n"))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: $e"); Map("error" -> 1.0) })
    }.toMap
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$warmDir/oracle_sql.json"),
      Json.write(oracle))
    Map("event" -> "warm", "queries" -> warm)
  }

  val commands: PartialFunction[Array[String], Map[String, Any]] = {
    case Array("warm") => warm()
    // timed <seconds> <alternate 0|1>: whole passes until the time is up;
    // with alternate, half the passes after the first are traced
    case Array("timed", seconds, alternate) => timed(seconds.toDouble, alternate == "1")
  }

  private def timed(seconds: Double, alternate: Boolean): Map[String, Any] = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    // alternate: pass 0 settles the JIT, then untraced (U) and traced (T)
    // passes follow in T U U T order, so neither side gets the warmer slot
    val minPasses = if (alternate) 5 else 4
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = passes.size
      val traced = alternate && p > 0 && Set(0, 3)((p - 1) % 4)
      Trace.enabled = traced
      val sched0 = probe.snapshot
      passPeak = 0L
      val cpu0 = Sut.cpuMs
      val tp = System.nanoTime()
      val qs = names.map { n =>
        n -> (try runOne(n, s"q$n#$p", _.write.format("noop").mode("overwrite").save())
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $n failed: $e"); Map("error" -> 1.0) })
      }.toMap
      val wall = (System.nanoTime() - tp) / 1e9
      val cpu = Sut.cpuMs - cpu0
      val heap = passPeak / 1048576.0
      Trace.enabled = false
      passes += Map("traced" -> traced, "queries" -> qs, "wall_s" -> wall,
        "cpu_ms" -> cpu, "heap_peak_mb" -> heap, "sched" -> probe.since(sched0))
    }
    Map("event" -> "timed", "passes" -> passes.toVector)
  }
}

/** Counters and the span dump of a traced run. */
object Report {
  def collect(): Map[String, Any] = {
    Thread.sleep(300) // let the listener bus deliver the last job ends
    Map("event" -> "report",
      "counters" -> Trace.counterSnapshot,
      "anchor_wall_ms" -> Trace.anchorWallMs, "anchor_ns" -> Trace.anchorNs,
      "spans" -> Trace.allSpans.map(s =>
        Seq(s.name, s.group, s.parent, s.startNs, s.endNs)))
  }
}
