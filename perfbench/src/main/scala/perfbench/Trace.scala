package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import graft.sources.{RawShardRecord, ShardInfo, ShardPos, ShardService}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `group` ties the spans of one
  * micro-batch (`b<batchId>`) or one query (`q<name>#<pass>`); an empty
  * group is resolved later by time containment. `parent` names the
  * layer span that caused this one. Times are `System.nanoTime`. */
final case class Span(name: String, group: String, parent: String,
    startNs: Long, endNs: Long)

/** In-memory span and counter store of the traced run; written out once,
  * when the run ends. Everything is a no-op while `enabled` is false. */
object Trace {
  @volatile var enabled = false

  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = TrieMap.empty[String, LongAdder]

  /** Wall clock ↔ nanoTime anchor, for events that carry wall time. */
  val anchorWallMs: Long = System.currentTimeMillis()
  val anchorNs: Long = System.nanoTime()
  def wallToNs(wallMs: Long): Long = anchorNs + (wallMs - anchorWallMs) * 1000000L

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.getOrElseUpdate(name, new LongAdder).add(n)
  def counterSnapshot: Map[String, Long] =
    counters.readOnlySnapshot().map { case (k, v) => k -> v.sum() }.toMap

  def record(name: String, group: String, parent: String,
      startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(name, group, parent, startNs, endNs))

  def span[T](name: String, group: String, parent: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally record(name, group, parent, t0, System.nanoTime())
    }

  /** Group of a micro-batch: `<queryId>/b<batchId>`, from the local
    * properties Structured Streaming sets on the jobs of each batch. */
  def batchGroup(prop: String => String): String =
    (Option(prop("sql.streaming.queryId")), Option(prop("streaming.sql.batchId"))) match {
      case (Some(q), Some(b)) => s"$q/b$b"
      case _ => ""
    }

  /** Group of the running task's micro-batch, on executors. */
  def taskGroup: String =
    Option(TaskContext.get()).map(tc => batchGroup(tc.getLocalProperty)).getOrElse("")

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Forget the warm-up: the report covers the timed window only. */
  def reset(): Unit = { spans.clear(); counters.clear() }
}

/** Times the calls into the transport layer from outside the program:
  * executor-side `read` and the driver-side offset calls. It wraps the
  * wire client the benchmark builds and is registered under the source's
  * `service.id`. */
final class TimingShardService(val inner: ShardService) extends ShardService {
  override def streamName: String = inner.streamName

  private def driver[T](f: => T): T =
    Trace.span("transport.driver", "", "microbatch.trigger")(f)

  override def listShards(): Seq[String] = driver(inner.listShards())
  override def shardInfo(shardId: String): ShardInfo =
    driver(inner.shardInfo(shardId))
  override def openShards(): Seq[String] = driver(inner.openShards())
  override def shardTopology(): Seq[ShardInfo] = driver(inner.shardTopology())
  override def latestPosition(shardId: String): ShardPos =
    driver(inner.latestPosition(shardId))
  override def positionAtTimestamp(shardId: String, tsMicros: Long): ShardPos =
    driver(inner.positionAtTimestamp(shardId, tsMicros))
  override def positionAfter(shardId: String, from: ShardPos,
      maxRecords: Int): ShardPos =
    driver(inner.positionAfter(shardId, from, maxRecords))

  override def read(shardId: String, from: ShardPos, to: ShardPos)
      : Iterator[RawShardRecord] = {
    val group = Trace.taskGroup
    val recs = Trace.span("transport.read", group, "scheduler.job") {
      inner.read(shardId, from, to).toVector
    }
    val users = recs.iterator.map(_.subRecords.size.toLong).sum
    Trace.count("sources.read_calls")
    Trace.count(s"read_calls.$group.$shardId")
    Trace.count("transport.user_records_read", users)
    recs.iterator
  }
}

/** Scheduler-layer counts and job spans. Always attached: untraced runs
  * need only `recordsRead` (the analytics input size). */
final class SchedulerProbe extends SparkListener {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskRunMs = new LongAdder
  val taskCpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  val recordsRead = new LongAdder
  private val jobStarts = TrieMap.empty[Int, (Long, String)]

  private def groupOf(props: java.util.Properties): String =
    Option(props).map { p =>
      Option(p.getProperty("perfbench.group"))
        .getOrElse(Trace.batchGroup(p.getProperty))
    }.getOrElse("")

  // job spans are kept whether or not tracing is on: the listener runs
  // asynchronously, and the report keeps only the traced lanes' groups
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    jobStarts.put(e.jobId, (Trace.wallToNs(e.time), groupOf(e.properties)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (t0, g) =>
      Trace.spans.add(Span("scheduler.job", g, "", t0, Trace.wallToNs(e.time)))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      recordsRead.add(m.inputMetrics.recordsRead)
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum(), "stages" -> stages.sum(), "tasks" -> tasks.sum(),
    "task_run_ms" -> taskRunMs.sum(), "task_cpu_ns" -> taskCpuNs.sum(),
    "gc_ms" -> gcMs.sum(), "shuffle_bytes" -> shuffleBytes.sum(),
    "spill_bytes" -> spillBytes.sum(), "records_read" -> recordsRead.sum())

  /** Counts since `before`; waits for the listener bus to catch up. */
  def since(before: Map[String, Long]): Map[String, Long] = {
    Thread.sleep(250)
    val now = snapshot
    now.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
  }
}
