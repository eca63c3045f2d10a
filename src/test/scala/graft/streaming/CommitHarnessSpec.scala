package graft.streaming

import graft.SparkSpec
import graft.config.ConsumerConf
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.collection.concurrent.TrieMap

/** Port of the reference's ConsumerWorkerSpec semantics matrix
  * (test/consumer/ConsumerWorkerSpec.scala:302-461, FIXTURES.md §2):
  * retry-only-unacked, tolerance floor, skip-within-tolerance,
  * fail-above-tolerance. Runs distributed on local[4] — attempt counts
  * are tracked in a JVM-shared map (same-JVM executors).
  */
class CommitHarnessSpec extends SparkSpec {
  import CommitHarness._

  /** Payloads "911*" always fail (the reference's never-acked sentinel,
    * ConsumerWorkerSpec.scala:58-60); payloads "flaky*" fail on their
    * first attempt only. */
  private def mkAttempt(runId: String): String => Boolean = {
    // NB: resolve the registry through the companion object INSIDE the
    // lambda — capturing the map by value would serialize per-task copies
    (s: String) => {
      val n = CommitHarnessSpec.attempts.getOrElseUpdate(runId, TrieMap.empty)
        .updateWith(s) { c => Some(c.getOrElse(0) + 1) }.get
      if (s.startsWith("911")) false
      else if (s.startsWith("flaky")) n > 1
      else true
    }
  }

  private def conf(retries: Int, tolerancePct: Double) =
    ConsumerConf("events", "app", failedMessageRetries = retries,
      failureTolerancePercentage = tolerancePct)

  private def attemptsOf(runId: String, s: String): Int =
    CommitHarnessSpec.attempts.get(runId).flatMap(_.get(s)).getOrElse(0)

  test("all-success batch: processed once, nothing dead-lettered") {
    import spark.implicits._
    val batch = (1 to 100).map(i => s"payload$i").toDS()
    val (dead, stats) = processBatch(batch, mkAttempt("ok"), conf(1, 0.25))
    assert(stats == BatchStats(100, 100, 0, 1))
    assert(dead.count() == 0)
    assert((1 to 100).forall(i => attemptsOf("ok", s"payload$i") == 1))
  }

  test("the source is evaluated once per record: the first round's " +
      "tally is also the batch size") {
    import spark.implicits._
    val evaluated = spark.sparkContext.longAccumulator("source evaluations")
    val batch = (1 to 100).map(i => s"once$i").toDS()
      .map { s => evaluated.add(1); s }
    val (_, stats) = processBatch(batch, mkAttempt("once"), conf(1, 0.25))
    assert(stats == BatchStats(100, 100, 0, 1))
    assert(evaluated.value == 100, "n evaluations, not one more scan")
  }

  test("each round is one Spark job: the tally fills the round's " +
      "checkpoint") {
    import spark.implicits._
    val sc = spark.sparkContext
    def jobsOf(group: String)(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
              e.properties.getProperty(GraftTestBridge.JobGroupKey) == group)
            jobs.incrementAndGet()
      }
      sc.addSparkListener(l)
      sc.setJobGroup(group, group)
      try f finally {
        sc.clearJobGroup()
        GraftTestBridge.drainListenerBus(sc)
        sc.removeSparkListener(l)
      }
      jobs.get
    }
    val retried = (Seq("flaky1") ++ (1 to 99).map(i => s"j$i")).toDS()
    assert(jobsOf("harness-retry") {
      val (_, stats) = processBatch(retried, mkAttempt("jobs"), conf(1, 0.0))
      assert(stats == BatchStats(100, 100, 0, 2))
    } === 2)
    val clean = (1 to 100).map(i => s"clean$i").toDS()
    assert(jobsOf("harness-clean") {
      assert(processBatch(clean, mkAttempt("jobs"), conf(1, 0.0))._2 ==
        BatchStats(100, 100, 0, 1))
    } === 1)
    assert(attemptsOf("jobs", "flaky1") == 2 &&
      (1 to 99).forall(i => attemptsOf("jobs", s"j$i") == 1))
  }

  /** Ids 1..600 keyed by `runId`: multiples of 200 always fail,
    * other multiples of 50 fail on their first attempt only. */
  private def idAttempt(runId: String): Long => Boolean = {
    val attempt = mkAttempt(runId)
    (id: Long) => attempt(
      if (id % 200 == 0) s"911-$id" else if (id % 50 == 0) s"flaky-$id" else s"p$id")
  }

  test("a Dataset[Long] and a Dataset[String] batch retry, dead-letter " +
      "and count exactly as a case-class batch") {
    import spark.implicits._
    val ids = (1L to 600L).toVector
    val c = conf(1, 0.5) // floor(0.5% of 600) = 3 allowed
    val longs = processBatch(ids.toDS(), idAttempt("t-long"), c)
    val byString = idAttempt("t-string")
    val strings = processBatch(ids.map(i => s"r$i").toDS(),
      (s: String) => byString(s.drop(1).toLong), c)
    val byRec = idAttempt("t-rec")
    val recs = processBatch(ids.map(i => HarnessRec(i, s"r$i")).toDS(),
      (r: HarnessRec) => byRec(r.id), c)
    val stats = BatchStats(600, 597, 3, 2)
    assert(Seq(longs._2, strings._2, recs._2) === Seq(stats, stats, stats))
    val dead = Seq(200L, 400L, 600L)
    assert(longs._1.collect().sorted.toSeq === dead)
    assert(strings._1.collect().sorted.toSeq === dead.map(i => s"r$i"))
    assert(recs._1.collect().sortBy(_.id).toSeq === dead.map(i => HarnessRec(i, s"r$i")))
    // the dead letters keep the batch's own columns
    assert(longs._1.columns === ids.toDS().columns)
    assert(recs._1.columns === Array("id", "payload"))
    Seq("t-long", "t-string", "t-rec").foreach { run =>
      val counts = ids.map { i =>
        if (i % 200 == 0) attemptsOf(run, s"911-$i")
        else if (i % 50 == 0) attemptsOf(run, s"flaky-$i")
        else attemptsOf(run, s"p$i")
      }
      assert(counts === ids.map(i => if (i % 50 == 0) 2 else 1), run)
    }
    Seq(longs._1, strings._1, recs._1).foreach(freeDeadLetters)
  }

  test("a round checkpoints only its failures and one count row per " +
      "partition") {
    import spark.implicits._
    val sc = spark.sparkContext
    val batch = (Seq("911a", "911b") ++ (1 to 998).map(i => s"p$i")).toDS()
      .repartition(4)
    val before = sc.getPersistentRDDs.keySet
    val (dead, stats) = processBatch(batch, mkAttempt("stored"), conf(0, 100.0))
    assert(stats == BatchStats(1000, 998, 2, 1))
    val kept = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(kept.size === 1, "one checkpoint: the round's")
    val (id, rdd) = kept.head
    val info = sc.getRDDStorageInfo.find(_.id == id)
    assert(info.exists(i => i.numCachedPartitions == 4 && i.memSize > 0), info)
    assert(rdd.count() <= 2 + 4)
    assert(dead.collect().sorted.toSeq === Seq("911a", "911b"))
    freeDeadLetters(dead)
  }

  test("an empty batch attempts nothing") {
    import spark.implicits._
    val (dead, stats) = processBatch(Seq.empty[String].toDS(),
      mkAttempt("empty"), conf(1, 0.25))
    assert(stats == BatchStats(0, 0, 0, 0))
    assert(dead.count() == 0)
  }

  test("retry only unacked records (ConsumerWorkerSpec retry semantics)") {
    import spark.implicits._
    val batch = (Seq("flaky1", "flaky2") ++ (1 to 8).map(i => s"p$i")).toDS()
    val (dead, stats) = processBatch(batch, mkAttempt("retry"), conf(1, 0.0))
    assert(stats.succeeded == 10 && stats.deadLettered == 0)
    // flaky records attempted twice, clean records exactly once
    assert(attemptsOf("retry", "flaky1") == 2)
    assert(attemptsOf("retry", "flaky2") == 2)
    assert((1 to 8).forall(i => attemptsOf("retry", s"p$i") == 1))
    assert(dead.count() == 0)
  }

  test("retries=0 means a single attempt") {
    import spark.implicits._
    val batch = Seq("flaky1", "p1").toDS()
    intercept[BatchFailedException] {
      processBatch(batch, mkAttempt("noretry"), conf(0, 0.0))
    }
    assert(attemptsOf("noretry", "flaky1") == 1)
  }

  test("within tolerance: failed records dead-lettered, batch succeeds " +
      "(skip semantics, ConsumerWorkerSpec:226-260,396-407)") {
    import spark.implicits._
    // 500 records, 1 hopeless: default 0.25% tolerance allows exactly 1
    val batch = (Seq("911") ++ (1 to 499).map(i => s"p$i")).toDS()
    val (dead, stats) = processBatch(batch, mkAttempt("tol1"), conf(1, 0.25))
    assert(stats == BatchStats(500, 499, 1, 2))
    assert(dead.collect().toSeq == Seq("911"))
    assert(attemptsOf("tol1", "911") == 2) // original + 1 retry
  }

  test("above tolerance: batch fails (ConsumerWorkerFailure analogue)") {
    import spark.implicits._
    // 2 hopeless among 500: above floor(0.25% * 500) = 1
    val batch = (Seq("911a", "911b") ++ (1 to 498).map(i => s"p$i")).toDS()
    val e = intercept[BatchFailedException] {
      processBatch(batch, mkAttempt("tol2"), conf(1, 0.25))
    }
    assert(e.failed == 2 && e.allowed == 1 && e.batchSize == 500)
  }

  test("tolerance floor: 399-record batch at 0.25% allows zero failures") {
    import spark.implicits._
    val batch = (Seq("911") ++ (1 to 398).map(i => s"p$i")).toDS()
    intercept[BatchFailedException] {
      processBatch(batch, mkAttempt("floor"), conf(1, 0.25))
    }
  }

  test("processor exceptions count as failures, not crashes") {
    import spark.implicits._
    val batch = Seq("boom", "p1", "p2").toDS()
    val attempt = (s: String) =>
      if (s == "boom") throw new RuntimeException("processor blew up")
      else true
    // tolerance 50% of 3 -> floor = 1 allowed
    val (dead, stats) = processBatch(batch, attempt, conf(0, 50.0))
    assert(stats.deadLettered == 1)
    assert(dead.collect().toSeq == Seq("boom"))
  }

  test("streaming end-to-end: dead letters routed, offsets advance " +
      "(no-block semantics of successful=false)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("graft-harness").toString
    val input = MemoryStream[String](spark)
    input.addData("911", "a1", "a2", "a3")
    val q = CommitHarness.runStream[String](
      input.toDS(), mkAttempt("stream"), conf(1, 25.0),
      Some(s"$tmp/dead"), s"$tmp/chk").start()
    try {
      q.processAllAvailable()
      input.addData("a4", "a5")
      q.processAllAvailable()
    } finally q.stop()
    val dead = spark.read.parquet(s"$tmp/dead").as[String].collect().toSeq
    assert(dead == Seq("911"))
    // second batch processed despite first batch's dead letter
    assert(attemptsOf("stream", "a4") == 1 && attemptsOf("stream", "a5") == 1)
  }
  test("above-tolerance batch fails the QUERY and does not commit the " +
      "offset range — restart reprocesses the same batch " +
      "(ConsumerWorkerFailure -> worker shutdown, S15; at-least-once)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    val tmp = java.nio.file.Files.createTempDirectory("graft-fail").toString
    val input = MemoryStream[String](spark)
    input.addData("911x", "911y", "b1")
    val q1 = CommitHarness.runStream[String](
      input.toDS(), mkAttempt("prop"), conf(0, 0.0),
      None, s"$tmp/chk").start()
    val ex = intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    def rootCauses(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: rootCauses(t.getCause)
    assert(rootCauses(ex).exists(_.isInstanceOf[BatchFailedException]),
      s"expected BatchFailedException in cause chain: $ex")
    // restart with a tolerant config: the SAME records are redelivered
    // (the failed batch's offsets were never committed)
    val q2 = CommitHarness.runStream[String](
      input.toDS(), mkAttempt("prop2"), conf(0, 100.0),
      None, s"$tmp/chk").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(attemptsOf("prop2", "911x") == 1 && attemptsOf("prop2", "b1") == 1,
      "failed batch must be redelivered after restart")
  }
}

final case class HarnessRec(id: Long, payload: String)

object CommitHarnessSpec {
  /** runId -> payload -> attempt count (JVM-shared; executors are local). */
  val attempts: TrieMap[String, TrieMap[String, Int]] = TrieMap.empty
}
