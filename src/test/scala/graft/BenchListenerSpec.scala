package graft

/** The CPU counters [[Bench.MetricsListener]] feeds the bench's
  * regression gate: total task CPU, and the critical path (each
  * stage's largest task CPU, summed over stages) that makes lost
  * parallelism visible while total CPU stays flat.
  */
class BenchListenerSpec extends SparkSpec {
  import BenchListenerSpec.{Work, burn}

  private val n = 4

  /** Runs `job` under a fresh listener; returns its counters once all
    * `tasks` task-end events have come off the asynchronous bus. */
  private def measured(tasks: Int)(job: => Unit): Bench.Layer = {
    Thread.sleep(200) // let earlier jobs' events drain first
    val l = new Bench.MetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      job
      val deadline = System.nanoTime() + 30000000000L
      while (l.tasks.get < tasks && System.nanoTime() < deadline) Thread.sleep(10)
      assert(l.tasks.get === tasks)
      l.layer(0.0, 0.0, n)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def even(parts: Int) =
    spark.sparkContext.parallelize(Seq.fill(parts)(Work / parts), parts)

  burn(Work / 8) // JIT-compile the loop before anything is measured

  test("a 1-partition CPU-bound job: critical-path CPU equals task CPU") {
    val l = measured(1)(even(1).map(burn).collect())
    assert(l.taskCpuS > 0.1, s"burn too short to measure: ${l.taskCpuS}")
    assert(math.abs(l.criticalCpuS - l.taskCpuS) <= 0.05 * l.taskCpuS)
    assert((l.jobs, l.stages, l.tasks) === ((1L, 1L, 1L)))
  }

  test("the same work over N even partitions: critical-path CPU is " +
      "about task CPU / N") {
    val l = measured(n)(even(n).map(burn).collect())
    // one stage: its largest task is at least the mean, and even
    // partitions keep it near the mean
    assert(l.criticalCpuS >= l.taskCpuS / n - 1e-9)
    assert(l.criticalCpuS <= 1.5 * l.taskCpuS / n,
      s"critical ${l.criticalCpuS} vs task ${l.taskCpuS} / $n")
    assert((l.stages, l.tasks) === ((1L, n.toLong)))
  }

  test("coalesce(1) in front of the work trips the gate on critical-path " +
      "CPU only: total task CPU stays within its budget") {
    val base = measured(n)(even(n).map(burn).collect())
    val coalesced = measured(1)(even(n).coalesce(1).map(burn).collect())
    val budget = Bench.cpuCounters(Map("w" -> base))
      .map { case (k, v) => k -> Bench.budgetFor(v) }
    val red = Bench.overBudget(Bench.cpuCounters(Map("w" -> coalesced)), budget)
    assert(red.keySet === Set("w.critical_cpu_s"),
      s"base $base, coalesced $coalesced, budget $budget")
  }
}

object BenchListenerSpec {
  /** xorshift iterations of the whole job: ~2.4 s of CPU on a 2 GHz
    * core, so a collapsed fan-out of 4 clears the +0.5 s budget floor
    * even on a core twice as fast. */
  val Work = 1200000000L

  def burn(iters: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }
}
