package graft

import org.scalatest.funsuite.AnyFunSuite

/** Calibration proof for the bench's budget formula `max(1.5x base,
  * base + 0.5 s)` ([[Bench.budgetFor]]), which cuts both the gated
  * CPU_BUDGET.json and the report-only TIME_BUDGET.json
  * (tools/budgets.py). It must (a) still catch a deliberate >= 2x
  * slowdown on any >= 2 s entry, and (b) tolerate sub-second absolute
  * jitter on small entries — the round-9 bench went red on q111
  * overshooting a plain 1.5x budget by 12% on a 0.6 s query.
  */
class TimeBudgetGateSpec extends AnyFunSuite {

  test("a deliberate 2x slowdown on a >= 2 s query trips the gate") {
    // every promoted time >= 2 s: doubling always exceeds the budget
    // (budget is the max of 1.5t and t+0.5, both < 2t when t >= 1)
    Seq(2.0, 2.58, 4.4, 7.5).foreach { t =>
      val budget = Map("q" -> Bench.budgetFor(t))
      val v = Bench.overBudget(Map("q" -> 2.0 * t), budget)
      assert(v.keySet === Set("q"), s"2x slowdown of a $t s query must trip")
    }
  }

  test("the q111 incident no longer trips: 12% overshoot of a 0.62 s " +
      "query sits under the additive noise floor") {
    // round-9 driver run: promoted 0.623 s, measured 1.048 s — the
    // exact values that produced time_budget_ok:0
    val budget = Map("q111" -> Bench.budgetFor(0.623))
    assert(budget("q111") > 1.048, "the recalibrated budget covers it")
    assert(Bench.overBudget(Map("q111" -> 1.048), budget).isEmpty)
    // but a genuine 2x slowdown of the same small query still trips
    // once it exceeds the floor: 0.623 -> 1.25 s
    assert(Bench.overBudget(Map("q111" -> 1.25), budget).nonEmpty)
  }

  test("gate mechanics: only budgeted entries are checked, equality " +
      "passes, strict excess trips") {
    val budget = Map("a" -> 1.0, "b" -> 3.0)
    val results = scala.collection.mutable.LinkedHashMap(
      "a" -> 1.0,      // exactly at budget: pass
      "b" -> 3.001,    // over: trip
      "c" -> 99.0)     // unbudgeted (new query): never trips
    assert(Bench.overBudget(results, budget).keySet === Set("b"))
  }

  test("the committed CPU_BUDGET.json stays within the calibration " +
      "band of the runs it was cut from (anti-staleness both " +
      "directions: never tighter than the formula on the base " +
      "values, never loose enough to miss a genuine slowdown)") {
    def read(path: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val budgetTxt = read("CPU_BUDGET.json")
    val budget = """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(budgetTxt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // the base run's per-entry layer columns: {"layers":{"q":{...},...}
    val baseTxt = read(TimeBudgetGateSpec.CpuBase)
    val layersObj = baseTxt.split("\"layers\":\\{")(1)
      .split("\"shuffle_budget_violations\"")(0)
    val base = """"([^"]+)":\{([^}]*)\}""".r.findAllMatchIn(layersObj).flatMap { m =>
      Seq("task_cpu_s", "critical_cpu_s", "jobs").map { c =>
        val v = s""""$c":([0-9.eE+-]+)""".r.findFirstMatchIn(m.group(2))
          .getOrElse(fail(s"${m.group(1)} lacks $c")).group(1).toDouble
        s"${m.group(1)}.$c" -> v
      }
    }.toMap
    assert(base.nonEmpty && budget.nonEmpty)
    val cpus = """"cpus":([0-9]+)""".r.findFirstMatchIn(baseTxt).get.group(1)
    assert(budget.get("_cpus").contains(cpus.toDouble),
      "CPU_BUDGET.json must record the cores of its base run")
    assert(cpus == "32", "cut at Bench's default SPARK_GRAFT_CPUS")
    // never tighter than the formula on the base, never above the
    // loose bound that would let a genuine 2.5x slowdown through
    budget.filterNot(_._1.startsWith("_")).foreach { case (k, b) =>
      val p = base.getOrElse(k, fail(s"budgeted $k not in the base runs"))
      assert(b >= Bench.budgetFor(p) - 0.002,
        s"$k: budget $b tighter than formula ${Bench.budgetFor(p)}")
      val loose = math.max(3.0 * p, p + 1.5)
      assert(b <= loose + 0.002,
        s"$k: budget $b looser than the $loose cap (stale base?)")
    }
    // and every counter of every base entry is budgeted: the gate has
    // no eligibility floor, so it cannot silently lose coverage
    base.keysIterator.foreach(k => assert(budget.contains(k), s"$k unbudgeted"))
  }

  test("the summary line stays under 1,800 chars for the full headline " +
      "roster plus the replay entries") {
    val replays = Seq("ingest_replay_5m", "rate_ingest_5m_eps",
      "rate_ingest_per_shard_eps", "ingest_integrity_ok",
      "ingest_wire_replay_1m", "rate_wire_ingest_eps",
      "rate_wire_ingest_per_shard_eps", "ingest_integrity_wire_ok",
      "ingest_events_replay", "rate_events_replay_eps",
      "harness_replay_1m", "rate_harness_1m_eps")
    val results = scala.collection.mutable.LinkedHashMap(
      (Bench.headline ++ replays).map(_ -> 1234.567891): _*)
    val layers = scala.collection.mutable.LinkedHashMap(
      Bench.headline.map(_ -> Bench.Layer(1.0, 2.0, 10, 20, 300, 4.0,
        3.0, 1.5, 32)): _*)
    val line = Bench.summaryLine(results, layers, 123456.789, 98765.4,
      shuffleOk = true, cpuOk = false, "testdata/sf0.1")
    assert(line.length < 1800, s"${line.length} chars: $line")
    assert(line.contains("\"cpu_budget_ok\":0"))
    assert(line.contains("\"shuffle_budget_ok\":1"))
  }

  test("the CPU gate fails a run at other cores than its budget's " +
      "whatever the counters, and gates the job count") {
    val layers = Map("q" -> Bench.Layer(0.1, 0.2, 2, 2, 8, 0.4, 0.3, 0.1, 4))
    val budget = Map("_cpus" -> 32.0, "q.task_cpu_s" -> 9.0,
      "q.critical_cpu_s" -> 9.0, "q.jobs" -> 9.0)
    assert(Bench.cpuViolations(layers, budget, 32).isEmpty)
    assert(Bench.cpuViolations(layers, budget, 4) === Map("_cpus" -> 4.0))
    assert(Bench.cpuViolations(layers, budget - "q.jobs" + ("q.jobs" -> 1.0), 32)
      === Map("q.jobs" -> 2.0))
  }

  test("a failed replay integrity check stays visible in the summary " +
      "line") {
    val flags = Seq("ingest_integrity_ok", "ingest_integrity_wire_ok")
    def line(failed: Set[String]) = Bench.summaryLine(
      scala.collection.mutable.LinkedHashMap("ingest_replay_5m" -> 3.0) ++
        flags.map(f => f -> (if (failed(f)) 0.0 else 1.0)),
      Map.empty[String, Bench.Layer], 0.0, 0.0, shuffleOk = true,
      cpuOk = true, "sf")
    assert(line(Set.empty).contains("\"ingest_integrity_ok\":1.000"))
    flags.foreach { f =>
      assert(line(Set(f)).contains("\"ingest_integrity_ok\":0.000"), f)
    }
  }
}

object TimeBudgetGateSpec {
  /** The bench detail run CPU_BUDGET.json was cut from. */
  val CpuBase = "bench_evidence/cpu_base/BENCH_DETAIL.cpu32-base.json"
}
