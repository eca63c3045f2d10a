#!/usr/bin/env python3
"""graft benchmark: the consume -> process -> produce loop over the
Kinesis-shaped wire, and a mix of analytics queries.

    python3 perfbench/run.py --workload wire_drain --seed 1 --seconds 10 --trace 0

Workloads: wire_drain, wire_steady, analytics_mix (see perfbench/README.md).
Run from the repository root. The first run builds the program and the
harness with sbt; later runs reuse the build while the sources are
unchanged. Prints every metric as `name value unit` and, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 1 the metrics are the per-layer ones.

Options beyond the four above exist for the self-test and the baselines:
--fault drop|dup|swap|perturb seeds one fault into the checked output,
--rate overrides the wire_steady rate, --cores the Spark core count
(default: one less than the CPUs the process may use).
"""
import argparse
import hashlib
import json
import math
import numbers
import os
import queue
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("wire_drain", "wire_steady", "analytics_mix")

WARM_RECORDS = 5000     # wire: warm-up backlog drained during set-up
ROUND_RECORDS = 50000   # wire_drain: backlog per timed round
MIN_ROUNDS = 2
STEADY_RATE = 4500     # wire_steady: records/s (see README, "The steady rate")
BURST_MS = 100
RAMP_MS = 4000          # wire_steady: records due in the first 4 s are warm-up
DRAIN_DEADLINE_S = 30   # undelivered after this counts as failed
RUN_LIMIT_S = 170
SUT_HEAP = "3g"
YOUNG = "256m"
STUB_HEAP = "1g"
TESTDATA = os.path.join(os.path.expanduser("~"), "testdata")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.join(TESTDATA, "sf0.01"))
# wire traffic: the events table at the bench scale (README, "Traffic")
EVENTS = os.environ.get("PERFBENCH_EVENTS", os.path.join(TESTDATA, "sf0.1", "events.parquet"))
# one query per family (README, "analytics_mix")
ANALYTICS_MIX = [
    "d17_dup_source_matrix",         # clusters re-derived during construction
    "m07_multimodal_phash_neardup",  # driver-side counts during construction
    "m11_phash_recall",
    "q196_item_cf_recommend",        # shuffle-heavy
    "q01_pricing_summary",           # sub-second, job-launch bound
    "q09_count_distinct",
    "q40_tumbling_window",
    "t26_length_histogram",
]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

T0 = time.monotonic()


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def remaining():
    return RUN_LIMIT_S - (time.monotonic() - T0)


# ------------------------------------------------------------------ build --

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def build():
    """Compile program + harness with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise BenchError("no graft sources next to perfbench/ (run from a full checkout)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp, cp_file = os.path.join(STATE, "stamp"), os.path.join(STATE, "classpath")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    with open(os.path.join(STATE, "build.log"), "w") as logf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=logf, text=True, stdin=subprocess.DEVNULL)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        raise BenchError(f"sbt build failed (see {STATE}/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def events_file():
    """The events table as `user_id<TAB>fields` lines in event order, for
    the stub's generator (see Events in Stub.scala)."""
    if not os.path.isfile(EVENTS):
        raise BenchError(f"events table not found: {EVENTS} (set PERFBENCH_EVENTS)")
    st = os.stat(EVENTS)
    path = os.path.join(STATE, f"events-{st.st_size}-{int(st.st_mtime)}.tsv")
    if os.path.isfile(path):
        return path
    try:
        import duckdb
    except ImportError:
        raise BenchError("python3 module duckdb is needed to read the events table")
    rows = duckdb.connect().execute(
        "SELECT CAST(user_id AS VARCHAR), "
        "'\"event_id\":' || event_id || ',\"ts\":\"' || strftime(ts, '%Y-%m-%d %H:%M:%S.%f')"
        " || '\",\"event_type\":\"' || event_type || '\",\"value\":' || CAST(value AS VARCHAR)"
        " || ',\"props\":' || props "
        f"FROM read_parquet('{EVENTS}') ORDER BY event_id").fetchall()
    with open(path + ".tmp", "w") as f:
        for key, fields in rows:
            f.write(f"{key}\t{fields}\n")
    os.replace(path + ".tmp", path)
    return path


# -------------------------------------------------------------- processes --

class Proc:
    """A JVM speaking the line protocol: commands on stdin, JSON on stdout."""
    live = []

    def __init__(self, argv, logfile, cwd, prefix):
        self.prefix = prefix
        self.logf = open(logfile, "w")
        self.p = subprocess.Popen(argv, cwd=cwd, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.logf,
                                  text=True, bufsize=1)
        Proc.live.append(self)
        self.q = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            if line.startswith(self.prefix):
                self.q.put(json.loads(line[len(self.prefix):]))
        self.q.put(None)

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def next(self, timeout=None):
        timeout = max(1.0, remaining()) if timeout is None else min(timeout, max(1.0, remaining()))
        try:
            msg = self.q.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"timed out waiting on {self.logf.name}")
        if msg is None:
            raise BenchError(f"process ended unexpectedly (see {self.logf.name})")
        if "error" in msg:
            raise BenchError(f"{self.logf.name}: {msg['error']}")
        return msg

    def call(self, line, timeout=None):
        self.send(line)
        return self.next(timeout)

    def close(self, timeout=20):
        if self.p.poll() is None:
            try:
                self.p.stdin.close()
            except OSError:
                pass
            try:
                self.p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        self.logf.close()
        if self in Proc.live:
            Proc.live.remove(self)

    @classmethod
    def kill_all(cls):
        for pr in list(cls.live):
            if pr.p.poll() is None:
                pr.p.kill()
            pr.p.wait()
            pr.logf.close()
        cls.live.clear()


def java(cp, heap, main, args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation keep the collector's sizing out
    # of the timings and collect often, so the peak live heap is sampled
    # many times in a run
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{YOUNG}",
             f"-Djava.io.tmpdir={tmp}"] + opens
            + ["-cp", cp, main] + [str(a) for a in args])


# -------------------------------------------------------------- workloads --

def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(p * len(xs)) - 1))]


class Run:
    def __init__(self, args, cp, workdir):
        self.a, self.cp, self.workdir = args, cp, workdir
        # one CPU is left to the JVMs' own threads and the stub: on a
        # shared host, a SUT on every CPU slows by far more than the host
        # steals from it (README, "Spread")
        self.cores = args.cores or max(1, len(os.sched_getaffinity(0)) - 1)
        self.attempted = 0
        self.failed = 0
        self.session_s = 0.0
        self.warmup_s = 0.0
        self.notes = {}

    def start_sut(self, extra):
        """Start the SUT up to a ready SparkSession."""
        wd = os.path.join(self.workdir, "sut")
        os.makedirs(wd, exist_ok=True)
        argv = java(self.cp, SUT_HEAP, "perfbench.Sut", [self.mode, self.cores, wd] + extra)
        t0 = time.monotonic()
        sut = Proc(argv, os.path.join(self.workdir, "sut.log"), wd, "@@ ")
        sut.next()  # session
        self.session_s = time.monotonic() - t0
        return sut

    def warm(self, sut, command, timeout=120):
        t0 = time.monotonic()
        res = sut.call(command, timeout=timeout)
        self.warmup_s = time.monotonic() - t0
        return res

    # ---- wire ----
    def wire(self, steady):
        self.mode = "wire"
        stub = Proc(java(self.cp, STUB_HEAP, "perfbench.Stub", [events_file()]),
                    os.path.join(self.workdir, "stub.log"), self.workdir, "")
        sut = self.start_sut([self.a.seed])
        lane = stub.call(f"lane warm drain {WARM_RECORDS} {self.a.seed * 7919}")
        stub.call("arm warm")
        res = self.warm(sut, f"warm {lane['in']} {lane['out']}")
        self.count(stub.call("check warm none"), res)
        traced = self.a.trace == 1
        if traced:
            sut.call("reset")
        results = []  # (traced, sut lane result, stub check)
        if steady:
            # traced lane first: the later lane runs on a warmer JVM, so
            # this order overstates the tracing overhead, never hides it
            kinds = [True, False] if traced else [False]
            seconds = self.a.seconds / len(kinds)
            for k, tr in enumerate(kinds):
                tag = f"steady{k}"
                lane = stub.call(f"lane {tag} steady {self.a.rate} {BURST_MS} "
                                 f"{seconds} {RAMP_MS} {self.a.seed * 31 + k}")
                sut.send(f"lane {tag} {lane['in']} {lane['out']} live {int(tr)}")
                sut.next(timeout=60)  # started
                cpu0 = stub.call("cpu")["cpu_ms"]
                stub.call(f"arm {tag}")
                gen_end = time.monotonic() + seconds + RAMP_MS / 1000 + 5
                while time.monotonic() < gen_end and not stub.call(f"status {tag}")["gen_done"]:
                    time.sleep(0.2)
                deadline = time.monotonic() + DRAIN_DEADLINE_S
                while time.monotonic() < deadline and remaining() > 40:
                    st = stub.call(f"status {tag}")
                    if st["landed"] >= st["generated"]:
                        break
                    time.sleep(0.1)
                sut.send("stop")
                res = sut.next(timeout=60)
                res["stub_cpu_ms"] = stub.call("cpu")["cpu_ms"] - cpu0
                chk = stub.call(f"check {tag} {'none' if tr else self.a.fault}")
                self.count(chk, res)
                results.append((tr, res, chk))
        else:
            measured, r = 0.0, 0
            while r < MIN_ROUNDS * (2 if traced else 1) or measured < self.a.seconds:
                if remaining() < 60:
                    break
                tr = traced and r % 4 in (1, 2)  # U T T U: no side gets the warmer rounds
                tag = f"drain{r}"
                lane = stub.call(f"lane {tag} drain {ROUND_RECORDS} {self.a.seed * 1009 + r}")
                cpu0 = stub.call("cpu")["cpu_ms"]
                stub.call(f"arm {tag}")
                res = sut.call(f"lane {tag} {lane['in']} {lane['out']} drain {int(tr)}", timeout=90)
                res["stub_cpu_ms"] = stub.call("cpu")["cpu_ms"] - cpu0
                chk = stub.call(f"check {tag} {self.a.fault if r == 0 else 'none'}")
                self.count(chk, res)
                results.append((tr, res, chk))
                if not tr:
                    measured += res["wall_s"]
                r += 1
        report = sut.call("report") if traced else None
        sut.send("exit")
        sut.close()
        stub.call("quit")
        stub.close()
        if traced:
            import layers
            return layers.wire(self, steady, results, report)
        return self.wire_metrics([(res, chk) for tr, res, chk in results if not tr])

    def count(self, chk, res):
        self.attempted += chk["attempted"]
        self.failed += chk["failed"] + res.get("dead_lettered", 0)
        if chk["failed"] or res.get("dead_lettered", 0):
            log(f"{res['tag']}: lost {chk['lost']}, duplicated {chk['duplicated']}, "
                f"out of key order {chk['out_of_order']}, foreign {chk['foreign']}, "
                f"dead-lettered {res.get('dead_lettered', 0)}")

    def wire_metrics(self, plain):
        # triggers of the timed window (a live lane's ramp is warm-up)
        timed = lambda res, chk: [b for b in res["batches"]
                                  if b["start_ms"] >= chk["timed_from_ms"]]
        trig = [b["durations"].get("triggerExecution", 0) / 1000
                for res, chk in plain for b in timed(res, chk)]
        delivered = sum(c["delivered"] for _, c in plain)
        cpu = sum(r["cpu_ms"] for r, _ in plain)
        per_lane = lambda key: median([c[key] for _, c in plain])
        self.notes["latency_samples"] = sum(c["latency_samples"] for _, c in plain)
        self.notes["lanes"] = len(plain)
        self.notes["trigger_ms"] = [round(t * 1000) for t in trig]
        return {
            "throughput_eps": (per_lane("throughput_eps"), "records/s"),
            "latency_p50_ms": (per_lane("latency_p50_ms"), "ms"),
            "latency_p99_ms": (per_lane("latency_p99_ms"), "ms"),
            "cpu_ms_per_krec": (cpu / (delivered / 1000) if delivered else 0.0, "ms/krec"),
            "query_total_s": (median([sum(b["durations"].get("triggerExecution", 0)
                                          for b in timed(r, c)) / 1000 for r, c in plain]), "s"),
            "query_geomean_s": (geomean(trig), "s"),
            "peak_heap_mb": (median([r["heap_peak_mb"] for r, _ in plain]), "MB"),
        }

    # ---- analytics ----
    def analytics(self):
        self.mode = "analytics"
        names = list(ANALYTICS_MIX)
        random.Random(self.a.seed).shuffle(names)
        if not os.path.isdir(SF_DIR):
            raise BenchError(f"test data not found: {SF_DIR} (set PERFBENCH_SF_DIR)")
        sut = self.start_sut([SF_DIR, ",".join(names)])
        warm = self.warm(sut, "warm")["queries"]
        traced = self.a.trace == 1
        if traced:
            sut.call("reset")
        passes = sut.call(f"timed {self.a.seconds} {int(traced)}", timeout=150)["passes"]
        report = sut.call("report") if traced else None
        sut.send("exit")
        sut.close()
        errors = [n for n, r in warm.items() if "error" in r]
        fails = self.oracle_check(os.path.join(self.workdir, "sut", "results"))
        self.attempted += len(names) + sum(len(p["queries"]) for p in passes)
        self.failed += len(errors) + len(fails) + sum(
            1 for p in passes for q in p["queries"].values() if "error" in q)
        if traced:
            import layers
            return layers.analytics(self, names, passes[1:], report)
        plain = [p for p in passes if not p["traced"]]
        walls = {n: median([p["queries"][n]["wall_s"] for p in plain]) for n in names}
        pass_wall = sum(sum(q["wall_s"] for q in p["queries"].values()) for p in plain)
        rows = sum(p["sched"]["records_read"] for p in plain)
        cpu = sum(p["cpu_ms"] for p in plain)
        self.notes["passes"] = len(plain)
        self.notes["query_s"] = {n: round(w, 3) for n, w in walls.items()}
        return {
            "throughput_eps": (rows / pass_wall if pass_wall else 0.0, "records/s"),
            "latency_p50_ms": (pct(walls.values(), 0.5) * 1000, "ms"),
            "latency_p99_ms": (pct(walls.values(), 0.99) * 1000, "ms"),
            "cpu_ms_per_krec": (cpu / (rows / 1000) if rows else 0.0, "ms/krec"),
            "query_total_s": (sum(walls.values()), "s"),
            "query_geomean_s": (geomean(walls.values()), "s"),
            "peak_heap_mb": (median([p["heap_peak_mb"] for p in plain]), "MB"),
        }

    def oracle_check(self, results):
        """Compares the warm-up pass's results with the DuckDB oracle by
        running tools/compare.py; returns the names of the queries it
        failed. The perturb fault first changes one cell of one result."""
        if self.a.fault == "perturb":
            perturb(results)
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                            SF_DIR, results], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=max(10, remaining()))
        fails = [l.strip().split(":")[0] for l in p.stdout.split("\nFAIL", 1)[-1].splitlines()[1:]
                 if l.startswith("  ")]
        if p.returncode not in (0, 1) or (p.returncode == 1 and not fails):
            raise BenchError(f"tools/compare.py failed: {p.stdout[-500:]}")
        for line in p.stdout.splitlines():
            log(f"oracle: {line}")
        return fails

    @property
    def setup_s(self):
        """Time to a ready SparkSession plus the warm-up."""
        return self.session_s + self.warmup_s


def perturb(results):
    """Seeded fault: changes the first cell of the first oracle-checked
    result that has a row."""
    import pandas as pd
    with open(os.path.join(results, "oracle_sql.json")) as f:
        checked = sorted(json.load(f))
    for name in checked:
        for part in sorted(os.listdir(os.path.join(results, name))):
            if not part.endswith(".parquet"):
                continue
            path = os.path.join(results, name, part)
            df = pd.read_parquet(path)
            if len(df):
                col = df.columns[0]
                v = df.at[0, col]
                number = isinstance(v, numbers.Number) and not isinstance(v, bool)
                df.at[0, col] = v + 1 if number else f"{v}~"
                df.to_parquet(path, index=False)
                return
    raise BenchError("no result row to perturb")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", default="none", choices=("none", "drop", "dup", "swap", "perturb"))
    ap.add_argument("--rate", type=int, default=STEADY_RATE)
    ap.add_argument("--cores", type=int, default=0)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    try:
        cp = build()
        global T0
        T0 = time.monotonic()  # the run's time limit starts after the build
        workdir = os.path.join(STATE, "run")
        shutil.rmtree(workdir, ignore_errors=True)
        os.makedirs(workdir)
        run = Run(a, cp, workdir)
        if a.workload == "analytics_mix":
            metrics = run.analytics()
        else:
            metrics = run.wire(steady=a.workload == "wire_steady")
    except BenchError as e:
        Proc.kill_all()
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    finally:
        Proc.kill_all()
    if a.trace == 0:
        metrics["setup_s"] = (run.setup_s, "s")
    share = run.failed / run.attempted if run.attempted else 1.0
    print(f"workload {a.workload} seed {a.seed} cores {run.cores} "
          f"session {run.session_s:.3f} s warm-up {run.warmup_s:.3f} s "
          f"{run.notes}")
    print(f"failed_share {share:.6g} ratio ({run.failed} of {run.attempted})")
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
