#!/usr/bin/env python3
"""Regenerate the bench budgets from bench detail runs.

Usage: python3 tools/budgets.py [BENCH_DETAIL.json ...]

Writes CPU_BUDGET.json, TIME_BUDGET.json and SHUFFLE_BUDGET.json next to
the FIRST input. With several inputs the per-entry base is the
ELEMENT-WISE MAX across runs. Cut CPU_BUDGET.json at the SPARK_GRAFT_CPUS
the gate will run at (graft.Bench defaults to 32): the core count sets
the partition count, and with it the per-task counters, so Bench fails
the CPU gate when its cores differ from the recorded "_cpus".

Formulas (keep in sync with graft.Bench.budgetFor and NOTES.md):

  cpu budget     = max(1.5 * base, base + 0.5) for <entry>.task_cpu_s,
                   <entry>.critical_cpu_s and <entry>.jobs of EVERY
                   entry (the "layers" columns) — gated; "_cpus" and
                   "_host" record where the base ran
  time budget    = max(1.5 * base_sec, base_sec + 0.5), entries with
                   base_sec >= 0.5 — wall time, reported, not gated
  shuffle budget = max(2 * base_mb, 1.0) — gated

rate_/flag pseudo-entries are excluded (they are rates, not seconds).
"""
import json
import os
import sys

EXCLUDE_PREFIXES = ("rate_", "ingest_integrity")
CPU_COUNTERS = ("task_cpu_s", "critical_cpu_s", "jobs")


def budget_for(base: float) -> float:
    return max(1.5 * base, base + 0.5)


def main() -> None:
    srcs = sys.argv[1:] if len(sys.argv) > 1 else ["BENCH_DETAIL.json"]
    details = []
    for src in srcs:
        with open(src) as f:
            details.append(json.load(f))

    def pooled(get) -> dict:
        base: dict = {}
        for d in details:
            for k, v in get(d).items():
                if not k.startswith(EXCLUDE_PREFIXES):
                    base[k] = max(base.get(k, 0.0), v)
        return base

    times = {q: budget_for(s) for q, s in pooled(lambda d: d["queries"]).items()
             if s >= 0.5}
    shuffles = {q: max(2.0 * mb, 1.0)
                for q, mb in pooled(lambda d: d["shuffle_mb"]).items()}
    out_dir = os.path.dirname(os.path.abspath(srcs[0]))

    def dump(name: str, entries: dict, head: str = "") -> None:
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            f.write("{\n" + head)
            f.write(",\n".join(f'"{k}":{v:.3f}' for k, v in sorted(entries.items())))
            f.write("\n}\n")
        print(f"wrote {path}: {len(entries)} entries")

    if all("layers" in d for d in details):
        cpus = {d["cpus"] for d in details}
        if len(cpus) != 1:
            raise SystemExit(f"runs at different cpus {sorted(cpus)}: not one CPU base")
        cpu = {k: budget_for(v)
               for k, v in pooled(lambda d: {f"{q}.{c}": l[c]
                                             for q, l in d["layers"].items()
                                             for c in CPU_COUNTERS}).items()}
        hosts = ",".join(sorted({d["host"] for d in details}))
        dump("CPU_BUDGET.json", cpu,
             f'"_host":{json.dumps(hosts)},\n"_cpus":{cpus.pop()},\n')
    else:
        print("inputs without layer columns: CPU_BUDGET.json not written")
    dump("TIME_BUDGET.json", times)
    dump("SHUFFLE_BUDGET.json", shuffles)


if __name__ == "__main__":
    main()
