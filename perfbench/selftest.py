#!/usr/bin/env python3
"""Self-test of the benchmark's own checks.

    python3 perfbench/selftest.py

Each seeded fault must raise failed_share above 0: one output record
dropped, one duplicated, two records of one key swapped (wire_drain), one
analytics result perturbed (analytics_mix). A wire_steady rate far above
capacity must show a growing backlog (sources.backlog_slope_eps > 0).
Exits 1 if any case does not behave so.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(*args):
    p = subprocess.run([sys.executable, RUN, "--seed", "1"] + list(args),
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    ok = True
    for workload, fault in [("wire_drain", "drop"), ("wire_drain", "dup"),
                            ("wire_drain", "swap"), ("analytics_mix", "perturb")]:
        r = run("--workload", workload, "--seconds", "2", "--trace", "0", "--fault", fault)
        good = r is not None and r["failed"] > 0 and not r["correct"]
        share = r["failed"] / r["attempted"] if r else float("nan")
        print(f"{workload} fault={fault}: failed_share {share:.3g} "
              f"({'caught' if good else 'NOT CAUGHT'})")
        ok &= good
    r = run("--workload", "wire_steady", "--seconds", "6", "--trace", "1", "--rate", "40000")
    slope = r["metrics"]["sources.backlog_slope_eps"]["value"] if r else float("nan")
    good = r is not None and slope > 0
    print(f"wire_steady rate=40000: sources.backlog_slope_eps {slope:.4g} "
          f"({'growing' if good else 'NOT GROWING'})")
    ok &= good
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
