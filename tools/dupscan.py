#!/usr/bin/env python3
"""Report significant and removable duplicate lines per Scala file.

Significant lines are what is left after dropping blank lines, comment
lines and bracket-only lines, with indentation and stripMargin `|`
margins stripped; the `lines` column counts them, so it is the code-size
measure.  A significant line is *removable* when it lies inside a window
of 5 consecutive significant lines that already occurred earlier in the
scan (earlier in the same file or in a file named before it).  A line is
SQL when it sits inside a triple-quoted string literal, code otherwise;
removable lines are split into those two columns.

Usage:
  python3 tools/dupscan.py [FILE ...]
With no arguments it scans every src/main/scala/graft/operators/*.scala,
in name order.
"""
import glob
import os
import re
import sys

WINDOW = 5
OPS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "src", "main", "scala", "graft", "operators")
BRACKETS_ONLY = re.compile(r"^[\s()\[\]{},;]*$")


def significant(path):
    """Yield (normalized text, is_sql) for each significant line."""
    in_sql = False
    in_block_comment = False
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            was_sql = in_sql
            if line.count('"""') % 2 == 1:
                in_sql = not in_sql
            if not was_sql:
                if in_block_comment:
                    if "*/" in line:
                        in_block_comment = False
                    continue
                if line.startswith("//"):
                    continue
                if line.startswith("/*"):
                    in_block_comment = "*/" not in line
                    continue
                if line.startswith("*"):
                    continue
            if was_sql and line.startswith("|"):
                line = line[1:].strip()
            if was_sql and line.startswith("--"):
                continue
            if not line or BRACKETS_ONLY.match(line):
                continue
            yield line, was_sql or in_sql


def scan(paths):
    seen = set()
    report = []
    for path in paths:
        lines = list(significant(path))
        removable = [False] * len(lines)
        for i in range(len(lines) - WINDOW + 1):
            key = tuple(t for t, _ in lines[i:i + WINDOW])
            if key in seen:
                for j in range(i, i + WINDOW):
                    removable[j] = True
            seen.add(key)
        sql = sum(1 for (_, s), r in zip(lines, removable) if r and s)
        code = sum(1 for (_, s), r in zip(lines, removable) if r and not s)
        report.append((os.path.basename(path), len(lines), sql, code))
    return report


def main(argv):
    paths = argv[1:] or sorted(glob.glob(os.path.join(OPS, "*.scala")))
    report = scan(paths)
    print(f"{'file':<24}{'lines':>7}{'sql':>6}{'code':>6}{'total':>7}")
    for name, n, sql, code in report:
        print(f"{name:<24}{n:>7}{sql:>6}{code:>6}{sql + code:>7}")
    tn, ts, tc = (sum(r[i] for r in report) for i in (1, 2, 3))
    print(f"{'TOTAL':<24}{tn:>7}{ts:>6}{tc:>6}{ts + tc:>7}")


if __name__ == "__main__":
    main(sys.argv)
