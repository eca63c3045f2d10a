#!/usr/bin/env python3
"""Report removable duplicate lines per Scala file, split into SQL and code.

A line is *removable* when it lies inside a window of 5 consecutive
significant lines that already occurred earlier in the scan (earlier in
the same file or in a file named before it).  Significant lines are what
is left after dropping blank lines, comment lines and bracket-only
lines, with indentation and stripMargin `|` margins stripped.  A line is
SQL when it sits inside a triple-quoted string literal, code otherwise.

Usage:
  python3 tools/dupscan.py [FILE ...]
With no arguments it scans operators/Extended10.scala .. Extended18.scala.
"""
import os
import re
import sys

WINDOW = 5
OPS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "src", "main", "scala", "graft", "operators")
DEFAULT = [os.path.join(OPS, f"Extended{i}.scala") for i in range(10, 19)]
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
        report.append((os.path.basename(path), sql, code))
    return report


def main(argv):
    paths = argv[1:] or DEFAULT
    report = scan(paths)
    print(f"{'file':<24}{'sql':>6}{'code':>6}{'total':>7}")
    for name, sql, code in report:
        print(f"{name:<24}{sql:>6}{code:>6}{sql + code:>7}")
    ts = sum(r[1] for r in report)
    tc = sum(r[2] for r in report)
    print(f"{'TOTAL':<24}{ts:>6}{tc:>6}{ts + tc:>7}")


if __name__ == "__main__":
    main(sys.argv)
