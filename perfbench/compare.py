#!/usr/bin/env python3
"""Compare two run records written by run.py to perfbench/results/.

    python3 perfbench/compare.py BEFORE.json AFTER.json

Prints each metric's relative change. Records from different hosts (core
count, JVM heap, JDK, Spark version or Spark local-dir decision) are
refused with exit code 2, because their numbers do not compare.
"""
import argparse
import json
import sys

HOST_KEYS = ("nproc", "jvm_max_heap_bytes", "jdk", "spark", "local_dir")


def host_diff(a, b):
    return {k: (a["host"].get(k), b["host"].get(k)) for k in HOST_KEYS
            if a["host"].get(k) != b["host"].get(k)}


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("before")
    p.add_argument("after")
    args = p.parse_args(argv)
    with open(args.before) as fh:
        a = json.load(fh)
    with open(args.after) as fh:
        b = json.load(fh)
    diff = host_diff(a, b)
    if diff:
        print(f"host differs: {diff}", file=sys.stderr)
        print("refusing a cross-host comparison", file=sys.stderr)
        return 2
    if (a["workload"], a["trace"]) != (b["workload"], b["trace"]):
        print("records are of different workloads or trace modes",
              file=sys.stderr)
        return 2
    for name in sorted(set(a["metrics"]) | set(b["metrics"])):
        x, y = a["metrics"].get(name), b["metrics"].get(name)
        change = f"{(y - x) / x:+.1%}" if x and y is not None else "n/a"
        print(f"{name:32} {x!s:>22} {y!s:>22} {change:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
