#!/usr/bin/env python3
"""Compares two sets of benchmark records, like for like only.

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are record files written by run.py (under
.perfbench/results/) or directories of them. Records are grouped by workload
and trace mode; for each metric the medians of both sides are printed with
their ratio. Records whose core count, heap size, JVM or Spark version differ
between the two sides are refused (exit code 2): such numbers are not
comparable.
"""
import glob
import json
import os
import statistics
import sys

MUST_MATCH = ("cpus", "xmx", "jvm", "spark")


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def main():
    before, after = load(sys.argv[1]), load(sys.argv[2])
    stamps = {tuple(r["stamp"][k] for k in MUST_MATCH) for r in before + after}
    if len(stamps) > 1:
        print("refused: records differ in " + ", ".join(MUST_MATCH) + f": {sorted(stamps)}")
        return 2
    groups = {}
    for side, recs in (("before", before), ("after", after)):
        for r in recs:
            key = (r["stamp"]["workload"], r["stamp"]["trace"])
            section = r["per_layer"] if r["stamp"]["trace"] else r["end_to_end"]
            for name, v in section.items():
                groups.setdefault(key, {}).setdefault(name, {"before": [], "after": []})[side].append(v)
    for (workload, trace), metrics in sorted(groups.items()):
        for name, sides in metrics.items():
            if not sides["before"] or not sides["after"]:
                continue
            b, a = statistics.median(sides["before"]), statistics.median(sides["after"])
            ratio = f"{a / b:.3f}" if b else "-"
            print(f"{workload:14s} trace={int(trace)} {name:36s} {b:12.4f} {a:12.4f} {ratio:>7s}"
                  f"  (n={len(sides['before'])}/{len(sides['after'])})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
