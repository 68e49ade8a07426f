#!/usr/bin/env python3
"""Summarize an ab_interleave.sh run: per-query min-across-cycles for each
side, ratio B/A, plus the anchor spread so a drifting box is visible.

Usage: python3 tools/ab_report.py /tmp/ab_prefix
"""
import glob
import json
import re
import sys


def cycle(path):
    """The cycle number in a run file name (`<prefix>_A3.json` -> 3)."""
    m = re.search(r"(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


def load(side, prefix):
    files = sorted(glob.glob(f"{prefix}_{side}*.json"), key=cycle)
    runs = [json.load(open(f)) for f in files]
    qs = {}
    for r in runs:
        for k, v in r["queries"].items():
            if v >= 0:
                qs.setdefault(k, []).append(v)
    anchors = [(r["calibration_sec"], r["io_calibration_sec"]) for r in runs]
    return {k: min(v) for k, v in qs.items()}, anchors


def ratio(b, a):
    return b / a if a else float("nan")


def main():
    prefix = sys.argv[1]
    a, anch_a = load("A", prefix)
    b, anch_b = load("B", prefix)
    print("anchors A:", [(round(c, 3), round(i, 3)) for c, i in anch_a])
    print("anchors B:", [(round(c, 3), round(i, 3)) for c, i in anch_b])
    common = set(a) & set(b)
    if not common:
        print("no queries are common to A and B")
        return
    print(f"{'query':32s} {'A(min)':>8s} {'B(min)':>8s} {'B/A':>6s}")
    tot_a = tot_b = 0.0
    for k in sorted(common, key=lambda k: -a[k]):
        tot_a += a[k]
        tot_b += b[k]
        print(f"{k:32s} {a[k]:8.2f} {b[k]:8.2f} {ratio(b[k], a[k]):6.2f}")
    print(f"{'TOTAL(common)':32s} {tot_a:8.2f} {tot_b:8.2f} {ratio(tot_b, tot_a):6.2f}")


if __name__ == "__main__":
    main()
