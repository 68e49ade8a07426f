#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark between two checkouts.

Runs `perfbench/run.py` once per seed in each checkout, alternating which
side goes first (A then B on the 1st, 3rd, ... pair; B then A on the 2nd,
4th, ...), so drift of the machine over the campaign lands on both sides.
Each run happens in its own checkout, which builds what it runs from its
own sources into its `.bench_build/`; nothing is written under `perfbench/`.

Prints, for the metrics on the result line of `run.py` (`op_ms` and
`setup_s` with `--trace 0`, the per-layer metrics with `--trace 1`):

1. each pair: seed, which side ran first, each side's metric values, and
   each side's `correct` / `attempted` / `failed`;
2. each side's median and quartiles (Q1-Q3, `statistics.quantiles` with
   the inclusive method), the change of B's median against A's, whether
   that gap exceeds A's interquartile range, and in how many pairs B was
   better (the direction comes from `BENCHMARK.json`'s `better`);
3. whether `correct`, `attempted` and `failed` agree in every pair.

Usage:

    python3 tools/perfbench_ab.py PARENT_CHECKOUT CHANGE_CHECKOUT \\
        --workload serve --seeds 2-4,9-16 [--seconds 14] [--trace 0] \\
        [--out DIR]

`--out DIR` keeps every run's stdout and stderr as `DIR/<side><seed>.out`
and `.err`. Exit status: 0 when every run printed a result line, 1
otherwise (the summary still covers the runs that did).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec):
    """`2-4,9,11` -> [2, 3, 4, 9, 11]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run(checkout, workload, seed, seconds, trace, out, tag):
    """One `run.py` in `checkout`: its result line (a dict), or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if out:
        for ext, text in (("out", p.stdout), ("err", p.stderr)):
            with open(os.path.join(out, f"{tag}{seed}.{ext}"), "w") as f:
                f.write(text)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"  {tag} seed {seed}: no result line (exit {p.returncode})")
        return None
    return result if "metrics" in result else None


def directions(checkout):
    """metric name -> "lower" | "higher", from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def fmt(x):
    """Four significant digits, without switching to exponent form."""
    return f"{x:.1f}" if abs(x) >= 1000 else f"{x:.4g}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout A (the baseline)")
    ap.add_argument("change", help="checkout B (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 2-4,9-16")
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="keep each run's stdout/stderr here")
    args = ap.parse_args()
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    sides = {"A": os.path.abspath(args.parent), "B": os.path.abspath(args.change)}
    better = directions(sides["B"])

    pairs = []  # (seed, first side, {side: result})
    for i, seed in enumerate(seed_list(args.seeds)):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        res = {s: run(sides[s], args.workload, seed, args.seconds, args.trace,
                      args.out, s) for s in order}
        pairs.append((seed, order[0], res))
        names = sorted(set().union(*(r["metrics"] for r in res.values() if r)))
        vals = "  ".join(
            f"{n} " + " -> ".join(
                fmt(res[s]["metrics"][n]["value"]) if res[s] and n in res[s]["metrics"]
                else "-" for s in "AB")
            for n in names)
        checks = "  ".join(
            f"{s}:" + ("/".join(str(res[s].get(k)) for k in ("correct", "attempted", "failed"))
                       if res[s] else "none") for s in "AB")
        print(f"pair seed {seed} ({order[0]} first): {vals}  [{checks}]", flush=True)

    complete = [(seed, res) for seed, _, res in pairs if res["A"] and res["B"]]
    print(f"\n{args.workload}: {len(complete)} complete pairs of {len(pairs)}")
    names = sorted(set().union(*(res[s]["metrics"] for _, res in complete for s in "AB")))
    for n in names:
        both = [(res["A"]["metrics"][n], res["B"]["metrics"][n])
                for _, res in complete
                if n in res["A"]["metrics"] and n in res["B"]["metrics"]]
        if not both:
            continue
        unit = both[0][0].get("unit", "")
        both = [(x["value"], y["value"]) for x, y in both]
        a, b = [x for x, _ in both], [y for _, y in both]
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        lower = better.get(n, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in both)
        pct = 100.0 * (bm - am) / am if am else float("nan")
        print(f"  {n} ({unit}, {'lower' if lower else 'higher'} is better): "
              f"A median {fmt(am)} (Q1-Q3 {fmt(a1)}-{fmt(a3)}), "
              f"B median {fmt(bm)} (Q1-Q3 {fmt(b1)}-{fmt(b3)}), {pct:+.1f}%; "
              f"|gap| {fmt(abs(bm - am))} {'>' if abs(bm - am) > a3 - a1 else '<='} "
              f"A's IQR {fmt(a3 - a1)}; B better in {wins} of {len(both)}")
    agree = all(res["A"].get(k) == res["B"].get(k)
                for _, res in complete for k in ("correct", "attempted", "failed"))
    print(f"  correct/attempted/failed agree in every pair: {'yes' if agree else 'NO'}")
    for seed, res in complete:
        for k in ("correct", "attempted", "failed"):
            if res["A"].get(k) != res["B"].get(k):
                print(f"    seed {seed}: {k} {res['A'].get(k)} -> {res['B'].get(k)}")
    sys.exit(0 if len(complete) == len(pairs) else 1)


if __name__ == "__main__":
    main()
