#!/usr/bin/env python3
"""A/B comparison of lifecycle benchmark results.

    python3 lifebench/compare.py <A results> <B results>

Each side is a directory of run records (what run.py saves under
.lifebench/results/, searched recursively) from --trace 0 runs. A is the
parent, B the change. For every workload and end-to-end metric it prints
each side's median and quartiles and a verdict:

  better     B wins at least 9 of 10 runs paired by seed (ties count for
             neither) and the medians differ by more than A's quartile spread
  worse      B's median is worse than A's by more than the metric's bound
  unresolved A's or B's quartile spread, as a share of its median, exceeds
             the bound, and not every B run beats every A run
  unchanged  otherwise

Bounds and directions come from BENCHMARK.json. Exits 1 when any verdict
is worse or unresolved, or a run failed its checks.
"""
import glob
import json
import os
import statistics
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load(side):
    """{workload: {seed: record}} of the trace-0 records under `side`."""
    out = {}
    for path in sorted(glob.glob(os.path.join(side, "**", "*.json"),
                                 recursive=True)):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("trace") == 0 and "workload" in rec:
            out.setdefault(rec["workload"], {})[rec["seed"]] = rec
    return out


def verdict(a, b, better, bound, pairs):
    """a, b: metric values per run; pairs: [(a, b)] matched by seed."""
    sign = -1.0 if better == "lower" else 1.0
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    spread_a = (qa[2] - qa[0]) / abs(ma) if ma else 0.0
    spread_b = (qb[2] - qb[0]) / abs(mb) if mb else 0.0
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    all_better = min(sign * y for y in b) > max(sign * x for x in a)
    if pairs and wins >= 0.9 * len(pairs) and \
            abs(mb - ma) > (qa[2] - qa[0]):
        return "better"
    if max(spread_a, spread_b) > bound and not all_better:
        return "unresolved"
    if sign * (mb - ma) < -bound * abs(ma):
        return "worse"
    return "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    A, B = load(sys.argv[1]), load(sys.argv[2])
    bad = False
    for w in [x["name"] for x in bench["workloads"]]:
        ra, rb = A.get(w, {}), B.get(w, {})
        if not ra or not rb:
            print(f"{w}: no runs on {'A' if not ra else 'B'}")
            bad = True
            continue
        failed = [s for r in (ra, rb) for s, x in r.items() if not x["correct"]]
        print(f"{w}: A {len(ra)} runs, B {len(rb)} runs"
              + (f", FAILED seeds {failed}" if failed else ""))
        bad |= bool(failed)
        seeds = sorted(set(ra) & set(rb))
        print(f"  {'metric':<14}{'unit':<7}{'A q1':>11}{'A median':>11}"
              f"{'A q3':>11}{'B q1':>11}{'B median':>11}{'B q3':>11}  verdict")
        for m in metrics:
            n = m["name"]
            a = [r["metrics"][n]["value"] for r in ra.values()]
            b = [r["metrics"][n]["value"] for r in rb.values()]
            pairs = [(ra[s]["metrics"][n]["value"], rb[s]["metrics"][n]["value"])
                     for s in seeds]
            v = verdict(a, b, m["better"], m["bound"], pairs)
            bad |= v in ("worse", "unresolved")
            qa, qb = quartiles(a), quartiles(b)
            print(f"  {n:<14}{m['unit']:<7}"
                  + "".join(f"{x:>11.4g}" for x in qa + qb) + f"  {v}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
