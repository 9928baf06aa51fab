#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py <parent_log.jsonl> <change_log.jsonl>

Each file holds the records perfbench/run.py appends to
<build dir>/perfbench/log.jsonl. For every workload and metric it
prints each side's first quartile, median and third quartile and a
verdict:

  improved    the change wins at least 9 in 10 runs paired by seed
              (ties count for neither) and the medians differ by more
              than the parent's quartile spread;
  regressed   the change's median is worse than the parent's by more
              than the metric's bound; for per-layer metrics, which have
              no bound, it loses 9 in 10 pairs by more than the parent's
              spread;
  unresolved  neither, and a side's spread (quartile distance over
              median) is wider than the bound, or there is no bound;
              unless every change run reads better than every parent run;
  unchanged   otherwise.

It also prints, per workload and side, the pooled query tail (the
highest nearest-rank percentile with at least ten of the pooled query
operations beyond it, with that percentile and the sample count) and
the tracing overhead (median traced pass time over median wall_s).
"""
import json
import statistics
import sys


def load(path):
    return [json.loads(line) for line in open(path) if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, pairs, better, bound):
    sign = 1 if better == "higher" else -1
    qa, qb = quartiles(a), quartiles(b)
    spread_a = qa[2] - qa[0]
    delta = sign * (qb[1] - qa[1])  # > 0: the change reads better
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
    if pairs and wins >= 0.9 * len(pairs) and delta > spread_a:
        return "improved"
    if bound is not None and -delta > bound * abs(qa[1]):
        return "regressed"
    if bound is None and pairs and losses >= 0.9 * len(pairs) and -delta > spread_a:
        return "regressed"
    if min(sign * y for y in b) > max(sign * x for x in a):
        return "unchanged"
    rel = [(q[2] - q[0]) / abs(q[1]) for q in (qa, qb) if q[1]]
    if bound is None or max(rel, default=0.0) > bound:
        return "unresolved"
    return "unchanged"


def tail(values):
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open("BENCHMARK.json"))
    metrics = spec["end_to_end"] + spec["per_layer"]
    sides = {"parent": load(sys.argv[1]), "change": load(sys.argv[2])}
    parent, change = sides["parent"], sides["change"]
    print(f"{'workload':10} {'metric':34} {'parent q1/median/q3':>30} {'change q1/median/q3':>30}  verdict")
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        for m in metrics:
            name = m["name"]
            pa = {r["seed"]: r["metrics"][name] for r in parent
                  if r["workload"] == w and name in r["metrics"]}
            ch = {r["seed"]: r["metrics"][name] for r in change
                  if r["workload"] == w and name in r["metrics"]}
            if not pa or not ch:
                continue
            a, b = list(pa.values()), list(ch.values())
            pairs = [(pa[s], ch[s]) for s in ch if s in pa]
            v = verdict(a, b, pairs, m["better"], m.get("bound"))
            fa = "/".join(f"{x:.4g}" for x in quartiles(a))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"{w:10} {name:34} {fa:>30} {fb:>30}  {v} ({m['unit']}, runs {len(a)}/{len(b)})")
        for side, runs in sides.items():
            ops = [o[3] for r in runs if r["workload"] == w and r["trace"] == 0
                   for o in r["ops"] if o[2] == "query"]
            walls = [r["metrics"]["wall_s"] for r in runs if r["workload"] == w and r["trace"] == 0]
            traced = [r["metrics"]["trace.wall_s"] for r in runs if r["workload"] == w and r["trace"] == 1]
            line = f"{w:10} {side:7}"
            if ops:
                value, pct, n = tail(ops)
                line += f" query tail p{pct:.1f} of {n} operations: {value:.4g} s;"
            if walls and traced:
                line += f" tracing overhead {statistics.median(traced) / statistics.median(walls) - 1:+.1%}"
            print(line)


if __name__ == "__main__":
    main()
