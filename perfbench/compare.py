#!/usr/bin/env python3
"""Read and compare graft benchmark results.

  python3 perfbench/compare.py RUNS...                      # one run set
  python3 perfbench/compare.py --parent RUNS... --change RUNS...

RUNS are result files written by run.py (.bench_build/results/*.json) or
directories of them. For each workload x metric the report gives each
side's run count, median and quartiles, and the spread: the distance
between the quartiles as a share of the median.

With two sets it pairs the runs in file-name order and counts pair wins
(ties count for neither side), then gives one verdict per metric:

  gain         the change wins at least 9/10 of the pairs and the medians
               differ by more than the parent's quartile distance
  regression   the change's median is worse than the parent's by more
               than the metric's bound (BENCHMARK.json)
  unresolved   either side's spread exceeds the bound, unless every
               change run beats every parent run
  within       none of the above: no worse than the bound

Metrics without a bound (the workload-named detail metrics and the
per-layer metrics) are reported with `--` as their bound and are never
judged a regression.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load_runs(paths):
    files = []
    for p in map(Path, paths):
        files += sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = []
    for f in sorted(files):
        d = json.loads(f.read_text())
        if "stamp" in d and "result" in d:
            runs.append(d)
    return runs


def series(runs):
    """{(workload, trace): {metric: [values in run order]}} with units."""
    out, units = {}, {}
    for r in runs:
        key = (r["stamp"]["workload"], int(r["stamp"]["trace"]))
        metrics = dict(r["result"]["metrics"])
        if not key[1]:
            metrics.update(r.get("detail", {}))
        for name, m in metrics.items():
            out.setdefault(key, {}).setdefault(name, []).append(float(m["value"]))
            units[name] = m["unit"]
    return out, units


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def verdict(p, c, better, bound):
    pm, cm = statistics.median(p), statistics.median(c)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(p, c))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    losses = sum(1 for a, b in pairs if sign * (b - a) < 0)
    pq1, _, pq3 = quartiles(p)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (pq3 - pq1):
        v = "gain"
    elif bound is not None and pm and sign * (cm - pm) / abs(pm) < -bound:
        v = "regression"
    elif bound is not None and max(spread(p), spread(c)) > bound and \
            not all(sign * (b - a) > 0 for a in p for b in c):
        v = "unresolved"
    else:
        v = "within"
    return wins, losses, v


def fmt(x):
    return f"{x:.4g}"


def report(parent, change, spec):
    bounds = {m["name"]: m.get("bound") for m in spec.get("end_to_end", [])}
    better = {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    better.update({n: "higher" for n in ("ops_per_s", "churn_steps_per_s")})
    ps, units = series(parent)
    cs, cunits = series(change) if change else ({}, {})
    units.update(cunits)
    lines, bad = [], 0
    for key in sorted(set(ps) | set(cs)):
        wl, tr = key
        lines.append(f"== {wl} ({'traced' if tr else 'untraced'})")
        names = sorted(set(ps.get(key, {})) | set(cs.get(key, {})))
        for name in names:
            p, c = ps.get(key, {}).get(name, []), cs.get(key, {}).get(name, [])
            b = bounds.get(name)
            bstr = fmt(b) if b is not None else "--"
            cols = [f"{name:<24}", f"{units.get(name, ''):<9}", f"bound {bstr:<5}"]
            for tag, xs in (("parent", p), ("change", c)):
                if xs:
                    q1, q2, q3 = quartiles(xs)
                    cols.append(f"{tag} n={len(xs)} med={fmt(q2)} q1={fmt(q1)} q3={fmt(q3)} "
                                f"spread={fmt(spread(xs))}")
            if p and c:
                wins, losses, v = verdict(p, c, better.get(name, "lower"), b)
                cols.append(f"pairs {wins}W/{losses}L of {min(len(p), len(c))} -> {v}")
                bad += v == "regression"
            elif b is not None and spread(p or c) > b:
                cols.append("-> unresolved (spread > bound)")
            lines.append("  ".join(cols))
    return "\n".join(lines), bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("runs", nargs="*", help="result files or directories (one run set)")
    ap.add_argument("--parent", nargs="+", default=[])
    ap.add_argument("--change", nargs="+", default=[])
    ap.add_argument("--spec", default=str(SPEC))
    a = ap.parse_args()
    spec = json.loads(Path(a.spec).read_text())
    parent = load_runs(a.parent or a.runs)
    change = load_runs(a.change)
    if not parent:
        sys.exit("no result files found")
    text, bad = report(parent, change, spec)
    print(text)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
