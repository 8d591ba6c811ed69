#!/usr/bin/env python3
"""Compare two sets of sinkbench results, or summarise one.

    python3 sinkbench/compare.py BASE_DIR            # spread of each metric
    python3 sinkbench/compare.py BASE_DIR NEW_DIR    # NEW against BASE

Each directory holds the detail files run.py leaves in sinkbench/results/
(`<workload>-seed<n>-trace<0|1>.json`). For every workload x metric it
prints the medians, the run-to-run spread (distance between the first and
third quartile, as a share of the median) and a verdict under the bounds
in BENCHMARK.json:

  regressed   the new median is worse than the base median by more than the bound
  improved    better by more than the bound and by more than the base spread
  unresolved  the spread of either side exceeds the bound (unless every new
              run beats every base run, which counts as improved)
  ok          within the bound

Per-layer metrics have no bound and are listed with their change only.
Exits 1 when any end-to-end metric regressed.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    e2e = {m["name"]: m for m in b["end_to_end"]}
    layer = {m["name"]: m for m in b["per_layer"]}
    return e2e, layer


def load(d):
    """{(workload, metric): [values]} over the detail files of a directory."""
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*-seed*-trace*.json"))):
        with open(p) as f:
            r = json.load(f)
        section = r["per_layer"] if r["trace"] == "true" or r["trace"] is True else r["end_to_end"]
        for k, m in section.items():
            if m["value"] is not None:
                runs.setdefault((r["workload"], k), []).append(float(m["value"]))
    return runs


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def spread(vs):
    q1, q2, q3 = quartiles(vs)
    return (q3 - q1) / abs(q2) if q2 else float("inf") if q3 != q1 else 0.0


def worse_by(base, new, better):
    """Signed share by which new is worse than base (negative = better)."""
    if base == 0:
        return 0.0 if new == base else float("inf")
    d = (new - base) / abs(base)
    return d if better == "lower" else -d


def environment(d):
    """Median machine state per workload over a directory's runs."""
    env = {}
    for p in sorted(glob.glob(os.path.join(d, "*-seed*-trace*.json"))):
        with open(p) as f:
            r = json.load(f)
        for k, v in r.get("environment", {}).items():
            if v is not None:
                env.setdefault((r["workload"], k), []).append(float(v))
    for (wl, k), vs in sorted(env.items()):
        print(f"{wl:13s} env.{k:34s} {len(vs):3d} {statistics.median(vs):14.6g} "
              f"{min(vs):10.4g}..{max(vs):.4g}")


def summarise(runs, e2e):
    print(f"{'workload':13s} {'metric':38s} {'n':>3s} {'median':>14s} {'spread':>8s} {'bound':>6s}")
    for (wl, k), vs in sorted(runs.items()):
        b = e2e.get(k, {}).get("bound")
        s = spread(vs)
        flag = "" if b is None else (" >bound" if s > b else " >bound/3" if s > b / 3 else "")
        print(f"{wl:13s} {k:38s} {len(vs):3d} {statistics.median(vs):14.6g} {s:8.3f} "
              f"{'' if b is None else b:>6}{flag}")


def compare(base, new, e2e, layer):
    regressed = False
    print(f"{'workload':13s} {'metric':38s} {'base':>12s} {'new':>12s} {'worse_by':>9s} "
          f"{'spread':>7s}  verdict")
    for key in sorted(set(base) & set(new)):
        wl, k = key
        b, n = base[key], new[key]
        mb, mn = statistics.median(b), statistics.median(n)
        m = e2e.get(k) or layer.get(k)
        if m is None:
            continue
        w = worse_by(mb, mn, m["better"])
        s = max(spread(b), spread(n))
        if k in e2e:
            bound = m["bound"]
            all_better = all(worse_by(x, y, m["better"]) < 0 for x in b for y in n)
            if s > bound and not all_better:
                verdict = "unresolved"
            elif w > bound:
                verdict = "regressed"
                regressed = True
            elif all_better or (-w > bound and -w > spread(b)):
                verdict = "improved"
            else:
                verdict = "ok"
        else:
            verdict = "(per-layer)"
        print(f"{wl:13s} {k:38s} {mb:12.6g} {mn:12.6g} {w:9.3f} {s:7.3f}  {verdict}")
    return regressed


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    e2e, layer = spec()
    base = load(sys.argv[1])
    if not base:
        sys.exit(f"no result files in {sys.argv[1]}")
    if len(sys.argv) == 2:
        summarise(base, e2e)
        environment(sys.argv[1])
        return
    new = load(sys.argv[2])
    if not new:
        sys.exit(f"no result files in {sys.argv[2]}")
    regressed = compare(base, new, e2e, layer)
    for d in sys.argv[1:]:
        print(f"\nmachine state, {d}:")
        environment(d)
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
