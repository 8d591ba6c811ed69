#!/usr/bin/env python3
"""Diff two Bench artifacts.

    python3 scripts/bench_diff.py OLD NEW

Each side is either a committed round artifact (`BENCH_rNN.json`, whose
`parsed` block is the bench line) or a bench line itself
(`target/bench_last.json`, or any file whose last JSON line carries
`"metric"`).

For the 1x (`queries`), 10x (`queries_10x`) and 100x (`queries_100x`)
tiers it prints every row's old and new seconds, the speedup (old/new)
and the host context beside it: `ext` (busy cores outside the bench
JVM) and `io` (IO-stall fraction). A 100x row carries its own (those of
its minimum run); 1x and 10x rows show their tier's. Each tier ends with
the geometric-mean speedup over the rows both sides timed. Rows more
than 10% slower are listed again at the end.

It then lists what only one side has: rows of each tier, top-level
fields, and the fields of the rows and of `ingest_isolated`. `shed` and
`partial` are left out: Bench writes them only when a run sheds work or
is cut, so they are run state, not artifact shape. Last, it lists every
row both sides hold, `ingest_isolated` included, whose output count
(`rows`) differs. The exit status is 1 when a shape or row-count
difference exists, else 0.
"""

import argparse
import json
import math
import sys

TIERS = [("1x", "queries", "ext_cores_1x", "io_psi_1x"),
         ("10x", "queries_10x", "ext_cores_10x", "io_psi_10x"),
         ("100x", "queries_100x", None, None)]
SLOWER = 1.10
RUN_STATE = {"shed", "partial"}


def load(path):
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except ValueError:
        doc = None
        for line in reversed(text.splitlines()):
            line = line.strip()
            if line.startswith("{") and '"metric"' in line:
                doc = json.loads(line)
                break
        if doc is None:
            sys.exit(f"{path}: no bench line found")
    if "parsed" in doc:
        if doc["parsed"] is None:
            sys.exit(f"{path}: the artifact has no parsed bench line")
        doc = doc["parsed"]
    return doc


def context(bench, tier_ext, tier_io, row):
    """(ext, io) beside a row: its own minimum run's, else its tier's."""
    if tier_ext is None:
        ext = row.get("ext_cores")
        ios, runs = row.get("io") or [], row.get("runs") or []
        io = ios[runs.index(row["sec"])] if row.get("sec") in runs and \
            len(ios) == len(runs) else None
        return ext, io
    return bench.get(tier_ext), bench.get(tier_io)


def fmt(x, spec):
    return "-" if x is None else format(x, spec)


def one_sided(label, a, b, out):
    for k in sorted(set(a) - set(b) - RUN_STATE):
        out.append(f"{label}: `{k}` only in OLD")
    for k in sorted(set(b) - set(a) - RUN_STATE):
        out.append(f"{label}: `{k}` only in NEW")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    args = ap.parse_args()
    old, new = load(args.old), load(args.new)

    slower, shape, counts = [], [], []
    one_sided("top-level field", old, new, shape)
    for tier, key, tier_ext, tier_io in TIERS:
        a, b = old.get(key) or {}, new.get(key) or {}
        one_sided(f"{tier} row", a, b, shape)
        both = sorted(set(a) & set(b))
        counts += [f"{tier} {name}: rows {a[name].get('rows')} -> "
                   f"{b[name].get('rows')}"
                   for name in both if a[name].get("rows") != b[name].get("rows")]
        for side, x, y in (("OLD", a, b), ("NEW", b, a)):
            rows_by_field = {}
            for name in both:
                for f in set(x[name]) - set(y[name]) - RUN_STATE:
                    rows_by_field.setdefault(f, []).append(name)
            for f, names in sorted(rows_by_field.items()):
                shape.append(f"{tier} row field: `{f}` only in {side} "
                             f"({len(names)} rows: {', '.join(names[:3])}"
                             f"{', ...' if len(names) > 3 else ''})")
        if not both:
            continue
        print(f"== {tier}: {len(both)} rows in both")
        print(f"{'row':34} {'old s':>9} {'new s':>9} {'speedup':>8}"
              f"  {'ext old/new':>12} {'io old/new':>13}")
        logs = []
        for name in both:
            ra, rb = a[name], b[name]
            sa, sb = ra.get("sec") or 0.0, rb.get("sec") or 0.0
            sp = sa / sb if sa > 0 and sb > 0 else None
            if sp is not None:
                logs.append(math.log(sp))
                if sb > SLOWER * sa:
                    slower.append((tier, name, sa, sb))
            ea, ia = context(old, tier_ext, tier_io, ra)
            eb, ib = context(new, tier_ext, tier_io, rb)
            print(f"{name:34} {sa:9.3f} {sb:9.3f} {fmt(sp, '8.2f'):>8}"
                  f"  {fmt(ea, '.2f'):>5}/{fmt(eb, '.2f'):<6}"
                  f" {fmt(ia, '.3f'):>6}/{fmt(ib, '.3f'):<6}")
        if logs:
            print(f"-- {tier} geomean speedup {math.exp(sum(logs) / len(logs)):.3f}"
                  f" over {len(logs)} rows")
    iso_a, iso_b = old.get("ingest_isolated"), new.get("ingest_isolated")
    one_sided("ingest_isolated field", iso_a or {}, iso_b or {}, shape)
    if iso_a and iso_b and iso_a.get("rows") != iso_b.get("rows"):
        counts.append(f"ingest_isolated: rows {iso_a.get('rows')} -> "
                      f"{iso_b.get('rows')}")

    print(f"== rows more than {round((SLOWER - 1) * 100)}% slower: {len(slower)}")
    for tier, name, sa, sb in slower:
        print(f"  {tier:5} {name:34} {sa:9.3f} -> {sb:9.3f} s ({sb / sa:.2f}x)")
    print(f"== on one side only: {len(shape)}")
    for line in shape:
        print("  " + line)
    print(f"== rows whose output count differs: {len(counts)}")
    for line in counts:
        print("  " + line)
    for side, doc in (("OLD", old), ("NEW", new)):
        if doc.get("errors"):
            print(f"  {side} errors: {sorted(doc['errors'])}")
    sys.exit(1 if shape or counts else 0)


if __name__ == "__main__":
    main()
