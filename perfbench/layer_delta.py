#!/usr/bin/env python3
"""Layer-delta report: compares the per-layer metrics of traced runs.

    python3 perfbench/run.py --workload ingest_gate --seed 1 --seconds 1 --trace 1 \
        --keep-record base-gate.json          # on the base commit
    python3 perfbench/run.py ... --keep-record new-gate.json    # on the change
    python3 perfbench/layer_delta.py --base base-*.json --new new-*.json

Each side takes one or more raw run records. They are grouped by workload;
with several records of one workload on a side, the per-metric median is
used. For every per-layer metric the report prints the base value, the new
value, the difference and the difference as a share of the base.
"""
import argparse
import json
import os
import statistics
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def load(paths):
    """workload -> metric -> median over the records of that workload."""
    by_workload = {}
    for p in paths:
        with open(p) as f:
            raw = json.load(f)
        by_workload.setdefault(raw["info"]["workload"], []).append(metrics.layer_metrics(raw))
    return {w: {k: statistics.median(r[k] for r in rs) for k in rs[0]}
            for w, rs in by_workload.items()}


def delta_rows(base, new):
    """(metric, base, new, new - base, (new - base) / base or None)."""
    rows = []
    for k in sorted(set(base) | set(new)):
        b, n = base.get(k, 0.0), new.get(k, 0.0)
        rows.append((k, b, n, n - b, (n - b) / b if b else None))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True, help="raw records of the base commit")
    ap.add_argument("--new", nargs="+", required=True, help="raw records of the change")
    ap.add_argument("--all", action="store_true", help="also print metrics that are 0 on both sides")
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    for w in sorted(set(base) | set(new)):
        print("workload %s" % w)
        if w not in base or w not in new:
            print("  only on the %s side" % ("base" if w in base else "new"))
            continue
        print("  %-36s %14s %14s %14s %9s" % ("metric", "base", "new", "delta", "of base"))
        for k, b, n, d, rel in delta_rows(base[w], new[w]):
            if b == 0 and n == 0 and not args.all:
                continue
            print("  %-36s %14.4g %14.4g %+14.4g %9s" % (
                k, b, n, d, "n/a" if rel is None else "%+.1f%%" % (100 * rel)))


if __name__ == "__main__":
    main()
