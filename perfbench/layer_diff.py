#!/usr/bin/env python3
"""Layer-by-layer diff of two traced benchmark outputs.

Usage:
  python3 perfbench/layer_diff.py BASE NEW [--all]

BASE and NEW are each a trace file written by `run.py --trace 1`
(.bench_build/perfbench/traces/<workload>-seed<n>.json) or a directory of
them. Directories are matched by workload; when a directory holds several
seeds of one workload, the per-pass and per-statement values are the
medians across them.

For every workload in both, prints the per-pass layer metrics and then, per
statement, the layers that moved by more than 5% (all of them with --all),
as base, new, and new/base.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

THRESHOLD = 0.05


def load(path):
    """{workload: {"per_pass": {metric: v}, "per_statement": {stmt: {metric: v}}}}"""
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    by_workload = {}
    for f in files:
        doc = json.loads(f.read_text())
        by_workload.setdefault(doc["workload"], []).append(doc)
    out = {}
    for w, docs in by_workload.items():
        per_pass = {k: statistics.median(d["per_pass"]["median"][k] for d in docs)
                    for k in docs[0]["per_pass"]["median"]}
        per_pass.update({k: statistics.median(d["overhead"][k] for d in docs)
                         for k in docs[0]["overhead"]})
        stmts = {}
        for d in docs:
            for s, m in d["per_statement"].items():
                for k, v in m.items():
                    stmts.setdefault(s, {}).setdefault(k, []).append(v)
        out[w] = {"per_pass": per_pass,
                  "per_statement": {s: {k: statistics.median(v) for k, v in m.items()}
                                    for s, m in stmts.items()}}
    return out


def ratio(a, b):
    if a == 0:
        return "-" if b == 0 else "new"
    return f"{b / a:.3f}"


def moved(a, b):
    return (a == 0) != (b == 0) or (a != 0 and abs(b / a - 1) > THRESHOLD)


def rows(base, new, show_all):
    for k in sorted(set(base) & set(new)):
        if show_all or moved(base[k], new[k]):
            yield f"  {k:34s} {base[k]:>16.6g} {new[k]:>16.6g} {ratio(base[k], new[k]):>8s}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--all", action="store_true", help="print unchanged layers too")
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    common = sorted(set(base) & set(new))
    if not common:
        sys.exit("no workload appears in both inputs")
    header = f"  {'layer':34s} {'base':>16s} {'new':>16s} {'new/base':>8s}"
    for w in common:
        print(f"== {w}: per pass")
        print(header)
        for line in rows(base[w]["per_pass"], new[w]["per_pass"], True):
            print(line)
        bs, ns = base[w]["per_statement"], new[w]["per_statement"]
        for s in sorted(set(bs) & set(ns)):
            lines = list(rows(bs[s], ns[s], args.all))
            if lines:
                print(f"-- {w} / {s}")
                print(header)
                print("\n".join(lines))
        for s in sorted(set(bs) ^ set(ns)):
            print(f"-- {w} / {s}: only in {'base' if s in bs else 'new'}")


if __name__ == "__main__":
    main()
