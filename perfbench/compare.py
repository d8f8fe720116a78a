"""Compare the records of two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are record files or directories of them (run.py writes one
per run to ``.bench_build/perfbench/records``).  Records are grouped by
workload and trace mode; each metric's median and quartile spread is
printed for both sides with the change between the medians.  Records
from different host shapes (nproc, RAM) are never mixed: the comparison
is refused.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def host_shapes(records: list[dict]) -> set[str]:
    return {json.dumps(r["host"], sort_keys=True) for r in records}


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median (0 when undefined)."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def compare(base: list[dict], new: list[dict]) -> list[tuple]:
    """Rows of (workload, trace, metric, base median, base spread,
    new median, new spread, relative change)."""
    shapes = host_shapes(base + new)
    if len(shapes) != 1:
        raise ValueError(f"records come from different host shapes: {sorted(shapes)}")
    rows = []
    groups = sorted({(r["workload"], r["trace"]) for r in base + new})
    for workload, trace in groups:
        b = [r["metrics"] for r in base if (r["workload"], r["trace"]) == (workload, trace)]
        n = [r["metrics"] for r in new if (r["workload"], r["trace"]) == (workload, trace)]
        for metric in sorted({k for m in b + n for k in m}):
            bv = [m[metric] for m in b if metric in m]
            nv = [m[metric] for m in n if metric in m]
            if not bv or not nv:
                continue
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm if bm else float("nan")
            rows.append((workload, trace, metric, bm, spread(bv), nm, spread(nv), change))
    return rows


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    args = p.parse_args(argv)
    try:
        rows = compare(load(args.base), load(args.new))
    except ValueError as e:
        print(f"compare: refused: {e}", file=sys.stderr)
        return 2
    print(f"{'workload':14s} {'t':1s} {'metric':40s} {'base':>12s} {'spread':>7s} {'new':>12s} {'spread':>7s} {'change':>8s}")
    for w, t, m, bm, bs, nm, ns, ch in rows:
        print(f"{w:14s} {t:1d} {m:40s} {bm:12.6g} {bs:7.3f} {nm:12.6g} {ns:7.3f} {ch:+8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
