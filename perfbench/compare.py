"""Summarize benchmark results and compare two sets of them.

    python3 perfbench/compare.py RESULTS            # medians and spreads
    python3 perfbench/compare.py BASE NEW           # NEW against BASE

RESULTS, BASE and NEW are directories of result records written by
``run.py`` (``.perfbench/results``) or files of them. For every workload
and metric the summary gives the median, the quartiles and the spread
(inter-quartile distance over the median). The comparison also gives the
change of the median against the metric's bound in BENCHMARK.json, and
refuses to compare records made with unequal core counts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def summarize(records: list[dict]) -> dict:
    """{(workload, trace): {metric: {median, q1, q3, spread, n}}}"""
    by: dict = {}
    for r in records:
        for k, m in r["metrics"].items():
            by.setdefault((r["workload"], r["trace"]), {}).setdefault(k, []).append(m["value"])
    out: dict = {}
    for key, metrics in by.items():
        for k, vs in metrics.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            out.setdefault(key, {})[k] = {
                "median": med, "q1": q1, "q3": q3, "n": len(vs),
                "spread": (q3 - q1) / med if med else 0.0,
            }
    return out


def cores(records: list[dict]) -> set:
    return {json.dumps(r["cores"], sort_keys=True) for r in records}


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(p) for p in argv]
    seen = set().union(*(cores(s) for s in sets))
    if len(seen) > 1:
        print(f"refusing: results were made with unequal core counts {sorted(seen)}", file=sys.stderr)
        return 3
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metric_spec = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base = summarize(sets[0])
    new = summarize(sets[1]) if len(sets) == 2 else None
    worse = 0
    for key in sorted(base):
        print(f"== {key[0]} (trace {key[1]})")
        for k, b in base[key].items():
            line = f"  {k:32s} median {b['median']:.4g}  spread {b['spread']:.3f}  n={b['n']}"
            if new is not None and k in new.get(key, {}):
                n, ms = new[key][k], metric_spec.get(k, {})
                sign = -1.0 if ms.get("better") == "higher" else 1.0
                change = sign * (n["median"] - b["median"]) / b["median"] if b["median"] else 0.0
                line += f"  -> {n['median']:.4g} ({change:+.3f} worse-ward)"
                if "bound" in ms and change > ms["bound"]:
                    line += f"  WORSE THAN BOUND {ms['bound']}"
                    worse += 1
            print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
