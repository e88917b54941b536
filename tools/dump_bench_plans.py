"""Dump .explain("formatted") for bench queries (and any extra names)
to plans/<round>/<name>_<suffix>.txt — the optimization-round evidence
the judge checks plan claims against.

Run-specific ids (expression ids ``#123``, ``plan_id=123``, ``RDD[123]``)
are replaced with placeholders, so an unchanged plan dumps byte-identical
from any session and a before/after diff shows only real plan changes.

Usage: python tools/dump_bench_plans.py <suffix> --round DIR [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from distributed_map_reduce_spark import registry  # noqa: E402
from distributed_map_reduce_spark.session import get_spark  # noqa: E402


def normalize_plan(plan: str) -> str:
    """Expression ids renumber in order of first appearance (``#1``,
    ``#2`` …), so the plan keeps which attributes are the same one;
    plan and RDD ids become fixed placeholders."""
    ids: dict[str, str] = {}
    plan = re.sub(r"#(\d+)", lambda m: "#" + ids.setdefault(m.group(1), str(len(ids) + 1)), plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[N]", plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("suffix", help="before|after")
    ap.add_argument("--round", required=True, dest="round_dir", help="output folder under plans/, e.g. r12")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_intermixed_args()

    out_dir = os.path.join(REPO, "plans", args.round_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_bench_plans")
    qs = registry.all_queries()
    names = args.names or sorted(registry.bench_queries())
    for name in names:
        try:
            df = qs[name].fn(spark, args.sf)
            plan = normalize_plan(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
