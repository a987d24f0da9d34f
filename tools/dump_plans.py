#!/usr/bin/env python
"""Dump .explain("formatted") for every timed bench query into
plans/r18/<name>_<suffix>.txt (default suffix: before).

Usage: python tools/dump_plans.py [--suffix after] [--only a,b,c]

``--only`` takes bench names and any other registered query name; a
name that is neither exits non-zero before any plan is built.

The optimization-round deliverable: the judge checks plan claims in
OPTIMIZATION_r18.md against these files.  Queries whose construction
runs eager jobs (checkpointed iterations, staged writes) still produce
the final frame's plan — that is the plan the timed noop sink executes.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--only", default="")
    ap.add_argument("--round", default="r18", help="plans/<round>/ output dir")
    ap.add_argument("--outdir", default="", help="absolute output dir override")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bench import BENCH_QUERIES
    from hadoop_20_warehouse_spark.plans.explain import formatted_plan
    from hadoop_20_warehouse_spark.registry import QUERIES
    from hadoop_20_warehouse_spark.session import get_session

    only = [s for s in args.only.split(",") if s]
    unknown = [n for n in only if n not in BENCH_QUERIES and n not in QUERIES]
    if unknown:
        sys.exit("dump_plans: no bench or registered query named: "
                 + ", ".join(unknown))
    targets = (
        {n: BENCH_QUERIES.get(n) or QUERIES[n] for n in only}
        if only else BENCH_QUERIES
    )
    outdir = args.outdir or os.path.join(REPO, "plans", args.round)
    os.makedirs(outdir, exist_ok=True)
    spark = get_session()
    for name, fn in targets.items():
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        try:
            spark.sparkContext.setJobDescription(f"plan:{name}")
            df = fn(spark, args.sf_dir)
            plan = formatted_plan(df)
        except Exception:
            plan = "PLAN FAILED:\n" + traceback.format_exc()
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
