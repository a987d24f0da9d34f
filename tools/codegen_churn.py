#!/usr/bin/env python
"""Count how much generated code each registered query compiles again
when it runs a second time in the same session.

Usage: python tools/codegen_churn.py [--only a,b,c] [--sf-dir DIR]

Runs the registered queries (all of them, or the ``--only`` names)
twice, in registry order, in one ``session.get_session`` session,
each collected with ``toPandas``.  The count is Spark's Janino compile
counter (``CodegenMetrics``), read before and after each query.

Prints each query's compiles on the second round, then the first
round's total (the distinct generated classes of the set, when the
codegen cache evicted nothing) and the second round's total.  A query
that compiles on the second round either lost its classes to eviction
or generates new source on every run.  Last, after a full GC, the
JVM's metaspace and JIT code-cache use, which grow with the classes
the cache holds.  ``--sf-dir`` defaults to perfbench's copy of the
scale-factor 0.001 test tables.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _compiles(jvm) -> int:
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return int(metric.getCount())


def _run(spark, fn, sf_dir: str) -> str | None:
    """Run one query; return its error, or None."""
    try:
        fn(spark, sf_dir).toPandas()
        return None
    except Exception as exc:  # one failing query must not end the survey
        return f"{type(exc).__name__}: {exc}".splitlines()[0]
    finally:
        spark.catalog.clearCache()


def _memory_mb(jvm) -> dict[str, float]:
    """Metaspace and JIT code-cache use after a full GC, in MB."""
    jvm.java.lang.System.gc()
    used: dict[str, float] = {}
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        name = pool.getName()
        key = "metaspace" if name == "Metaspace" else "code cache" if "Code" in name else None
        if key:
            used[key] = used.get(key, 0.0) + pool.getUsage().getUsed() / 2**20
    return used


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument(
        "--sf-dir", default=os.path.join(ROOT, "perfbench", "data", "sf0.001")
    )
    args = ap.parse_args()

    import hadoop_20_warehouse_spark.inventory  # noqa: F401  registers QUERIES
    from hadoop_20_warehouse_spark.registry import QUERIES
    from hadoop_20_warehouse_spark.session import get_session

    only = [n for n in args.only.split(",") if n]
    unknown = [n for n in only if n not in QUERIES]
    if unknown:
        sys.exit("codegen_churn: no registered query named: " + ", ".join(unknown))
    names = only or list(QUERIES)

    spark = get_session(extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    try:
        totals = []
        failed: set[str] = set()
        for round_no in (1, 2):
            total = 0
            for name in names:
                before = _compiles(jvm)
                error = _run(spark, QUERIES[name], args.sf_dir)
                n = _compiles(jvm) - before
                total += n
                if error:
                    failed.add(name)
                if round_no == 2:
                    print(f"{name}: {n}" + (f" FAILED {error}" if error else ""))
            totals.append(total)
        print(f"queries: {len(names)} ({len(failed)} failed); cache cap {cap}")
        print(f"first round compiles: {totals[0]}")
        print(f"second round compiles: {totals[1]}")
        mem = _memory_mb(jvm)
        print(", ".join(f"{k} {v:.1f} MB" for k, v in sorted(mem.items())) + " after GC")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
