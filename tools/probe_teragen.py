#!/usr/bin/env python
"""Characterize the teragen_sort 16x/10x scaling probe (r18; VERDICT
r17 item 3).

Decomposes the probe's time_ratio into its candidate causes by timing,
at 1M and 10M rows, each stage in isolation:

  gen        — teragen generation only (noop sink): is the md5-chain
               row synthesis itself linear?
  gen_sort   — generation + orderBy (the probe's exact shape): range
               partitioner SAMPLES the input with a separate job, so
               on-the-fly sources pay generation TWICE.
  mat_sort   — sort of the SAME rows pre-materialized to parquet:
               the sort proper, generation recompute excluded.
  sort64     — mat_sort with 64 shuffle partitions (spill check: if
               per-partition volume is the driver, halving it moves
               the ratio).

Discipline: fresh session, settle + min-of-2 per point, small/large
back-to-back, nothing else running.  Prints one RESULT json line;
--write merges under BENCH_DETAIL.json "teragen_decomposition".
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

SMALL, LARGE = 1_000_000, 10_000_000


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, fn, reps: int = 2) -> float:
    spark.catalog.clearCache()
    fn()
    best = float("inf")
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def fresh_session(shuffle: int = 32) -> SparkSession:
    import time as _t

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        _t.sleep(2.5)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    write = "--write" in sys.argv
    from hadoop_20_warehouse_spark.operators.datagen import teragen

    root = tempfile.mkdtemp(prefix="h20w_teragen_")
    out: dict[str, dict] = {}
    try:
        spark = fresh_session()
        pq = {}
        for tag, n in (("small", SMALL), ("large", LARGE)):
            pq[tag] = os.path.join(root, tag)
            teragen(spark, n, partitions=32).write.parquet(pq[tag])

        # one FRESH session per stage (the r18 first cut timed all
        # four in one aging session and read a 16x gen ratio that a
        # later warmed stage contradicted at 1.16x — the decomposition
        # itself must not share JVM state across stages)
        stages = [
            ("gen", 32,
             lambda sp, n, tag: force(teragen(sp, n, partitions=32))),
            ("gen_sort", 32,
             lambda sp, n, tag: force(
                 teragen(sp, n, partitions=32).orderBy("key"))),
            ("mat_sort", 32,
             lambda sp, n, tag: force(
                 sp.read.parquet(pq[tag]).orderBy("key"))),
            ("sort64", 64,
             lambda sp, n, tag: force(
                 sp.read.parquet(pq[tag]).orderBy("key"))),
        ]
        for stage, shuf, fn in stages:
            spark = fresh_session(shuf)
            s = timed(spark, lambda: fn(spark, SMALL, "small"))
            l = timed(spark, lambda: fn(spark, LARGE, "large"))
            out[stage] = {
                "small_s": s, "large_s": l,
                "time_ratio": round(l / max(s, 1e-9), 2),
            }
            print(f"# {stage}: {out[stage]}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print("RESULT " + json.dumps(out))
    if write:
        path = os.path.join(REPO, "BENCH_DETAIL.json")
        detail = json.load(open(path)) if os.path.exists(path) else {}
        detail["teragen_decomposition"] = out
        json.dump(detail, open(path, "w"), indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
