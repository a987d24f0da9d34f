"""Delta-economics probe for operators/cdc.merge_apply_changes: is a
daily current-state MERGE really DELTA-proportional?

The claim under measurement (operators/cdc.py docstring): applying a
change log to a snapshot costs the delta plus ONE snapshot anti-join
scan — never a recompute of the state from history.  Same experiment
design as tools/probe_scd2_economics.py: fix a ~1-day delta, grow the
BASE history 1x -> 10x via user-disjoint replication, and compare

  merge    = merge_apply_changes(prebuilt snapshot, delta)
  recompute = latest-wins election over the FULL grown log

as the base grows.  The snapshot grows with the base (it is one row
per key), so merge's cost is expected to grow with the SNAPSHOT scan
term only (sub-linear in history rows: the snapshot is |keys|, the
log is |events|), while recompute tracks the history.

Timing: settle + min-of-2 per point, one fresh session, snapshot
prebuilt OUTSIDE the timed region (the store-prebuilt rule).  Prints
one RESULT json line; the PLANS.md row quotes it.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from hadoop_20_warehouse_spark.catalog import load_table  # noqa: E402
from hadoop_20_warehouse_spark.operators.cdc import (  # noqa: E402
    merge_apply_changes,
)

SF_DIR = "/root/testdata/sf0.1"
CUT = "2024-01-30 00:00:00"  # last ~day of the month-long log = delta


def timed(fn):
    fn()  # settle
    best = float("inf")
    for _ in range(2):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def latest_state(df):
    """Latest-wins current state per user (the recompute plan)."""
    return (
        df.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ts"),
                    F.col("event_id"),
                    F.col("event_type").alias("st"),
                )
            ).alias("_w")
        )
        .select("user_id", F.col("_w.st").alias("state"))
    )


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cut = F.lit(CUT).cast("timestamp")
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    out = {}
    for mult in (10, 100):
        full = (
            ev.crossJoin(spark.range(mult).select(F.col("id").alias("_i")))
            .select(
                (F.col("user_id") + 1_000_000 * F.col("_i")).alias("user_id"),
                "event_type",
                "ts",
                (F.col("event_id") + 1_000_000_000 * F.col("_i")).alias(
                    "event_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
        base = full.filter(F.col("ts") < cut)
        # the DELTA stays the original sf0.1 day — fixed key set
        delta = (
            ev.filter(F.col("ts") >= cut)
            .select(
                "user_id",
                F.lit("U").alias("op"),
                "ts",
                "event_id",
                F.col("event_type").alias("state"),
            )
            .localCheckpoint(eager=True)
        )
        # prebuild the snapshot OUTSIDE the timed region (the daily
        # load consumes yesterday's table)
        snap = latest_state(base).localCheckpoint(eager=True)
        merge_s = timed(
            lambda: noop(
                merge_apply_changes(
                    snap, delta, key="user_id", cols=("state",),
                    ts="ts", tiebreak=("event_id",),
                )
            )
        )
        recompute_s = timed(lambda: noop(latest_state(full)))
        out[f"x{mult}"] = {
            "base_rows": base.count(),
            "snapshot_rows": snap.count(),
            "merge_s": merge_s,
            "recompute_s": recompute_s,
        }
    m1, m10 = out["x10"]["merge_s"], out["x100"]["merge_s"]
    r1, r10 = out["x10"]["recompute_s"], out["x100"]["recompute_s"]
    out["merge_growth"] = round(m10 / m1, 2)
    out["recompute_growth"] = round(r10 / r1, 2)
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
