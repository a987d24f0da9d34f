"""Delta-economics probe for scd2_apply_delta: is a daily dimension
load really DELTA-proportional, not dimension-proportional?

The claim under measurement (operators/scd.py docstring): merging an
append-only change batch costs the delta's key set — untouched keys
pass through one anti join, only affected keys re-window.  The honest
way to show it is the incremental-curation economics experiment
(tools/probe_incremental_crossover.py precedent): fix a ~1-day delta,
grow the BASE history 1x -> 10x, and compare

  apply   = scd2_apply_delta(prebuilt dim, delta)    [the daily load]
  rebuild = scd2_build(full log)                     [the naive plan]

as the base grows.  Delta-proportional means apply's wall time stays
~flat while rebuild's grows with the base.

Base growth is user-disjoint replication of the sf0.1 non-purchase
event log (each copy shifts user_id by 10^6·i and event_id by 10^9·i
— more keys, same per-key history, the shape a growing product has),
so the delta's key set stays FIXED while the dimension's key set
grows 10x.  Timing: settle + min-of-2 per point, one fresh session,
dims prebuilt OUTSIDE the timed region (the store-prebuilt rule).

Prints one RESULT json line; the PLANS.md row quotes it.
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
from hadoop_20_warehouse_spark.operators.scd import (  # noqa: E402
    scd2_apply_delta,
    scd2_build,
)

SF_DIR = "/root/testdata/sf0.1"
CUT = "2024-01-30 00:00:00"  # last ~day of the month-long log = delta
KEY_KW = dict(key="user_id", attrs=("event_type",), ts="ts",
              tiebreak=("event_id",))


def timed(fn):
    fn()  # settle
    best = float("inf")
    for _ in range(2):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ev = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") != "purchase")
        .select("user_id", "event_type", "ts", "event_id")
    )
    cut = F.lit(CUT).cast("timestamp")
    out = {}
    for mult in (10, 100):
        # user-disjoint replication via a range multiplier (one flat
        # plan instead of a mult-way union tree)
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
        # the DELTA stays the original sf0.1 slice — fixed key set
        delta = ev.filter(F.col("ts") >= cut).localCheckpoint(eager=True)
        # prebuild the dimension OUTSIDE the timed region (a daily
        # load consumes yesterday's table, it does not rebuild it)
        dim = scd2_build(base, keep_tiebreak=True, **KEY_KW).localCheckpoint(
            eager=True
        )
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        apply_s = timed(
            lambda: noop(scd2_apply_delta(dim, delta, **KEY_KW))
        )
        # the naive plan rebuilds from the grown history + today's batch
        rebuild_s = timed(
            lambda: noop(scd2_build(base.unionByName(delta), **KEY_KW))
        )
        n_base = base.count()
        out[f"x{mult}"] = {
            "base_rows": n_base,
            "apply_s": apply_s,
            "rebuild_s": rebuild_s,
        }
    a1, a10 = out["x10"]["apply_s"], out["x100"]["apply_s"]
    r1, r10 = out["x10"]["rebuild_s"], out["x100"]["rebuild_s"]
    out["apply_growth"] = round(a10 / a1, 2)
    out["rebuild_growth"] = round(r10 / r1, 2)
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
