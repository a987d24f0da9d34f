"""Prove (or refute) the r18 triangle persist at sf1 scale — r18
VERDICT #3: the canon+adj persist (graph.py triangle_counts) won its
same-session A/B at sf0.1 but was bench-neutral under the
fresh-session protocol, so it is kept on plan-shape grounds (60 -> 32
parquet scans) pending an sf1 measurement.

One ARM per process (fresh session, mirroring the bench's
family-recycled protocol):

    python tools/probe_triangle_sf1.py persist   [n_rows]
    python tools/probe_triangle_sf1.py nopersist [n_rows]

``nopersist`` rebinds session.persist_generation to identity BEFORE
the query runs (triangle_counts resolves it at call time), so the two
arms differ ONLY in the persist.  The input mirrors the registered
query's derivation shape — a synthetic lineitem-like co-purchase
table (4 items/order, 10% of rows folded onto a 1k hot-part set) whose
self-join + distinct IS the expensive 'canon' derivation the persist
exists to stop replaying.  n_rows default 6M = sf1's lineitem scale
(sf0.1 is 600k).  Statistic: settle + min of 2 cache-cold reps.
Prints one RESULT json line.
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

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def main() -> None:
    mode = sys.argv[1]
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 6_000_000
    assert mode in ("persist", "nopersist", "canononly", "adjonly"), mode
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import hadoop_20_warehouse_spark.session as S  # noqa: E402
    from hadoop_20_warehouse_spark.graph import triangle_counts  # noqa: E402

    if mode != "persist":
        real = S.persist_generation
        keep_tag = {"canononly": "triangle_canon", "adjonly": "triangle_adj"}.get(mode)

        def gated(tag, *dfs, **kw):
            if tag == keep_tag:
                return real(tag, *dfs, **kw)
            return dfs[0] if len(dfs) == 1 else tuple(dfs)

        S.persist_generation = gated

    root = tempfile.mkdtemp(prefix="h20w_tri_")
    li_path = os.path.join(root, "li")
    n_parts = max(1000, n_rows // 30)
    spark.range(n_rows).select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        F.when(
            F.expr("abs(hash(id, 11)) % 10") == 0,
            F.expr("abs(hash(id, 13)) % 1000"),
        )
        .otherwise(F.expr(f"abs(hash(id, 3)) % {n_parts}"))
        .cast("long")
        .alias("l_partkey"),
    ).write.parquet(li_path)

    def run() -> None:
        li = spark.read.parquet(li_path)
        l2 = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
        edges = (
            li.join(l2, on="l_orderkey")
            .filter(F.col("l_partkey") < F.col("p2"))
            .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
            .distinct()
        )
        triangle_counts(edges).write.format("noop").mode("overwrite").save()

    try:
        run()  # settle
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
        print(
            "RESULT "
            + json.dumps(
                {"mode": mode, "n_rows": n_rows, "min_s": round(best, 3)}
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
