#!/usr/bin/env python
"""100x scaling probes, sf0.01 -> sf1 (r18; VERDICT r17 item 2).

The ten most shuffle-heavy registered queries run at TWO data points:
the real sf0.01 tables (small) and a synthesized sf1 (large) — 10x
mutated replication of sf0.1's big tables, the rehearse_sf1.py
discipline (documents copies 0-1 exact / 2-9 mutated so duplicate
clusters are ~10x DENSER than organic sf1; embeddings perturbed per
copy; orders/lineitem/events replicated on shifted keys so join/graph
fan-in per retained dimension key grows 10x — each a strictly HARDER
load than real sf1).  data_ratio = 100.

Measurement follows the bench discipline (BASELINE.md): fresh session,
settle + min-of-2 per point, small/large back-to-back per query,
session recycled every few queries so JVM aging cannot straddle a
probe pair, nothing else running.  The bar: time_ratio <= ~data_ratio
(sub-linear per unit); anything super-linear gets re-run isolated
before it is called real.

Prints one RESULT json line and (with --write) merges it into
BENCH_DETAIL.json under "scaling_100x".
Usage: python tools/probe_100x.py [--write] [--only name1,name2]
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

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"

PROBES = [
    "dedup_minhash_lsh",
    "graph_triangle_count",
    "dedup_substring_exact",
    "dedup_containment",
    "graph_pagerank",
    "pipeline_release_endgame_full",
    "corpus_export_roundtrip",
    "bpe_train_natural",
    "knn_ivfpq_trained",
    "scd2_dimension_build",
    # r18 session 3: the snapshot MERGE write path — clustered create
    # over the full orders table + match job + copy-on-write rewrite +
    # source landing; every term should be rows-linear + O(files)
    "snapshot_merge_upsert",
]
RECYCLE_EVERY = 4  # queries per session (2 timed points + settles each)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fresh_session() -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        time.sleep(2.5)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed(spark, fn, reps: int = 2) -> float:
    spark.catalog.clearCache()
    fn()  # settle
    best = float("inf")
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def build_sf1(spark, root: str) -> str:
    """10x mutated replication of sf0.1's five big tables; small dims
    symlinked.  Key spaces shift per copy so row counts AND key
    cardinalities scale; dimension keys (custkey/partkey/user_id) stay
    fixed, so per-key fan-in grows 10x — the skew-hardened direction."""
    sf1 = os.path.join(root, "sf1")
    os.makedirs(sf1, exist_ok=True)
    copies = spark.range(10).select(F.col("id").alias("copy"))

    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    mutated = F.when(F.col("copy") < 2, F.col("text")).otherwise(
        F.concat(
            F.col("text"), F.lit(" mut"),
            F.col("copy").cast("string"),
            (F.col("doc_id") % 97).cast("string"),
        )
    )
    docs.crossJoin(copies).select(
        (F.col("doc_id") * 10 + F.col("copy")).alias("doc_id"),
        mutated.alias("text"), "lang", "source",
        F.length(mutated).alias("n_chars"),
    ).write.mode("overwrite").parquet(os.path.join(sf1, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(SF01, "embeddings.parquet"))
    emb.crossJoin(copies).select(
        (F.col("vec_id") * 10 + F.col("copy")).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x + copy * 1e-3 * "
            "((abs(hash(vec_id, i, copy)) % 7) - 3) AS FLOAT))"
        ).alias("embedding"),
        "label",
    ).write.mode("overwrite").parquet(os.path.join(sf1, "embeddings.parquet"))

    orders = spark.read.parquet(os.path.join(SF01, "orders.parquet"))
    maxk = orders.agg(F.max("o_orderkey")).first()[0] + 1
    orders.crossJoin(copies).select(
        (F.col("o_orderkey") + F.col("copy") * F.lit(maxk)).alias(
            "o_orderkey"
        ),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    ).write.mode("overwrite").parquet(os.path.join(sf1, "orders.parquet"))

    li = spark.read.parquet(os.path.join(SF01, "lineitem.parquet"))
    li.crossJoin(copies).select(
        (F.col("l_orderkey") + F.col("copy") * F.lit(maxk)).alias(
            "l_orderkey"
        ),
        "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ).write.mode("overwrite").parquet(os.path.join(sf1, "lineitem.parquet"))

    ev = spark.read.parquet(os.path.join(SF01, "events.parquet"))
    maxe = ev.agg(F.max("event_id")).first()[0] + 1
    ev.crossJoin(copies).select(
        (F.col("event_id") + F.col("copy") * F.lit(maxe)).alias("event_id"),
        (F.col("ts") + F.make_interval(secs=F.col("copy"))).alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.mode("overwrite").parquet(os.path.join(sf1, "events.parquet"))

    for t in ("region", "nation", "customer", "supplier", "part"):
        os.symlink(
            os.path.join(SF01, f"{t}.parquet"),
            os.path.join(sf1, f"{t}.parquet"),
        )
    return sf1


def main() -> None:
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only"):
            only = a.split("=", 1)[1].split(",") if "=" in a else None
    write = "--write" in sys.argv
    names = [n for n in PROBES if only is None or n in only]

    spark = fresh_session()
    root = tempfile.mkdtemp(prefix="h20w_100x_")
    out: dict[str, dict] = {}
    try:
        t0 = time.perf_counter()
        sf1 = build_sf1(spark, root)
        print(
            f"# sf1 synthesized in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
        import hadoop_20_warehouse_spark.inventory  # noqa: F401
        import hadoop_20_warehouse_spark.inventory_llm  # noqa: F401
        from hadoop_20_warehouse_spark.registry import QUERIES

        for i, name in enumerate(names):
            if i and i % RECYCLE_EVERY == 0:
                spark = fresh_session()
                # drain: the stopped context's async cleanup bleeds
                for _ in range(2):
                    force(spark.range(1_000_000).select(F.sum("id")))
            q = QUERIES[name]
            small = timed(spark, lambda: force(q(spark, SF001)))
            large = timed(spark, lambda: force(q(spark, sf1)))
            out[name] = {
                "small_s": small,
                "large_s": large,
                "data_ratio": 100.0,
                "time_ratio": round(large / max(small, 1e-9), 2),
            }
            print(f"# {name}: {out[name]}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    flagged = {
        n: r for n, r in out.items() if r["time_ratio"] > r["data_ratio"]
    }
    result = {"scaling_100x": out, "super_linear": sorted(flagged)}
    print("RESULT " + json.dumps(result))
    if write:
        path = os.path.join(REPO, "BENCH_DETAIL.json")
        detail = json.load(open(path)) if os.path.exists(path) else {}
        # merge, don't clobber — an --only rerun must not erase the
        # other probes' recorded points
        merged = dict(detail.get("scaling_100x", {}))
        merged.update(out)
        detail["scaling_100x"] = merged
        detail["scaling_100x_super_linear"] = sorted(
            n
            for n, r in merged.items()
            if r["time_ratio"] > r["data_ratio"]
        )
        json.dump(detail, open(path, "w"), indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
