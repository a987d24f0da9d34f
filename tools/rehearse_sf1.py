"""sf1-scale rehearsal (r9 VERDICT item 3): the r8 heavy additions at
10x their largest prior probe point.

- graph_pagerank: 20M synthetic edges (hub-skewed), 5 iterations,
  checkpoint_every=2 ENGAGED — lineage truncation under iteration is
  the thing sf0.1 never exercises.
- dedup_containment / dedup_fuzzy_edit: the registered queries run
  against a synthetic sf1 documents table — sf0.1's 5k docs upsampled
  10x by mutated replication (each doc 10 copies: 2 exact, 8 with a
  distinct token appended), which makes every duplicate cluster ~10x
  denser than organic growth — a strictly HARDER candidate-generation
  load than real sf1 would be.  Other tables symlink to sf0.1.

Each point is settle + min-of-2, small (sf0.1) and large back-to-back
in one fresh session, mirroring bench.py's scaling-probe discipline.
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

SF01 = "/root/testdata/sf0.1"


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def steady(fn, reps: int = 2) -> float:
    fn()
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def build_sf1_documents(spark, root: str) -> str:
    """10x-upsampled documents: copy 0/1 exact, 2-9 mutated."""
    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    mutated = F.when(F.col("copy") < 2, F.col("text")).otherwise(
        F.concat(
            F.col("text"),
            F.lit(" mut"),
            F.col("copy").cast("string"),
            (F.col("doc_id") % 97).cast("string"),
        )
    )
    # n_chars from the MUTATED text (an alias is not referenceable in
    # its own select, so F.length("text") would read the input column
    # and leave mutated copies with a stale length, breaking the
    # n_chars == length(text) invariant real tables uphold)
    up = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("copy"))
    ).select(
        (F.col("doc_id") * 10 + F.col("copy")).alias("doc_id"),
        mutated.alias("text"),
        "lang",
        "source",
        F.length(mutated).alias("n_chars"),
    )
    sf1 = os.path.join(root, "sf1")
    os.makedirs(sf1, exist_ok=True)
    up.write.mode("overwrite").parquet(os.path.join(sf1, "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        src = os.path.join(SF01, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(sf1, f"{t}.parquet"))
    return sf1


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from hadoop_20_warehouse_spark.graph import pagerank_integer
    from hadoop_20_warehouse_spark.registry import QUERIES
    import hadoop_20_warehouse_spark.inventory  # noqa: F401
    import hadoop_20_warehouse_spark.inventory_llm  # noqa: F401

    out: dict[str, dict] = {}

    # --- pagerank: 2M edges (probe floor) vs 20M edges, hub-skewed ----
    def edges(n: int):
        # ~n/10 nodes; 20% of edges land on a 1k-node hub set (skew)
        n_nodes = n // 10
        return spark.range(n).select(
            F.expr(f"abs(hash(id, 7)) % {n_nodes}").alias("src"),
            F.when(
                F.expr("abs(hash(id, 11)) % 5") == 0,
                F.expr("abs(hash(id, 13)) % 1000"),
            )
            .otherwise(F.expr(f"abs(hash(id, 17)) % {n_nodes}"))
            .alias("dst"),
        )

    root = tempfile.mkdtemp(prefix="h20w_sf1_")
    try:
        e_small = os.path.join(root, "edges2m")
        e_large = os.path.join(root, "edges20m")
        edges(2_000_000).write.parquet(e_small)
        edges(20_000_000).write.parquet(e_large)
        small = steady(
            lambda: force(
                pagerank_integer(
                    spark.read.parquet(e_small), iterations=5, checkpoint_every=2
                )
            )
        )
        large = steady(
            lambda: force(
                pagerank_integer(
                    spark.read.parquet(e_large), iterations=5, checkpoint_every=2
                )
            )
        )
        out["pagerank_20m_edges"] = {
            "small_edges": 2_000_000,
            "large_edges": 20_000_000,
            "small_s": small,
            "large_s": large,
            "data_ratio": 10.0,
            "time_ratio": round(large / max(small, 0.01), 3),
            "checkpoint_every": 2,
        }
        print(json.dumps({"pagerank": out["pagerank_20m_edges"]}), flush=True)

        # --- containment + fuzzy at 10x sf0.1 documents ----------------
        sf1 = build_sf1_documents(spark, root)
        for name in ("dedup_containment", "dedup_fuzzy_edit"):
            fn = QUERIES[name]
            small_s = steady(lambda: force(fn(spark, SF01)))
            large_s = steady(lambda: force(fn(spark, sf1)))
            out[name] = {
                "small_docs": 5000,
                "large_docs": 50000,
                "small_s": small_s,
                "large_s": large_s,
                "data_ratio": 10.0,
                "time_ratio": round(large_s / max(small_s, 0.01), 3),
            }
            print(json.dumps({name: out[name]}), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("RESULT " + json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
