"""Incremental-curate crossover probe (r9 VERDICT item 2).

The r9 bench probe showed apply_incremental_curate LOSING to full
recompute at both 100k and 1M docs (speedup 0.647 at 1M).  Hypothesis
under test here: the crossover variable is per-doc CURATION COST (doc
length), not corpus size — both paths are O(corpus), so corpus growth
never flips the winner; heavier per-doc curation does.

Measures apply-delta vs full-recompute wall time over:
  - doc lengths 40 / 200 / 1000 tokens at a fixed 1M-doc corpus
    (the curation-cost axis), and
  - 4M docs at 40 tokens (the corpus-size axis, to confirm no
    size crossover exists).

Store prebuilt and corpus parquet-materialized before timing, same
discipline as bench.run_incremental_probe.  Prints one JSON dict.
Usage: python tools/probe_incremental_crossover.py [--quick]
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

from hadoop_20_warehouse_spark.incremental import (  # noqa: E402
    apply_incremental_curate,
    build_curated_store,
    curate_redact_gate,
)


def synth_corpus(spark, n_docs: int, n_tokens: int):
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(1, {n_tokens}), j -> "
            "substr(md5(concat(cast(id as string), '#', "
            "cast(j as string))), 1, 6)), ' ')"
        ).alias("text"),
    )


def v2_fixed_delta(docs, spark):
    changed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") < 500, F.concat("text", F.lit(" rev2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = spark.range(250).select(
        (F.col("id") + 100_000_000).alias("doc_id"),
        F.concat(
            F.lit("synthetic added document body with enough tokens "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    return changed.unionByName(added)


def timed(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def main() -> None:
    quick = "--quick" in sys.argv
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    points = [
        ("1M_40tok", 1_000_000, 40),
        ("1M_200tok", 1_000_000, 200),
        ("1M_1000tok", 1_000_000, 1000),
        ("4M_40tok", 4_000_000, 40),
    ]
    if quick:
        points = [("100k_40tok", 100_000, 40), ("100k_400tok", 100_000, 400)]
    out = {}
    for label, n_docs, n_tokens in points:
        root = tempfile.mkdtemp(prefix="h20w_xover_")
        try:
            corpus_path, store_path = root + "/corpus", root + "/store"
            synth_corpus(spark, n_docs, n_tokens).write.parquet(corpus_path)
            docs = spark.read.parquet(corpus_path)
            build_curated_store(docs, store_path)
            store = spark.read.parquet(store_path)
            v2 = v2_fixed_delta(docs, spark)
            apply_s = timed(
                lambda: apply_incremental_curate(v2, store)
                .write.format("noop").mode("overwrite").save()
            )
            full_s = timed(
                lambda: curate_redact_gate(v2)
                .write.format("noop").mode("overwrite").save()
            )
            out[label] = {
                "n_docs": n_docs,
                "n_tokens": n_tokens,
                "apply_delta_s": apply_s,
                "full_recompute_s": full_s,
                "apply_speedup_vs_full": round(full_s / max(apply_s, 1e-3), 3),
            }
            print(json.dumps({label: out[label]}), flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print("RESULT " + json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
