"""sf1-scale rehearsal of the COMPOSED release endgames: the full
registered pipeline_release_endgame plan (gate -> SemDeDup ->
tokenizer train/persist/reload -> survivor tokenize -> mixture ->
pack -> shuffle -> partitioned export -> readback digest) and the
round-15 pipeline_release_endgame_full (PII redact -> exact dedup ->
verified MinHash-LSH + components + rep election -> decontamination
prepended, upsampled epoch mixture in the tail) at 10x the sf0.1
corpus.

Corpus (re-fixtured r17 — r16 VERDICT #3): the r16 mutated-copies
fixture collapsed the tail to ZERO survivors at sf1 (suffix mutations
left the leading-span exact key unchanged, so exact dedup folded each
10-copy family to one doc, and the corpus-derived eval-gram set then
decontaminated nearly everything — n_final sf1 = 0, so the
tokenize/mixture/pack/export tail was priced on an EMPTY corpus).
The new fixture is the ORGANIC-GROWTH model, 10 gram-disjoint
strata:

- **documents**: copy 0 = the sf0.1 corpus verbatim; copies 1-9 are
  CAESAR-CIPHERED (per-character letter rotation by the copy index) —
  a per-character bijection commutes with shingle windowing, so each
  stratum reproduces sf0.1's full duplication / near-dup /
  gram-overlap structure EXACTLY while sharing no shingles with any
  other stratum (a word-SUFFIX scheme was tried first and rejected:
  the shared suffix on every word inflated intra-stratum overlap and
  collapsed near-dup survivors ~4x).  doc_ids are COPY-MAJOR
  (c·100000 + d) so the chain's ``doc_id % 20`` eval selection
  samples every stratum at sf0.1's rate.  Every hygiene stage
  therefore attrites each stratum at sf0.1's fractions → survivor
  counts ≈ 10x at every stage, and the tail runs on a REAL ~10x
  population.
- **embeddings**: per-stratum dimension ROLL (a fixed permutation
  preserves intra-stratum pairwise cosines exactly), ids aligned
  with the copy-major doc ids.  The registered plan keeps its fixed
  num_cells=32, so cells are 10x denser and the grouped-GEMM pair
  term still grows ~100x from its small base — the quadratic term
  the num_cells ∝ N production knob exists to bound; the composed
  ratio prices it honestly.

Each point is settle + min-of-2 back-to-back in one fresh session.
Prints one RESULT json line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from rehearse_sf1 import SF01, force, steady  # noqa: E402


def build_sf1_strata(spark, root: str) -> str:
    """The 10-strata organic-growth sf1 fixture (module docstring):
    vocabulary-translated document strata with copy-major ids, plus
    dimension-rolled embeddings with aligned ids."""
    sf1 = os.path.join(root, "sf1")
    os.makedirs(sf1, exist_ok=True)
    copies = spark.range(10).select(F.col("id").alias("copy"))

    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    # per-stratum Caesar cipher: a per-CHARACTER substitution commutes
    # with shingle windowing, so every stratum's character-shingle AND
    # word-trigram geometry is EXACTLY sf0.1's (bijective), while
    # strata share no shingles with each other (word-suffix schemes
    # failed here: a shared suffix on every word inflated intra-
    # stratum overlap and collapsed near-dup survivors ~4x)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    translated = F.when(F.col("copy") == 0, F.col("text"))
    for c in range(1, 10):
        translated = translated.when(
            F.col("copy") == c,
            F.translate(F.col("text"), alpha, alpha[c:] + alpha[:c]),
        )
    up = docs.crossJoin(copies).select(
        (F.col("copy") * 100_000 + F.col("doc_id")).alias("doc_id"),
        translated.alias("text"),
        "lang",
        "source",
        F.length(translated).alias("n_chars"),
    )
    up.write.mode("overwrite").parquet(
        os.path.join(sf1, "documents.parquet")
    )

    emb = spark.read.parquet(os.path.join(SF01, "embeddings.parquet"))
    rolled = F.expr(
        "concat(slice(embedding, copy * 7 % 64 + 1, 64 - copy * 7 % 64),"
        " slice(embedding, 1, copy * 7 % 64))"
    )
    emb.crossJoin(copies).select(
        (F.col("copy") * 100_000 + F.col("vec_id")).alias("vec_id"),
        rolled.alias("embedding"),
        "label",
    ).write.mode("overwrite").parquet(os.path.join(sf1, "embeddings.parquet"))

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
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
    from hadoop_20_warehouse_spark.registry import QUERIES
    import hadoop_20_warehouse_spark.inventory  # noqa: F401
    import hadoop_20_warehouse_spark.inventory_llm  # noqa: F401

    root = tempfile.mkdtemp(prefix="h20w_sf1_endgame_")
    out: dict[str, dict] = {}
    try:
        sf1 = build_sf1_strata(spark, root)
        for name in ("pipeline_release_endgame", "pipeline_release_endgame_full"):
            fn = QUERIES[name]
            small = steady(lambda: force(fn(spark, SF01)))
            large = steady(lambda: force(fn(spark, sf1)))
            out[name] = {
                "small_s": small,
                "large_s": large,
                "data_ratio": 10.0,
                "time_ratio": round(large / max(small, 0.01), 3),
                "embeddings_scaled": True,
            }
            print(json.dumps({name: out[name]}), flush=True)
        # per-stage attrition at both points (r15 VERDICT #5): the
        # funnel query runs the SAME hygiene chain the full endgame
        # front-loads, so its counters ARE the endgame's stage-by-stage
        # survivor counts — raw -> exact -> neardup -> decontaminated
        # -> gated -> final, plus surviving token/PII mass.
        fun = QUERIES["pipeline_curation_funnel"]
        for tag, d in (("sf0.1", SF01), ("sf1", sf1)):
            row = fun(spark, d).collect()[0]
            out[f"funnel_{tag}"] = {k: int(v) for k, v in row.asDict().items()}
            print(json.dumps({f"funnel_{tag}": out[f"funnel_{tag}"]}),
                  flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("RESULT " + json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
