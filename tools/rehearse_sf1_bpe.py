"""sf1-scale rehearsal of the natural-text BPE family (r13 VERDICT
item 8): train + apply on the trigram-shingled REAL corpus at 10x
sf0.1, where the 1000-word cap binds ~100x harder than at sf0.01.

The scale claim under test: the capped word table bounds ALL training
state, so corpus size moves only the one word-count aggregation (and
the apply pass is one linear Arrow corpus scan).  sf1 documents are
the rehearse_sf1 builder's 10x mutated replication (2 exact + 8
mutated copies per doc — mutation suffixes are [a-z0-9]+ words, so
they ADD trigram diversity and push the cap harder, a strictly harder
vocabulary load than organic growth).

Each point is settle + min-of-2, small (sf0.1) and large (sf1)
back-to-back in one fresh session (bench.py scaling-probe
discipline).  Prints one RESULT json line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from rehearse_sf1 import SF01, build_sf1_documents, force, steady  # noqa: E402


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
    from hadoop_20_warehouse_spark.functions import bpe_scale as BS
    from hadoop_20_warehouse_spark.functions.bpe import tokenize_with_merges
    from hadoop_20_warehouse_spark.inventory_analytics import (
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        _BPEN_ROUNDS,
        trigram_stream,
    )

    out: dict[str, dict] = {}
    root = tempfile.mkdtemp(prefix="h20w_sf1_bpe_")
    try:
        sf1 = build_sf1_documents(spark, root)

        def trig(sf_dir: str):
            return trigram_stream(
                spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            )

        # cap-binding factor: distinct trigram words vs the 1000 cap
        nw_small = trig(SF01).selectExpr("explode(split(text, ' ')) w").distinct().count()
        nw_large = trig(sf1).selectExpr("explode(split(text, ' ')) w").distinct().count()

        def train(sf_dir: str):
            # strict=False: the rehearsal measures cost, not the fixed
            # oracle chain; record the merge count instead.
            return BS.train_merges_batched(
                trig(sf_dir),
                rounds=_BPEN_ROUNDS,
                batch=_BPEN_BATCH,
                max_words=_BPEN_MAX_WORDS,
            )

        t_small = steady(lambda: force(train(SF01)))
        t_large = steady(lambda: force(train(sf1)))
        out["bpe_train_natural"] = {
            "small_s": t_small,
            "large_s": t_large,
            "data_ratio": 10.0,
            "time_ratio": round(t_large / max(t_small, 0.01), 3),
            "distinct_words_small": nw_small,
            "distinct_words_large": nw_large,
            "cap": _BPEN_MAX_WORDS,
        }

        # apply: fixed sf0.1-trained table over both corpora (the
        # corpus-pass data term, merge table held constant)
        merges = [tuple(r) for r in sorted(train(SF01).collect())]
        a_small = steady(
            lambda: force(tokenize_with_merges(trig(SF01), merges))
        )
        a_large = steady(
            lambda: force(tokenize_with_merges(trig(sf1), merges))
        )
        out["tokenize_bpe_natural_apply"] = {
            "small_s": a_small,
            "large_s": a_large,
            "data_ratio": 10.0,
            "time_ratio": round(a_large / max(a_small, 0.01), 3),
            "n_merges": len(merges),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("RESULT " + json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
