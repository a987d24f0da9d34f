"""What the benchmark runs and what it reports.

Every workload is a closed loop with one client: one driver thread issues
the workload's operations (registered inventory queries, each collected to
pandas) one after another, and issues the next only when the previous one
returned.  A pass runs every operation once, in an order drawn from the
workload seed; passes repeat until the measuring window is spent.

Inputs: the deterministic test tables the package's correctness tests and
DuckDB oracles are written against (seed 42), copied byte for byte into
``perfbench/data``.  The operations read scale factor 0.01 (lineitem 60k
rows, orders 15k, documents and embeddings 500), except the JPEG decode,
which reads scale factor 0.001 (1.5k images, a tenth of the other
operations' orders, as in the old bench's sample).  The composed
``pipeline_release_endgame_full`` query is not an operation here: it runs
about 28 s per warm pass at this scale on a 4-core host, more than one
whole benchmark run may take, so the ``release`` workload issues the
pipeline's stage queries one by one instead.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
MEASURE_DATA = os.path.join(_DATA, "sf0.01")
SMALL_DATA = os.path.join(_DATA, "sf0.001")


@dataclass(frozen=True)
class Workload:
    """One workload; why it was chosen is recorded in ``BENCHMARK.json``."""

    name: str
    ops: tuple[str, ...]
    # operations that read the SMALL_DATA tables
    small_ops: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "warehouse",
            (
                "pricing_summary",
                "scan_filter_sample",
                "wordcount",
                "monster_query",
                "grep_topk",
                "join_inner",
                "join_override",
                "aggregate_report",
                "value_histogram",
                "secondary_sort",
            ),
        ),
        Workload(
            "release",
            (
                "pii_redact",
                "dedup_minhash_lsh",
                "text_quality_classifier",
                "dedup_semantic_cells",
                "bpe_train_merges",
                "avro_roundtrip",
                "multimodal_jpeg_decode",
            ),
            small_ops=("multimodal_jpeg_decode",),
        ),
    )
}


def pass_order(ops: tuple[str, ...], rng: random.Random) -> list[str]:
    """The operation order of one pass, drawn from the workload's rng."""
    order = list(ops)
    rng.shuffle(order)
    return order


# (name, unit, better).  End-to-end metrics come from the untraced run.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
)

# Layer of each package module the tracer wraps: module prefix -> layer.
LAYER_MODULES = {
    "catalog": "hadoop_20_warehouse_spark.catalog",
    "session": "hadoop_20_warehouse_spark.session",
    "operators": "hadoop_20_warehouse_spark.operators",
    "sources": "hadoop_20_warehouse_spark.sources",
    "functions": "hadoop_20_warehouse_spark.functions",
    "dedup": "hadoop_20_warehouse_spark.dedup",
    "similarity": "hadoop_20_warehouse_spark.similarity",
    "multimodal": "hadoop_20_warehouse_spark.multimodal",
}

# Per-layer metrics of the traced run, each with the end-to-end metrics
# (name@workload) it should move, and where the prediction is no change.
_DRIVER = {"moves": ["pass_s@warehouse", "pass_s@release"], "still": []}
_EXEC = {"moves": ["pass_s@warehouse"], "still": []}
_CURATION = {"moves": ["pass_s@release"], "still": ["pass_s@warehouse"]}
_CODEC = {"moves": ["pass_s@release"], "still": ["pass_s@warehouse"]}
_MEMORY = {"moves": ["pass_s@release"], "still": []}
_NONE = {"moves": [], "still": []}

PER_LAYER = (
    ("session.calls", "count", "lower", _DRIVER),
    ("session.self_s", "s", "lower", _DRIVER),
    ("catalog.self_s", "s", "lower", _DRIVER),
    ("spark.driver_gap_s", "s", "lower", _DRIVER),
    ("spark.jobs", "count", "lower", _DRIVER),
    ("spark.stages", "count", "lower", _DRIVER),
    ("spark.tasks", "count", "lower", _DRIVER),
    ("operators.self_s", "s", "lower", _EXEC),
    ("operators.jobs", "count", "lower", _EXEC),
    ("spark.shuffle_read_mb", "MB", "lower", _EXEC),
    ("spark.shuffle_write_mb", "MB", "lower", _EXEC),
    ("spark.executor_run_s", "s", "lower", _EXEC),
    ("spark.executor_cpu_s", "s", "lower", _EXEC),
    ("spark.input_mb", "MB", "lower", _EXEC),
    ("dedup.self_s", "s", "lower", _CURATION),
    ("dedup.jobs", "count", "lower", _CURATION),
    ("functions.self_s", "s", "lower", _CURATION),
    ("functions.jobs", "count", "lower", _CURATION),
    ("similarity.self_s", "s", "lower", _CURATION),
    ("sources.self_s", "s", "lower", _CODEC),
    ("sources.jobs", "count", "lower", _CODEC),
    ("spark.output_mb", "MB", "lower", _CODEC),
    ("proc.write_mb", "MB", "lower", _CODEC),
    ("sources.write_amp", "ratio", "lower", _CODEC),
    ("multimodal.self_s", "s", "lower", _CODEC),
    ("spark.pyworker_cpu_s", "s", "lower", _CODEC),
    ("spark.cpu_per_run", "ratio", "higher", _CODEC),
    ("proc.cpu_s", "s", "lower", _CODEC),
    ("spark.gc_s", "s", "lower", _MEMORY),
    ("spark.spill_mb", "MB", "lower", _MEMORY),
    ("spark.peak_exec_mem_mb", "MB", "lower", _MEMORY),
    ("spark.failed_tasks", "count", "lower", _MEMORY),
    ("proc.peak_rss_mb", "MB", "lower", _MEMORY),
    ("inventory.self_s", "s", "lower", _NONE),
    ("trace.overhead_s", "s", "lower", _NONE),
)
