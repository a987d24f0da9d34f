"""Synthetic data generators (SURVEY.md §2.1 'Data generators').

Distributed equivalents of the reference's generators — built on
``spark.range`` (parallel, no driver data path), deterministic via
md5-derived pseudo-randomness so tests and benchmarks are reproducible
without seeds-in-files:

- ``teragen``: TeraGen's 10-byte-key / 90-byte-payload rows
  (examples/terasort/TeraGen.java:60).
- ``random_text``: RandomTextWriter's word salad
  (examples/RandomTextWriter.java:82).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WORDS = (
    "diurnalness habitudinal charioteer crystallographical comparability "
    "eulogistically undiffracted sterilely unrealize unpatched hypochondriacism "
    "critically swacking posterishness ostrogothic loggerheads wickerwork "
    "diathermacy tribalism pentagraph defectively"
).split()


def _hex(col, length: int):
    """Deterministic pseudo-random hex of ``length`` chars (md5 chains
    for >32)."""
    out = None
    i = 0
    remaining = length
    while remaining > 0:
        chunk = F.md5(F.concat(F.lit(str(i) + ":"), col.cast("string")))
        out = chunk if out is None else F.concat(out, chunk)
        remaining -= 32
        i += 1
    return F.substring(out, 1, length)


def teragen(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """(key string[10], payload string[90]) — TeraGen shape."""
    rng = spark.range(0, n_rows, numPartitions=partitions)
    return rng.select(
        _hex(F.col("id"), 10).alias("key"),
        _hex(F.col("id") + 1_000_000_007, 90).alias("payload"),
    )


def random_text(
    spark: SparkSession, n_rows: int, words_per_row: int = 10, partitions: int | None = None
) -> DataFrame:
    """(line string) of pseudo-random dictionary words."""
    rng = spark.range(0, n_rows, numPartitions=partitions)
    word_arr = F.array(*[F.lit(w) for w in _WORDS])
    picks = [
        F.element_at(
            word_arr,
            (
                F.conv(
                    F.substring(F.md5(F.concat_ws(":", F.col("id"), F.lit(i))), 1, 15),
                    16,
                    10,
                ).cast("bigint")
                % len(_WORDS)
                + 1
            ).cast("int"),
        )
        for i in range(words_per_row)
    ]
    return rng.select(F.concat_ws(" ", *picks).alias("line"))

