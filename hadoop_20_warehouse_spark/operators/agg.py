"""Declarative aggregation library (SURVEY.md §2.5).

Re-expresses ``mapred/lib/aggregate`` — the reference's UDAF framework
where mappers emit ``"aggregatorType:id:value"`` descriptors
(ValueAggregatorBaseDescriptor.generateEntry:84) and a generic
combiner/reducer folds partials per aggregator type
(ValueAggregator.java:27,51; job factory ValueAggregatorJob.java:110).

Here a *descriptor* is an array-of-structs column ``(atype, aid, aval)``;
``aggregate_job`` explodes it, groups by (atype, aid) and applies the
registered aggregate expression — Catalyst supplies map-side partial
aggregation automatically, which is exactly the reference's combiner.

Aggregator registry (reference file ↔ Spark expression):
- LongValueSum.java      ↔ sum(cast long)
- DoubleValueSum.java    ↔ sum(cast double)
- LongValueMax/Min.java  ↔ max/min(cast long)
- StringValueMax/Min.java↔ max/min(string)
- UniqValueCount.java:30 ↔ countDistinct (exact) — the reference caps
  the distinct set at ``maxNumItems`` by insertion-order truncation
  (UniqValueCount.java:81-85), which is not reproducible in a parallel
  engine; we provide exact mode (default) and approx mode
  (approx_count_distinct) and document the difference.
- ValueHistogram.java:33 ↔ ``value_histogram`` below (per-key report of
  count / unique / max / min / mean / median / stddev over the
  frequencies of each distinct value, ValueHistogram.getReport:78).

Determinism note: mean/stddev are computed with explicit exact-integer
sums (counts are int64; sums stay exact in double well past 2^53 rows of
skew) so Spark and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Aggregator registry


def _long_sum(v: Column) -> Column:
    return F.sum(v.cast("long"))


def _double_sum(v: Column) -> Column:
    return F.sum(v.cast("double"))


def _long_max(v: Column) -> Column:
    return F.max(v.cast("long"))


def _long_min(v: Column) -> Column:
    return F.min(v.cast("long"))


def _string_max(v: Column) -> Column:
    return F.max(v.cast("string"))


def _string_min(v: Column) -> Column:
    return F.min(v.cast("string"))


def _uniq_count(v: Column) -> Column:
    return F.countDistinct(v)


def _uniq_count_approx(v: Column) -> Column:
    return F.approx_count_distinct(v)


def _value_count(v: Column) -> Column:
    return F.count(v)


AGGREGATORS: dict[str, Callable[[Column], Column]] = {
    # names follow ValueAggregatorBaseDescriptor's TYPE constants
    # (lib/aggregate/ValueAggregatorBaseDescriptor.java:40-55)
    "LongValueSum": _long_sum,
    "DoubleValueSum": _double_sum,
    "LongValueMax": _long_max,
    "LongValueMin": _long_min,
    "StringValueMax": _string_max,
    "StringValueMin": _string_min,
    "UniqValueCount": _uniq_count,
    "UniqValueCountApprox": _uniq_count_approx,
    "ValueCount": _value_count,
}


def uniq_value_count_capped(
    df: DataFrame, key_cols: list[str], value_col: str, cap: int
) -> DataFrame:
    """UniqValueCount with the ``maxNumItems`` cap made deterministic.

    The reference caps the distinct set by INSERTION order
    (lib/aggregate/UniqValueCount.java:81-85) — not reproducible under
    parallel input order. We keep its bounded-memory contract but pick
    the cap winners by a total order independent of arrival: the
    ``cap`` distinct values smallest by (md5(value), value). Output per
    key: ``uniq_capped`` = min(cap, true distinct count) and
    ``uniq_members`` = the surviving members, value-sorted and
    comma-joined (the analog of the capped TreeMap's contents).

    Scale shape: distinct (one key+value shuffle with partial distinct
    map-side) → per-key window top-``cap`` → one final per-key agg;
    never collects more than ``cap`` members per key.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.md5(F.col(value_col).cast("string")), F.col(value_col)
    )
    capped = (
        df.select(*key_cols, value_col)
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
    )
    members = F.expr(
        f"array_join(transform(array_sort(collect_list({value_col})),"
        " x -> cast(x as string)), ',')"
    )
    return capped.groupBy(*key_cols).agg(
        F.count("*").cast("long").alias("uniq_capped"),
        members.alias("uniq_members"),
    )


def aggregate_job(descriptors: DataFrame) -> DataFrame:
    """Run the generic aggregation job over a descriptor frame.

    ``descriptors`` must have columns ``atype`` (aggregator name),
    ``aid`` (aggregation key) and ``aval`` (string value) — the exploded
    form of the reference's ``"type:id:value"`` entries
    (ValueAggregatorMapper.map, lib/aggregate/ValueAggregatorMapper.java:42).

    Returns one row per (atype, aid): columns ``key`` (= "type:id", the
    reference's output key) and string ``value``.

    Scale: one hash aggregation with map-side partials; per-type
    branches are computed via conditional aggregation in the same pass
    (no per-type shuffle).
    """
    v = F.col("aval")
    # Conditional aggregation: one groupBy, each aggregator applied to
    # the subset of rows carrying its type. Avoids splitting into
    # per-type frames (N scans) or a union (N shuffles).
    branches = [
        fn(F.when(F.col("atype") == name, v)).alias(name)
        for name, fn in AGGREGATORS.items()
    ]
    agged = descriptors.groupBy("atype", "aid").agg(*branches)
    # Pick the column matching the row's own type (types are disjoint).
    picked = F.coalesce(
        *[F.when(F.col("atype") == n, F.col(n).cast("string")) for n in AGGREGATORS]
    )
    return agged.select(
        F.concat_ws(":", F.col("atype"), F.col("aid")).alias("key"),
        picked.alias("value"),
    )


# ---------------------------------------------------------------------------
# ValueHistogram


def value_histogram(
    df: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """ValueHistogram report (lib/aggregate/ValueHistogram.java:33).

    For each key: the histogram of *value frequencies* — i.e. first
    count occurrences of each distinct value, then report over those
    counts: total item count, number of unique values, the value with
    max/min count, mean/median/stddev of the counts
    (ValueHistogram.getReport:78-132).

    Two-level aggregation: groupBy(key, value).count() then
    groupBy(key). Both stages get map-side partials; the second stage's
    input is already one row per (key, value) so it is small.

    Output columns: key cols + item_count, unique_count, max_count,
    min_count, mean_count, median_count, stddev_count.

    mean/stddev use explicit exact-integer sums (see module docstring);
    median matches DuckDB's interpolating exact median (the reference
    takes the lower-middle element — ValueHistogram.java:116 — we follow
    the SQL-standard interpolation and document the difference).
    """
    counts = df.groupBy(*key_cols, value_col).agg(F.count(F.lit(1)).alias("cnt"))
    n = F.count(F.lit(1))
    s = F.sum("cnt")
    ss = F.sum(F.col("cnt") * F.col("cnt"))
    mean = s.cast("double") / n
    # population stddev over exact integer sums → deterministic
    var = ss.cast("double") / n - mean * mean
    return counts.groupBy(*key_cols).agg(
        s.alias("item_count"),
        n.alias("unique_count"),
        F.max("cnt").alias("max_count"),
        F.min("cnt").alias("min_count"),
        mean.alias("mean_count"),
        F.expr("percentile(cnt, 0.5)").alias("median_count"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev_count"),
    )


def value_histogram_sql(
    table_expr: str, key_cols: list[str], value_expr: str, value_alias: str = "v"
) -> str:
    """DuckDB oracle for ``value_histogram`` (same math, same names)."""
    keys = ", ".join(key_cols)
    return f"""
WITH counts AS (
  SELECT {keys}{", " if keys else ""}{value_expr} AS {value_alias},
         COUNT(*) AS cnt
  FROM {table_expr}
  GROUP BY {keys}{", " if keys else ""}{value_alias}
)
SELECT {keys}{", " if keys else ""}
       CAST(SUM(cnt) AS BIGINT) AS item_count,
       COUNT(*) AS unique_count,
       MAX(cnt) AS max_count,
       MIN(cnt) AS min_count,
       CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean_count,
       median(cnt) AS median_count,
       sqrt(greatest(CAST(SUM(cnt*cnt) AS DOUBLE) / COUNT(*)
            - (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)) * (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)), 0.0)) AS stddev_count
FROM counts
GROUP BY {keys}
""".strip()


# ---------------------------------------------------------------------------
# Arrow-batched user-defined aggregation (pandas_udf GROUPED_AGG)


def second_max_udaf() -> Callable[[Column], Column]:
    """User-defined aggregate via ``pandas_udf`` — the Arrow-batched
    plugin surface for aggregators the expression registry can't write
    (UserDefinedValueAggregatorDescriptor analog for genuinely custom
    logic, lib/aggregate/UserDefinedValueAggregatorDescriptor.java).

    Second-largest DISTINCT value per group (NULL when the group has
    fewer than two distinct values). NOTE: Spark does not allow mixing
    GROUPED_AGG pandas UDFs with builtin aggregates in one ``agg()``
    call — keep UDAF-only aggregations separate from aggregate_job's
    single-pass conditional branches.
    """
    # Series -> scalar type hints mark this as a GROUPED_AGG UDF.
    @F.pandas_udf("long")
    def _second_max(v: pd.Series) -> int:
        s = v.dropna().drop_duplicates().nlargest(2)
        return int(s.iloc[1]) if len(s) > 1 else None

    return _second_max
