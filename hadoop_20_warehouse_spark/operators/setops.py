"""Set operations (SURVEY.md §2.7).

The reference expressed these as job patterns, not operators:
- UNION ALL = multiple input paths to one job
  (mapred/FileInputFormat.java setInputPaths; heterogeneous sources via
  mapred/lib/MultipleInputs.java:34 with per-path mappers normalizing
  schemas).
- DISTINCT = group-by-key with identity reduce.
- INTERSECT / EXCEPT = tag-and-count reduce-side patterns
  (contrib/data_join presence filters).
- Priority union (dedup-merge) = the override join
  (join/OverrideRecordReader.java:36) — see operators/join.py.

Spark natives subsume all of them; ``union_inputs`` adds the
MultipleInputs semantics (per-source normalization then unionByName).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def union_inputs(
    sources: list[DataFrame],
    mappers: list[Callable[[DataFrame], DataFrame]] | None = None,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """MultipleInputs/DelegatingInputFormat analog
    (mapred/lib/MultipleInputs.java:34, DelegatingInputFormat.java):
    apply a per-source normalizing transform, then UNION ALL by name.
    """
    if mappers is not None:
        if len(mappers) != len(sources):
            raise ValueError("need one mapper per source (or None)")
        sources = [m(s) if m else s for m, s in zip(mappers, sources)]
    out = sources[0]
    for s in sources[1:]:
        out = out.unionByName(s, allowMissingColumns=allow_missing_columns)
    return out


def distinct(df: DataFrame) -> DataFrame:
    """Group-by-all-columns identity reduce → Spark hash-dedup."""
    return df.distinct()

