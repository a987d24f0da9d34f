"""Generic user reduce surface — the Mapper/Reducer class analog
(SURVEY.md §2.8).

The reference's ultimate extension points were the ``Mapper`` and
``Reducer`` interfaces: arbitrary per-row (0..n outputs → UDF/UDTF)
and per-group (UDAF/UDTF) user logic
(mapred/Mapper.java:133, Reducer.java:166; whole-partition drive loop
MapRunnable, mapred/MapRunner.java).

Spark-idiomatic equivalents, Arrow-batched (never row-at-a-time):

- Mapper/MapRunnable ≅ Spark's own ``DataFrame.mapInPandas`` over the
  whole partition iterator — no wrapper needed.
- ``reduce_apply`` ≅ Reducer: ``groupBy().applyInPandas`` — the user
  function sees one full group as a pandas DataFrame, exactly like
  ``reduce(key, values)`` saw the sorted value iterator.

Closure policy (see multimodal/binary.py): user functions passed in
are cloudpickled; the wrapper here adds nothing module-global, so a
self-contained user function ships by value and workers don't need
this package importable.

Scale notes: applyInPandas materializes ONE group in memory — the same
contract as the reference's reduce() iterator except non-streaming;
for giant groups pre-aggregate or salt first. mapInPandas streams
batches and is safe at any size.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame


def reduce_apply(
    df: DataFrame,
    key_cols: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Per-group reduce (Reducer semantics): ``fn`` receives each
    group's rows as one pandas DataFrame and returns the group's output
    rows. One shuffle on ``key_cols``, then embarrassingly parallel."""
    return df.groupBy(*key_cols).applyInPandas(fn, schema=schema)
