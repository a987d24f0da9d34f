"""Sort / limit / top-k operators (SURVEY.md §2.6).

- **Total-order sort**: the reference samples the input to build split
  points, then routes with TotalOrderPartitioner
  (lib/TotalOrderPartitioner.java:41, lib/InputSampler.java:49). Spark's
  ``orderBy`` runs a RangePartitioner that does sampled total-order
  partitioning internally — ``total_order_sort`` is a thin wrapper that
  exists to document this and to expose ``repartitionByRange`` for
  write-time layout control.
- **Secondary sort** (examples/SecondarySort.java:51): partition by a
  primary key, values sorted by a secondary key within each group —
  ``secondary_sort`` (repartition + sortWithinPartitions form, for
  pipe/applyInPandas consumers) and ``grouped_rank`` (Window form, for
  relational consumers).
- **KeyFieldBased sort** (mapred/lib/KeyFieldBasedComparator.java:46,
  KeyFieldHelper.java:28-49): Unix sort(1) ``-k f1[.c1][,f2[.c2]][nr]``
  specs over delimited text — ``parse_keyfield_spec`` +
  ``keyfield_sort_columns`` compile a spec to Catalyst sort expressions.
- **Top-k**: the reference's pattern was a single reducer + head
  (Grep.java:79); ``top_k`` is ``orderBy().limit(k)``, which Spark
  executes as TakeOrdered — per-partition heaps + driver merge of k
  rows, no global sort. That is the scalable form at 100 TB.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def total_order_sort(df: DataFrame, *cols: Column | str, partitions: int | None = None) -> DataFrame:
    """Globally ordered result (TeraSort / Sort example shape,
    examples/Sort.java:53). ``orderBy`` = sampled range partition +
    per-partition sort; part file i is wholly <= part file i+1, same
    contract TotalOrderPartitioner guaranteed."""
    if partitions:
        df = df.repartitionByRange(partitions, *cols)
        return df.sortWithinPartitions(*cols)
    return df.orderBy(*cols)


def secondary_sort(
    df: DataFrame, partition_cols: list[str], sort_cols: list[Column | str]
) -> DataFrame:
    """SecondarySort contract (examples/SecondarySort.java:51,133,145):
    rows co-located by ``partition_cols`` and sorted by
    ``partition_cols + sort_cols`` within each partition — exactly what
    a reduce-side consumer (pipe, applyInPandas) needs to stream groups
    in order. One shuffle."""
    return df.repartition(*partition_cols).sortWithinPartitions(
        *partition_cols, *sort_cols
    )


def grouped_rank(
    df: DataFrame, partition_cols: list[str], order_cols: list[Column | str],
    rank_name: str = "rn",
) -> DataFrame:
    """Window-form secondary sort: adds ``row_number() over
    (partition by .. order by ..)`` for relational consumers (per-group
    top-n, firsts). Same single shuffle as ``secondary_sort``."""
    from pyspark.sql import Window

    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    # long, not Spark's native int32 row_number: SQL engines (and our
    # DuckDB oracle) type ROW_NUMBER as bigint.
    return df.withColumn(rank_name, F.row_number().over(w).cast("long"))


def top_k(df: DataFrame, k: int, *cols: Column | str) -> DataFrame:
    """orderBy + limit — Spark plans TakeOrderedAndProject (per-partition
    top-k heaps, driver merges k·P rows), no total sort. Callers should
    include a tiebreak column so results are deterministic."""
    return df.orderBy(*cols).limit(k)


# ---------------------------------------------------------------------------
# KeyFieldBased spec compiler


@dataclass(frozen=True)
class KeyFieldPart:
    """One ``-k`` spec: fields are 1-based like sort(1) and the
    reference (KeyFieldHelper.java:28-49). ``end_field`` None = this
    field only (reference requires an end; sort(1) extends to end of
    line — we follow the reference and default end=start)."""

    start_field: int
    start_char: int = 1
    end_field: int | None = None
    end_char: int | None = None
    numeric: bool = False
    reverse: bool = False


_KEYSPEC = re.compile(
    r"^\s*-?k?\s*(\d+)(?:\.(\d+))?\s*(?:,\s*(\d+)(?:\.(\d+))?)?\s*([nr]*)\s*$"
)


def parse_keyfield_spec(spec: str) -> list[KeyFieldPart]:
    """Parse ``"-k2,2nr"`` / ``"2.1,2.3n"`` / ``"-k1 -k3,3r"`` specs.

    Mirrors KeyFieldHelper.parseOption (KeyFieldHelper.java:199-260):
    ``f1.c1,f2.c2`` with flag chars ``n`` (numeric) and ``r``
    (reverse), multiple ``-k`` options space-separated.
    """
    parts: list[KeyFieldPart] = []
    for chunk in re.split(r"\s+(?=-?k?\d|\-k)", spec.strip()):
        if not chunk:
            continue
        m = _KEYSPEC.match(chunk)
        if not m:
            raise ValueError(f"bad keyfield spec {chunk!r} in {spec!r}")
        f1, c1, f2, c2, flags = m.groups()
        parts.append(
            KeyFieldPart(
                start_field=int(f1),
                start_char=int(c1) if c1 else 1,
                end_field=int(f2) if f2 else int(f1),
                end_char=int(c2) if c2 else None,
                numeric="n" in flags,
                reverse="r" in flags,
            )
        )
    if not parts:
        raise ValueError(f"empty keyfield spec {spec!r}")
    return parts


def _keyfield_substring(
    line: Column, arr: Column, p: KeyFieldPart, separator: str
) -> Column:
    """The exact sub-string one ``-k`` part selects — offsets per
    KeyFieldHelper.getStartOffset/getEndOffset
    (KeyFieldHelper.java:118-157), which are computed over the WHOLE
    line: start = line-offset of ``start_field`` + ``start_char``;
    end = line-offset of ``end_field`` + ``end_char`` (inclusive) or
    the end of ``end_field`` when no end_char. Because the offsets are
    line-global, an end_char larger than the field LEAKS into the
    separator and following fields, and an end past the line clamps to
    the line end — semantics pinned by the property test against a
    pure-Python port of the reference byte logic."""

    def field_offset(f: int) -> Column:
        # 0-based line offset where field f starts
        if f <= 1:
            return F.lit(0)
        return F.length(
            F.array_join(F.slice(arr, 1, f - 1), separator)
        ) + F.lit(len(separator))

    end_f = p.end_field or p.start_field
    nfields = F.size(arr)
    start_pos = field_offset(p.start_field) + F.lit(p.start_char)  # 1-based
    if p.end_char is None:
        end_pos = field_offset(end_f) + F.length(F.element_at(arr, end_f))
    else:
        end_pos = field_offset(end_f) + F.lit(p.end_char)
    # getEndOffset: end field absent, or end past the line → line end
    end_pos = F.when(
        (F.lit(end_f) > nfields) | (end_pos > F.length(line)), F.length(line)
    ).otherwise(end_pos)
    sub = F.substring(
        line, start_pos, F.greatest(end_pos - start_pos + 1, F.lit(0))
    )
    # getStartOffset returns -1 (no key) when the start field is absent
    return F.when(F.lit(p.start_field) > nfields, F.lit("")).otherwise(sub)


def keyfield_substrings(
    line_col: str | Column, spec: str | list[KeyFieldPart], separator: str = "\t"
) -> list[Column]:
    """The raw key sub-strings a spec selects, in spec order — no sort
    direction, no numeric cast. This is what KeyFieldBasedPartitioner
    hashes (KeyFieldBasedPartitioner.java:64-98 concatenates each key
    spec's bytes into one rolling hash)."""
    if isinstance(spec, str):
        spec = parse_keyfield_spec(spec)
    line = F.col(line_col) if isinstance(line_col, str) else line_col
    arr = F.split(line, re.escape(separator))
    return [_keyfield_substring(line, arr, p, separator) for p in spec]


def keyfield_sort_columns(
    line_col: str | Column, spec: str | list[KeyFieldPart], separator: str = "\t"
) -> list[Column]:
    """Compile a keyfield spec to Catalyst sort expressions over a
    delimited string column.

    Semantics per KeyFieldBasedComparator.java:65-86: each -k part
    compares the sub-string spanning start_field.start_char through
    end_field(.end_char | end), numerically when ``n`` (we cast to
    double; reference parses leading digits), reversed when ``r``.
    """
    if isinstance(spec, str):
        spec = parse_keyfield_spec(spec)
    line = F.col(line_col) if isinstance(line_col, str) else line_col
    arr = F.split(line, re.escape(separator))
    out: list[Column] = []
    for p in spec:
        sub = _keyfield_substring(line, arr, p, separator)
        key: Column = sub.cast("double") if p.numeric else sub
        out.append(key.desc() if p.reverse else key.asc())
    return out


def keyfield_partition(
    df: DataFrame,
    line_col: str,
    partition_spec: str | list[KeyFieldPart],
    sort_spec: str | list[KeyFieldPart] | None = None,
    separator: str = "\t",
    num_partitions: int | None = None,
) -> DataFrame:
    """KeyFieldBasedPartitioner analog
    (mapred/lib/KeyFieldBasedPartitioner.java:43): hash-co-locate lines
    by the key-field subset ``partition_spec`` selects, optionally
    sorting within partitions by ``sort_spec`` (the partitioner +
    comparator pair a Streaming reducer consumes — partition on -k1,1
    while comparing on -k1,2n, the classic config). One shuffle; the
    sort is partition-local (no range exchange)."""
    keys = keyfield_substrings(line_col, partition_spec, separator)
    parted = (
        df.repartition(num_partitions, *keys)
        if num_partitions
        else df.repartition(*keys)
    )
    if sort_spec is None:
        return parted
    return parted.sortWithinPartitions(
        *keyfield_sort_columns(line_col, sort_spec, separator)
    )
