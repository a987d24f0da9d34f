"""SimHash fingerprinting (Charikar '02 / Manku et al. WWW'07 — the
Google web-dedup fingerprint).

Per document: hash every token to B bits; each bit position
accumulates +1 (bit set) / −1 (bit clear) over all tokens (with
multiplicity); the fingerprint's bit j is 1 iff the accumulated sum is
positive. Near-duplicate docs differ in few bits (Hamming distance).

Implementation notes:
- Token hash = top 60 bits of md5 (functions/hashing.py) so the DuckDB
  oracle reproduces it; we use the low ``n_bits`` of that value.
- The per-bit ±1 sums are ``sum(CASE WHEN (h >> j) & 1 ...)`` columns
  generated programmatically — B conditional aggregates in ONE
  groupBy pass (no per-bit shuffle), then the fingerprint is folded
  with bit-ors. All integer arithmetic — bit-exact in any engine.
- Scale: shuffle volume is |docs| groups × B small longs; token
  hashing is codegen'd. For B=64 at 100 TB this is the standard
  one-pass simhash plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.functions.hashing import md5_int64_sql
from hadoop_20_warehouse_spark.functions.text import tokens

DEFAULT_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int = DEFAULT_BITS) -> DataFrame:
    """(id, simhash): one fingerprint per document.

    Row-local plan: token md5s are materialized once per row as an
    array column, then each bit's ±1 sum is a fold over that array and
    the fingerprint assembles in the same projection — everything in
    one whole-stage-codegen pass, NO explode and NO shuffle (a document
    never needs other documents' tokens). The explode+groupBy form
    shuffles |tokens| rows at 100 TB for no semantic gain."""
    from hadoop_20_warehouse_spark.session import scatter

    df = scatter(df)
    hs = F.expr(
        f"transform(filter(split({text_col}, '\\\\s+'), t -> t <> ''), "
        f"t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
    ).alias("_hs")
    sums = [
        F.expr(
            f"aggregate(_hs, 0L, (acc, h) -> acc + "
            f"(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END))"
        ).alias(f"b{j}")
        for j in range(n_bits)
    ]
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(n_bits)
    )
    return (
        df.select(F.col(id_col), hs)
        # the explode form emitted no row for token-less documents;
        # keep that contract (and the oracle's)
        .where(F.size("_hs") > 0)
        .select(F.col(id_col), *sums)
        .select(F.col(id_col), F.expr(fp).alias("simhash"))
    )


def simhash_sql(table: str, id_col: str, text_col: str, n_bits: int = DEFAULT_BITS) -> str:
    """DuckDB oracle: identical construction in SQL."""
    h = md5_int64_sql("token")
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(n_bits)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
WITH tok AS (
  SELECT {id_col} AS id, {h} AS h
  FROM (
    SELECT {id_col}, unnest(string_split_regex({text_col}, '[ \\t\\n\\x0b\\f\\r]+')) AS token
    FROM {table}
  ) WHERE token <> ''
),
sums AS (
  SELECT id,
         {bit_sums}
  FROM tok GROUP BY id
)
SELECT id AS {id_col}, {fp_terms} AS simhash FROM sums
""".strip()
