"""Exact deduplication.

The reference's dedup primitives were DISTINCT (group-by identity
reduce) and the override join's priority-merge
(join/OverrideRecordReader.java:36) — SURVEY.md §2.7. For a document
corpus we keep content-hash dedup: group by md5(text), elect the
lowest doc_id as canonical.

Scale: one hash-aggregate shuffle on the 32-char digest — the same
cost profile as any groupBy; no pairwise comparison. At 100 TB the
digest groupBy is the canonical exact-dedup plan (hash, not raw text,
is shuffled when ``shuffle_on_digest`` — we group on the digest column
only and carry doc_id/min aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.functions.hashing import md5_hex


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content: (content_md5, canonical_id,
    dup_count). Only the digest and the id move through the shuffle."""
    return (
        df.select(md5_hex(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup_groups_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT md5({text_col}) AS content_md5,
       MIN({id_col}) AS canonical_id,
       COUNT(*) AS dup_count
FROM {table}
GROUP BY md5({text_col})
""".strip()
