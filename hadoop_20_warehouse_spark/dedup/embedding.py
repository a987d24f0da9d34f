"""Embedding-cosine near-duplicate detection.

Near-dup pairs over an ``array<float>`` embedding column: candidate
generation via banded random-hyperplane (sign) LSH — ``n_tables``
independent b-bit signatures, candidates = pairs agreeing on ANY full
signature (OR-amplification across tables, AND within a table's
planes) — then exact cosine on candidates only, keeping pairs with
``sim >= threshold``.

Scale design (the 100 TB path):
- All-pairs cosine is O(n²) and never materialized; the only join is
  the equi-join on (table_idx, bucket), so the shuffle is |docs| ×
  n_tables rows and work concentrates in genuinely-similar buckets.
- Plane vectors are md5-derived constants folded into the plan at
  build time (zero hashing at runtime, bit-identical in the oracle).
- Recall tuning is (n_tables ↑ ⇒ recall ↑, cost ↑; planes/table ↑ ⇒
  precision ↑): standard banding trade-off, same knobs as MinHash LSH.
- Skewed buckets (e.g. near-zero vectors all hashing together) are
  handled by AQE skew-join splitting.

``brute_force_pairs`` is the exact small-scale baseline used by tests
to measure recall and verify the LSH path returns a subset.

The reference has no vector operators; lineage is its MD5 sample
filter (src/mapred/org/apache/hadoop/mapred/SequenceFileInputFilter.java:195)
generalized per Charikar '02 sign-LSH (public literature; PAPERS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.similarity.knn import (
    _dot,
    _norm,
    _safe_div,
    bucket_sig_column,
    bucket_sig_sql,
    cosine_sql,
)

DEFAULT_THRESHOLD = 0.4
# 4 tables × 8-bit signatures: 256 buckets/table keeps candidate sets
# ~C(n/256, 2) per bucket instead of C(n/16, 2) (the 4-bit config's
# all-pairs-in-16-buckets blowup — unusable at 100 TB). Recall for
# moderate-similarity pairs is recovered by MULTI-PROBE (Lv et al.
# VLDB'07): each vector also probes the n_planes buckets at Hamming
# distance 1 from its signature, so a pair is a candidate when some
# table's signatures differ in ≤1 bit — P = p^8 + 8·p^7(1−p) per
# table (p = 1−θ/π). The probe factor is a CONSTANT ×(1+n_planes)
# regardless of n; widening buckets instead would grow per-bucket
# pair counts quadratically with n.
DEFAULT_TABLES = 4
DEFAULT_PLANES = 8  # bits per table


def sign_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = DEFAULT_TABLES,
    n_planes: int = DEFAULT_PLANES,
    dim: int = 64,
) -> DataFrame:
    """(id, table_idx, bucket): one b-bit sign signature per table.
    Table t uses global plane indices t*n_planes .. t*n_planes+b-1 so
    every table's hyperplanes are independent (plane construction is
    shared with similarity/knn.py — single source for both engines).
    ``dim`` must equal the actual embedding length (see
    bucket_sig_column's warning about NULL-padded zips).

    All n_tables×n_planes plane dots come from ONE vector traversal
    (knn.plane_dots_expr, JVM-side); per-table buckets are sign/shift
    arithmetic over the dots array.  Unlike the centroid assign and the
    brute scorer, the order-controlled r11 A/B found NO advantage for
    the Arrow-batched plane matmul (similarity/scores.plane_signs) at
    N=2k or 20k — the single-traversal fold already amortizes the
    32-plane work — so this form is the production kernel and
    plane_signs is the second implementation the tests pin it
    against."""
    from hadoop_20_warehouse_spark.session import scatter
    from hadoop_20_warehouse_spark.similarity.knn import plane_dots_expr

    df = scatter(df)
    dots = F.expr(plane_dots_expr(vec_col, n_tables * n_planes, dim)).alias("_dots")
    rows = [
        F.struct(
            F.lit(t).alias("table_idx"),
            F.expr(
                " + ".join(
                    f"(CASE WHEN element_at(_dots, {t * n_planes + j + 1}) > 0 "
                    f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
                    for j in range(n_planes)
                )
            ).alias("bucket"),
        )
        for t in range(n_tables)
    ]
    return df.select(F.col(id_col), dots).select(
        F.col(id_col), F.explode(F.array(*rows)).alias("tb")
    ).select(F.col(id_col), F.col("tb.table_idx"), F.col("tb.bucket"))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = DEFAULT_THRESHOLD,
    n_tables: int = DEFAULT_TABLES,
    n_planes: int = DEFAULT_PLANES,
    dim: int = 64,
) -> DataFrame:
    """(id_a, id_b, sim) with id_a < id_b and sim >= threshold, sim
    rounded to 6 decimals; candidates = pairs whose signatures differ
    in ≤1 bit in at least one table (multi-probe: the left join side
    fans each vector out to its own bucket plus the n_planes
    single-bit-flip buckets). The signature and (vector, norm) frames
    are persisted (generation-bounded via session.persist_generation —
    a later invocation releases this one's caches): each feeds two
    joins, and without persist the n_tables×n_planes zip-folds and the
    norm scans would run twice (same reasoning as minhash.py's
    persisted signatures)."""
    from hadoop_20_warehouse_spark.session import persist_generation

    buckets = persist_generation(
        "embdup_buckets",
        sign_buckets(df, id_col, vec_col, n_tables, n_planes, dim),
    )
    flips = [0] + [1 << j for j in range(n_planes)]
    probes = buckets.select(
        F.col(id_col).alias("id_a"),
        "table_idx",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(f)) for f in flips])
        ).alias("bucket"),
    )
    b = buckets.select(F.col(id_col).alias("id_b"), "table_idx", "bucket")
    cand = (
        probes.join(b, on=["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    from hadoop_20_warehouse_spark.session import scatter

    vecs = persist_generation(
        "embdup_vecs",
        scatter(df).select(
            F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
        ),
    )
    va = vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                _safe_div(_dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def brute_force_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Exact all-pairs baseline (id_a < id_b, sim >= threshold) — test
    yardstick only; O(n²), never the production path.  The crossJoin
    form is the executable specification at yardstick scale and the
    one all-pairs scorer: the tests compare the banded production
    paths against it."""
    vecs = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
    )
    a = vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _safe_div(_dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def embedding_near_dup_pairs_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = DEFAULT_THRESHOLD,
    n_tables: int = DEFAULT_TABLES,
    n_planes: int = DEFAULT_PLANES,
) -> str:
    """DuckDB oracle — identical planes, buckets, multi-probe
    candidates, cosine (plane SQL shared with similarity/knn.py
    bucket_sig_sql)."""
    table_rows = "\n  UNION ALL\n".join(
        "  SELECT {id} AS id, {t} AS table_idx, {sig} AS bucket FROM {tbl}".format(
            id=id_col,
            t=t,
            tbl=table,
            sig=bucket_sig_sql(vec_col, n_planes, plane_offset=t * n_planes),
        )
        for t in range(n_tables)
    )
    flips = ", ".join(f"({f})" for f in [0] + [1 << j for j in range(n_planes)])
    cos = cosine_sql("va.v", "vb.v")
    return f"""
WITH buckets AS (
{table_rows}
),
probes AS (
  SELECT id, table_idx, xor(bucket, f.flip) AS bucket
  FROM buckets, (VALUES {flips}) AS f(flip)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM probes a JOIN buckets b
    ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.id < b.id
),
vecs AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table})
SELECT c.id_a, c.id_b, round({cos}, 6) AS sim
FROM cand c
JOIN vecs va ON va.id = c.id_a
JOIN vecs vb ON vb.id = c.id_b
WHERE round({cos}, 6) >= {threshold}
""".strip()
