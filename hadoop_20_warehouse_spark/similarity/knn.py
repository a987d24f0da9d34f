"""Similarity search over embedding columns (array<float>).

Two strategies:

- ``brute_force_topk``: exact cosine top-k — corpus batches scored
  against the broadcast query matrix (similarity/scores.brute_topk),
  then per-query top-k via window rank. The baseline; exact but
  O(|Q|·|corpus|). Scales by keeping |Q| bounded per pass.
- ``lsh_topk``: random-hyperplane (sign) LSH — b pseudo-random
  hyperplanes derived from md5 (deterministic, oracle-reproducible)
  give each vector a b-bit bucket; candidates = same-bucket pairs,
  then exact cosine rank within candidates. Sub-linear candidate sets
  at the cost of recall; the 100 TB path (bucket join instead of
  cross join).

Floating point and the oracle: element products of float32 values cast
to double are *exact* (24-bit × 24-bit < 53-bit mantissa), so the only
engine divergence is summation order; both engines fold the list
sequentially, and cosine values are rounded to 6 decimals before
ranking with an id tiebreak, which makes the rank (and the hash
comparison) stable across engines.

Lineage: the reference's closest machinery is the Lucene index-build
contrib (doc → term postings, contrib/index/...) — similarity search
here generalizes the posting-bucket idea to vector buckets; algorithms
are public literature (Charikar '02 sign-LSH; PAPERS.md top-k
similarity entries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold of the element products in double — matches the
    oracle's list_sum over a double list (same order, exact products)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _safe_div(num: Column, den: Column) -> Column:
    """NULL on a zero denominator — matching DuckDB, where x/0.0 is
    NULL. Without the guard Spark returns NaN for 0.0/0.0, and NaN
    sorts ABOVE every number in a DESC ranking, so one zero-norm
    vector (e.g. an all-zero embedding) would outrank every real
    neighbor and diverge from the oracle."""
    return num / F.nullif(den, F.lit(0.0))


_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"


def cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = _DOT_SQL.format(a=a, b=a)
    nb = _DOT_SQL.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    Rank is over (round(sim, 6) DESC, neighbor_id ASC) so ties —
    including exact duplicate embeddings — resolve identically
    everywhere; NULL sims (zero-norm or NULL vectors) rank last.

    The scorer (similarity/scores.brute_topk) streams corpus batches
    against the broadcast query matrix — one matmul per batch,
    per-query tie-band pruning, exact rounded sims, then a window over
    O(partitions·|Q|·k) candidates (measured 2.5-3x over the crossJoin
    fold at sf0.1, and the gap grows with |Q|·N — this scorer prices
    every recall@k eval).  The query set is collected to the driver
    before broadcasting, at most ``scores.MAX_QUERY_ROWS`` rows per
    pass; a larger query set runs as several md5-sliced passes.
    """
    from hadoop_20_warehouse_spark.session import scatter
    from hadoop_20_warehouse_spark.similarity.scores import brute_topk

    return brute_topk(scatter(corpus), queries, id_col, vec_col, k)


def brute_force_topk_sql(
    table: str,
    query_pred: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> str:
    """DuckDB oracle: same pipeline; ``query_pred`` selects the query
    rows (e.g. "vec_id % 50 = 0")."""
    cos = cosine_sql("q.qv", "c.nv")
    return f"""
WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qv FROM {table} WHERE {query_pred}),
c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS nv FROM {table}),
sims AS (
  SELECT q.query_id, c.neighbor_id, round({cos}, 6) AS sim
  FROM c CROSS JOIN q
  WHERE c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# Sign-LSH bucketing


def _plane_component_py(plane: int, dim: int) -> float:
    """Pseudo-random hyperplane component in [-1000, 1000], derived
    from md5(plane # dim) — the SAME value the oracle computes in SQL
    (md5 is md5 everywhere), but evaluated once at plan-build time in
    Python and embedded as a literal: zero hashing at runtime."""
    import hashlib

    h = int(hashlib.md5(f"{plane}#{dim}".encode()).hexdigest()[:15], 16)
    return float(h % 2001 - 1000)


# The SQL twin of _plane_component_py — THE single source for every
# oracle that buckets by sign-LSH (knn + dedup/embedding). The two
# must stay bit-identical or cross-engine hashing breaks.
PLANE_SQL = (
    "CAST(CAST('0x' || substring(md5(CAST({p} AS VARCHAR) || '#' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) "
    "% 2001 - 1000 AS DOUBLE)"
)


def bucket_sig_column(
    vec_col: str, n_planes: int, dim: int, plane_offset: int = 0
):
    """The b-bit sign-signature expression: bit p set iff
    dot(vec, plane_{plane_offset+p}) > 0. Plane vectors are literal
    arrays (constant folding); costs b fused zip-fold passes per row.

    ``dim`` must equal the actual embedding length: a shorter/longer
    vector NULL-pads the zip, poisons the fold, and collapses every
    bit to 0 (callers should validate the schema's array length).

    Built as ONE SQL string through a single ``F.expr`` — the
    column-algebra form issued ~n_planes×dim py4j calls for the plane
    literals, which dominated wall-clock (driver-side) for 32-plane
    configs; the string form is one parser call for the whole
    signature."""
    terms = []
    for p in range(n_planes):
        ws = ",".join(f"{_plane_component_py(plane_offset + p, d)!r}D" for d in range(dim))
        dot_p = (
            f"aggregate(zip_with({vec_col}, array({ws}), (x, w) -> cast(x as double) * w), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        terms.append(
            f"(CASE WHEN {dot_p} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(" + ".join(terms))


def plane_dots_expr(vec_col: str, n_planes_total: int, dim: int) -> str:
    """SQL expression: array of dot(vec, plane_p) for p in
    [0, n_planes_total), computed in ONE traversal of the vector.

    The per-plane folds in ``bucket_sig_column`` re-walk the vector
    once per plane (32 traversals for a 4-table×8-bit config); here the
    plane matrix is embedded TRANSPOSED (planes_d[d][p]) and a single
    ``aggregate`` over element index d updates all plane accumulators
    per step. Addition order per plane is d-ascending — identical
    associativity to the per-plane fold, so every dot (and therefore
    every sign bit) is bit-identical to the slow form; a property test
    pins the equality."""
    rows = []
    for d in range(dim):
        ws = ",".join(f"{_plane_component_py(p, d)!r}D" for p in range(n_planes_total))
        rows.append(f"array({ws})")
    planes_d = "array(" + ",".join(rows) + ")"
    return (
        f"aggregate(sequence(1, {dim}), array_repeat(0.0D, {n_planes_total}), "
        f"(acc, d) -> zip_with(acc, element_at({planes_d}, d), "
        f"(a, w) -> a + cast(element_at({vec_col}, d) as double) * w))"
    )


def bucket_sig_sql(vec_col: str, n_planes: int, plane_offset: int = 0) -> str:
    """SQL twin of ``bucket_sig_column`` (same planes via PLANE_SQL)."""

    def dot_with_plane(gp: int) -> str:
        plane_list = (
            f"list_transform(generate_series(0, len({vec_col}) - 1), "
            f"d -> {PLANE_SQL.format(p=gp)})"
        )
        return (
            f"list_sum(list_transform(list_zip({vec_col}, {plane_list}), "
            f"pp -> CAST(pp[1] AS DOUBLE) * CAST(pp[2] AS DOUBLE)))"
        )

    return " + ".join(
        f"(CASE WHEN {dot_with_plane(plane_offset + p)} > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(n_planes)
    )


def lsh_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k within sign-LSH buckets: (query_id, neighbor_id, sim,
    rank) for every corpus vector as query, candidates limited to the
    same bucket. The scale path: bucket equi-join replaces the cross
    join; recall < 1 by construction.

    Scorer: the bucket self-join + per-pair cosine + per-query window.
    The r11 order-controlled A/B against the per-bucket cosine matmul
    inside applyInPandas (similarity/scores.lsh_grouped_topk,
    bit-identical; the tests pin one against the other) kept the JOIN:
    sign-LSH's own design holds buckets SMALL (2^b buckets, ~n/2^b rows
    each), so per-bucket matmuls are tiny while per-group pandas
    overhead is not (join wins ~1.7x at n=2k, ties at 20k), and a
    degenerate dense bucket is better served by AQE skew-splitting the
    join than by one long pandas task.  The grouped form is the right
    scorer only for deliberately shallow signatures (few, large buckets
    — the SemDeDup cell regime, where it is the measured 4.6x
    choice)."""
    from hadoop_20_warehouse_spark.session import scatter

    # signature, vector, and norm in ONE projection (the join-with-sig
    # form paid an id-shuffle to reattach a column computable in place)
    vecs = scatter(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("nrm"),
        bucket_sig_column(vec_col, n_planes, dim).alias("bucket"),
    )
    a = vecs.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col("nrm").alias("qn"), "bucket",
    )
    b = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"),
        F.col("nrm").alias("nn"), "bucket",
    )
    sims = (
        a.join(b, on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _safe_div(_dot(F.col("qv"), F.col("nv")), F.col("qn") * F.col("nn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def lsh_topk_sql(
    table: str, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 10, n_planes: int = 8,
) -> str:
    """DuckDB oracle for ``lsh_topk`` (identical planes and buckets)."""
    sig_terms = bucket_sig_sql(vec_col, n_planes)
    cos = cosine_sql("a.qv", "b.nv")
    return f"""
WITH sig AS (
  SELECT {id_col} AS id, {vec_col} AS v, {sig_terms} AS bucket FROM {table}
),
a AS (SELECT id AS query_id, v AS qv, bucket FROM sig),
b AS (SELECT id AS neighbor_id, v AS nv, bucket FROM sig),
sims AS (
  SELECT a.query_id, b.neighbor_id, round({cos}, 6) AS sim
  FROM a JOIN b ON a.bucket = b.bucket
  WHERE b.neighbor_id <> a.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {k}
""".strip()
