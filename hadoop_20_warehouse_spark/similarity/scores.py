"""Batched exact-cosine scoring kernels — the GEMM twins of the
remaining interpreted-HOF hot paths in the vector family.

``similarity.assign`` batched the centroid-assign stage; this module
applies the same bit-identity discipline (numpy matmul for the bulk,
exact sequential-fold recompute inside a numerically-justified tie
band, HALF_UP shortest-decimal rounding where a rounded value is
emitted or compared) to:

- :func:`plane_signs` — the sign-LSH signature stage
  (``dedup.embedding.sign_buckets`` / ``knn.lsh_topk``'s bucketing):
  all n_tables × n_planes plane dots as ONE matmul against the
  broadcast plane matrix, signs packed to per-table bucket ints.
  Sign-flip risk exists only where |dot| falls inside the
  reassociation error bound (plane components are ±1000 integers, so
  float32×int products are exact in float64 and the bound is
  d·eps·1000·‖v‖₁); banded entries are recomputed with the exact
  sequential fold, so every emitted bucket bit equals the HOF fold's.
- :func:`brute_topk` — the exact |Q|×N cosine top-k
  (``knn.brute_force_topk``'s scorer, which also prices every
  recall@k evaluation): corpus batches score against the broadcast
  query matrix, each batch emits only its per-query top-(k + ties)
  survivors with EXACT rounded sims (band + sequential recompute +
  Decimal rounding), and a final per-query window ranks the
  partition-pruned candidate set — TakeOrdered's shape, rows shuffled
  = O(partitions · |Q| · k), never N·|Q|.  A query set above
  ``MAX_QUERY_ROWS`` splits itself into md5-sliced passes.

Equality with the HOF forms is property-tested (including zero-norm
NULL-cosine ordering, NULL vectors and duplicate-vector rounding
ties); the HOF top-k lives on only as the test-side reference
(tests/test_similarity_dedup.py ``hof_brute_topk``).  Only
:func:`brute_topk` runs in production (``knn.brute_force_topk``).  The
r11 A/B kept the HOF sign fold and the bucket self-join for sign-LSH,
so :func:`plane_signs` and :func:`lsh_grouped_topk` are the second
implementations the tests pin those forms against.  The exact
all-pairs yardstick is ``dedup.embedding.brute_force_pairs`` alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hadoop_20_warehouse_spark.similarity.assign import (
    _band,
    _round6_scaled,
    _seq_dot,
)

# float64 unit roundoff; sign/tie bands scale it by the dot's magnitude
_EPS = 2.3e-16

# Driver-side collect cap for brute_topk's query set, per pass (~0.5 GB
# of 64-dim float64 vectors).  Module-level so the pass split and the
# per-pass enforcement are testable without materializing a million
# rows.
MAX_QUERY_ROWS = 1_000_000


def plane_signs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int,
    n_planes: int,
    dim: int,
) -> DataFrame:
    """(id, table_idx, bucket) — sign-LSH buckets via one plane-matrix
    GEMM per Arrow batch; bit-identical to the HOF fold (see module
    docstring for the sign-band argument)."""
    import numpy as np

    from hadoop_20_warehouse_spark.similarity.knn import _plane_component_py

    spark = df.sparkSession
    n_all = n_tables * n_planes
    P = np.array(
        [
            [_plane_component_py(p, d) for d in range(dim)]
            for p in range(n_all)
        ],
        dtype=np.float64,
    )
    bc = spark.sparkContext.broadcast(P)
    sel = df.select(F.col(id_col), F.col(vec_col))
    id_type = sel.schema[0].dataType
    schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("table_idx", IntegerType()),
            StructField("bucket", LongType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        P_ = bc.value
        Pt = P_.T
        w2 = np.arange(n_planes, dtype=np.int64)
        weights = (1 << w2).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            S = V @ Pt  # (B, n_all) — products are exact (int × f32)
            # sign-flip band: |dot| within the reassociation bound
            bound = (
                4.0 * dim * _EPS * 1000.0 * np.abs(V).sum(axis=1)
            )  # per row
            risky = np.abs(S) <= bound[:, None]
            for i, j in zip(*np.nonzero(risky)):
                S[i, j] = _seq_dot(V[i], P_[j])
            signs = S > 0.0
            B = V.shape[0]
            out_id = np.repeat(ids, n_tables)
            out_t = np.tile(
                np.arange(n_tables, dtype=np.int32), B
            )
            buckets = (
                signs.reshape(B, n_tables, n_planes).astype(np.int64)
                * weights[None, None, :]
            ).sum(axis=2)
            yield pd.DataFrame(
                {
                    id_col: out_id,
                    "table_idx": out_t,
                    "bucket": buckets.reshape(-1),
                }
            )

    return sel.mapInPandas(gen, schema=schema)


def _chunk_passes(queries: DataFrame) -> int:
    """Pass count for a query set above ``MAX_QUERY_ROWS``: one count(),
    with 25% headroom under the per-pass cap (md5 bucketing is even
    only in expectation; each pass's own cap check still hard-guards a
    skewed bucket)."""
    total = queries.count()
    per_pass = max(1, (MAX_QUERY_ROWS * 3) // 4)
    return max(1, -(-total // per_pass))


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """The (id, vector) query rows, or None when there are more than
    ``MAX_QUERY_ROWS`` — the collect stops at cap + 1 rows, so driver
    memory stays bounded either way."""
    qrows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(MAX_QUERY_ROWS + 1)
        .collect()
    )
    return qrows if len(qrows) <= MAX_QUERY_ROWS else None


def _vector_matrix(ids, vecs, dim, id_col: str):
    """``vecs`` as a float64 matrix with ``dim`` columns.  A NULL vector
    is a zero row, so every cosine it takes part in is NULL (the HOF
    fold's NULL); a vector of another length raises.  ``dim=None``
    (every query vector NULL) gives all-zero rows: every cosine is
    NULL whatever the corpus holds."""
    import numpy as np

    M = np.zeros((len(vecs), max(dim or 0, 1)), dtype=np.float64)
    if dim is None:
        return M
    for i, v in enumerate(vecs):
        if v is None:
            continue
        if len(v) != dim:
            raise ValueError(
                f"brute_topk: vector {id_col}={ids[i]} has length "
                f"{len(v)}, query vectors have length {dim}"
            )
        M[i, :dim] = v
    return M


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """(query_id, neighbor_id, sim, rank) — exact cosine top-k,
    bit-identical to the HOF crossJoin form: per corpus batch one
    matmul against the broadcast query matrix, batch-local top-(k +
    tie band) pruning with exact rounded sims, then a per-query window
    over the pruned candidates (rows = O(partitions·|Q|·k)).

    NULL cosines (zero norms, NULL vectors) rank LAST with neighbor-id
    tiebreaks and are emitted only when a batch has fewer than k finite
    candidates — matching the HOF form's NULLS-LAST ranking exactly.  A
    vector whose length differs from the query vectors' raises
    ``ValueError`` naming its id.

    The query set is COLLECTED TO THE DRIVER (then broadcast), at most
    ``MAX_QUERY_ROWS`` rows per pass.  A larger query set is split into
    md5-bucketed slices (pass count from one count(), see
    :func:`_chunk_passes`); each pass scores its slice and the results
    union — exact, because query slices are disjoint and each query's
    top-k (rank included) depends only on its own slice's rows.  Cost
    is one corpus scan per pass.  A slice that still exceeds the cap
    raises rather than pressure driver memory."""
    qrows = _collect_queries(queries, id_col, vec_col)
    if qrows is not None:
        return _brute_topk_pass(corpus, qrows, id_col, vec_col, k)
    from functools import reduce

    from hadoop_20_warehouse_spark.functions.hashing import md5_bucket

    passes = _chunk_passes(queries)
    parts = []
    for i in range(passes):
        rows = _collect_queries(
            queries.filter(md5_bucket(F.col(id_col).cast("string"), passes) == i),
            id_col,
            vec_col,
        )
        if rows is None:
            raise ValueError(
                f"brute_topk: query slice {i} of {passes} exceeds "
                f"{MAX_QUERY_ROWS} rows — the GEMM scorer collects each "
                "pass's queries to the driver; the md5 slices are "
                "skewed (duplicate query ids?)"
            )
        parts.append(_brute_topk_pass(corpus, rows, id_col, vec_col, k))
    return reduce(DataFrame.unionByName, parts)


def _brute_topk_pass(
    corpus: DataFrame, qrows: list, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """One :func:`brute_topk` pass over the collected query rows."""
    import numpy as np

    spark = corpus.sparkSession
    if not qrows:
        # empty query set → empty result with the right schema (the
        # HOF crossJoin form degenerates the same way)
        sel0 = corpus.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(None).cast("double").alias("sim"),
            F.lit(0).cast("long").alias("rank"),
        )
        return sel0.filter(F.lit(False))
    qids = [r[id_col] for r in qrows]
    qvecs = [r[vec_col] for r in qrows]
    dim = next((len(v) for v in qvecs if v is not None), None)
    Q = _vector_matrix(qids, qvecs, dim, id_col)
    qn = np.sqrt(_seq_dot(Q, Q))
    bc = spark.sparkContext.broadcast((qids, Q, qn, dim))
    sel = corpus.select(F.col(id_col), F.col(vec_col))
    id_type = sel.schema[0].dataType
    schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("sim", DoubleType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        qids_, Q_, qn_, dim_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = _vector_matrix(ids, list(pdf[vec_col]), dim_, id_col)
            vn = np.sqrt(_seq_dot(V, V))
            S = V @ Q_.T  # (B, nq)
            denom = vn[:, None] * qn_[None, :]
            valid = denom > 0.0
            sims = np.where(valid, S / np.where(valid, denom, 1.0), -np.inf)
            out_q, out_n, out_s = [], [], []
            for qj in range(nq):
                col = sims[:, qj]
                self_mask = ids == qids_[qj]
                col = np.where(self_mask, -np.inf, col)
                finite = np.isfinite(col)
                n_fin = int(finite.sum())
                kk = min(k, n_fin)
                if kk:
                    # batch-local k-th largest, then the tie band
                    t = np.partition(col, len(col) - kk)[len(col) - kk]
                    cand = np.nonzero(col >= t - _band(V.shape[1]))[0]
                    keyed = []
                    for i in cand:
                        exact = _seq_dot(V[i], Q_[qj])
                        sim6 = (
                            _round6_scaled(exact / denom[i, qj]) / 1_000_000.0
                        )
                        keyed.append((-sim6, ids[i], sim6))
                    keyed.sort(key=lambda x: (x[0], x[1]))
                    for negs, nid, sim6 in keyed[:k]:
                        out_q.append(qids_[qj])
                        out_n.append(nid)
                        out_s.append(sim6)
                if n_fin < k:
                    # fill with NULL-cosine neighbors (smallest ids
                    # first — the HOF NULLS-LAST tiebreak); every
                    # batch emits enough of its own smallest nulls
                    # that the global window always sees the true
                    # NULLS-LAST tail
                    nulls = np.sort(ids[(~np.isfinite(col)) & (~self_mask)])
                    for nid in nulls[: k - n_fin]:
                        out_q.append(qids_[qj])
                        out_n.append(nid)
                        out_s.append(None)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_n,
                    "sim": pd.array(out_s, dtype="float64"),
                }
            )

    cand = sel.mapInPandas(gen, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def lsh_grouped_topk(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """(query_id, neighbor_id, sim, rank) — per-bucket exact top-k for
    sign-LSH search (the grouped twin of ``knn.lsh_topk``'s bucket
    self-join): ``vecs`` carries (id, vec, nrm, bucket); each vector's
    candidate set is exactly its own bucket (ONE signature per vector), so the per-query top-k is
    computable ENTIRELY inside the bucket group — one bucket-keyed
    exchange, one cosine matmul per bucket (row-chunked), tie-band
    exact rounded sims, ranks emitted in-group with the HOF form's
    (rounded sim DESC, neighbor ASC, NULLS LAST) ordering.  No pair
    rows, no second shuffle, no window — vs the self-join form's
    two-sided exchange plus a corpus-pair-sized window input.
    Bit-identity with the join form is property-tested."""
    import numpy as np

    sel = vecs.select(F.col(id_col), F.col(vec_col), F.col("nrm"), F.col("bucket"))
    id_type = sel.schema[0].dataType
    schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("sim", DoubleType()),
            StructField("rank", LongType()),
        ]
    )

    def fn(pdf):
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "sim": [], "rank": []}
        ).astype({"sim": "float64", "rank": "int64"})
        if n < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        vn = pdf["nrm"].to_numpy(dtype=np.float64)
        out_q, out_n, out_s, out_r = [], [], [], []
        chunk = max(1, (1 << 24) // n)
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            S = V[lo:hi] @ V.T
            denom = vn[lo:hi, None] * vn[None, :]
            valid = denom > 0.0
            sims = np.where(valid, S / np.where(valid, denom, 1.0), -np.inf)
            for r in range(hi - lo):
                i = lo + r
                col = sims[r].copy()
                col[i] = -np.inf  # no self-pair
                self_mask = np.zeros(n, dtype=bool)
                self_mask[i] = True
                finite = np.isfinite(col)
                n_fin = int(finite.sum())
                kk = min(k, n_fin)
                keyed = []
                if kk:
                    t = np.partition(col, n - kk)[n - kk]
                    cand = np.nonzero(col >= t - _band(V.shape[1]))[0]
                    for j in cand:
                        exact = _seq_dot(V[i], V[j])
                        sim6 = (
                            _round6_scaled(exact / denom[r, j]) / 1_000_000.0
                        )
                        keyed.append((-sim6, ids[j], sim6))
                    keyed.sort(key=lambda x: (x[0], x[1]))
                    keyed = keyed[:k]
                if n_fin < k:
                    nulls = np.sort(ids[(~np.isfinite(col)) & (~self_mask)])
                    for nid in nulls[: k - n_fin]:
                        keyed.append((None, nid, None))
                for rank, (_, nid, sim6) in enumerate(keyed, start=1):
                    out_q.append(ids[i])
                    out_n.append(nid)
                    out_s.append(sim6)
                    out_r.append(rank)
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": out_q,
                "neighbor_id": out_n,
                "sim": pd.array(out_s, dtype="float64"),
                "rank": np.array(out_r, dtype=np.int64),
            }
        )

    return sel.groupBy("bucket").applyInPandas(fn, schema=schema)
