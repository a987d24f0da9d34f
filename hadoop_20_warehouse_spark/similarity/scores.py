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
  = O(partitions · |Q| · k), never N·|Q|.
- :func:`pairs_threshold` — the exact all-pairs threshold baseline
  (``dedup.embedding.brute_force_pairs``): batch × broadcast-corpus
  matmul as a candidate FILTER (≥ threshold − band), exact rounded
  sims recomputed for the output-sized survivor set (the
  ``dedup.semantic._pairs_grouped`` pattern without the cell
  grouping; test-yardstick only, O(n²) by definition).

Equality with the HOF forms is property-tested (including zero-norm
NULL-cosine ordering and duplicate-vector rounding ties).  Only
:func:`brute_topk` runs in production (``knn.brute_force_topk``'s
default).  The r11 A/B kept the HOF sign fold and the bucket self-join
for sign-LSH, and the all-pairs baseline is a test yardstick, so
:func:`plane_signs`, :func:`pairs_threshold` and
:func:`lsh_grouped_topk` are the second implementations the tests pin
those forms against.
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

# Driver-side collect caps (~0.5 GB of 64-dim float64 vectors each):
# brute_topk collects the QUERY set, pairs_threshold the FULL corpus
# (the documented O(n²) yardstick).  Module-level so the enforcement
# is testable without materializing a million rows.
MAX_QUERY_ROWS = 1_000_000
MAX_CORPUS_ROWS = 1_000_000


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


def _chunk_passes(side: DataFrame, id_col: str, cap: int, n_passes: int | None) -> int:
    """Pass count for a chunked GEMM run: explicit, or derived from
    one count() of the driver-collected side with 25% headroom under
    the per-pass cap (md5 bucketing is even only in expectation; the
    single-pass cap check still hard-guards a skewed bucket)."""
    if n_passes is not None:
        if n_passes < 1:
            raise ValueError(f"n_passes must be >= 1, got {n_passes}")
        return n_passes
    total = side.count()
    per_pass = max(1, (cap * 3) // 4)
    return max(1, -(-total // per_pass))


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    chunked: bool = False,
    n_passes: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, sim, rank) — exact cosine top-k,
    bit-identical to ``knn.brute_force_topk``: per corpus batch one
    matmul against the broadcast query matrix, batch-local top-(k +
    tie band) pruning with exact rounded sims, then a per-query window
    over the pruned candidates (rows = O(partitions·|Q|·k)).

    NULL cosines (zero norms) rank LAST with neighbor-id tiebreaks and
    are emitted only when a batch has fewer than k finite candidates —
    matching the HOF form's NULLS-LAST ranking exactly.

    The query set is COLLECTED TO THE DRIVER (then broadcast) — the
    'bounded per pass' contract is enforced, not just documented:
    above ``max_query_rows`` the collect raises instead of silently
    pressuring driver memory; callers with larger query sets pass
    ``chunked=True`` (or use knn.brute_force_topk(method='hof'),
    whose broadcast crossJoin never materializes the query frame on
    the driver).

    ``chunked=True`` is the multi-pass escape hatch (VERDICT r14 #6):
    the query set is split into ``n_passes`` md5-bucketed slices
    (derived from one count() when not given), each pass runs the
    bounded single-pass form on its slice, and the results union —
    exact, because query slices are disjoint and each query's top-k
    (including its rank column) depends only on its own slice's rows.
    Cost is one corpus scan per pass, the honest price of a >cap
    query set on the GEMM path."""
    import numpy as np

    if chunked:
        from functools import reduce

        from hadoop_20_warehouse_spark.functions.hashing import md5_bucket

        passes = _chunk_passes(queries, id_col, MAX_QUERY_ROWS, n_passes)
        if passes == 1:
            return brute_topk(corpus, queries, id_col, vec_col, k)
        parts = [
            brute_topk(
                corpus,
                queries.filter(
                    md5_bucket(F.col(id_col).cast("string"), passes) == i
                ),
                id_col,
                vec_col,
                k,
            )
            for i in range(passes)
        ]
        return reduce(DataFrame.unionByName, parts)

    spark = corpus.sparkSession
    max_query_rows = MAX_QUERY_ROWS
    qrows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"brute_topk: query set exceeds {max_query_rows} rows — the "
            "GEMM scorer collects queries to the driver (bounded per "
            "pass by contract); chunk the query set into passes or use "
            "brute_force_topk(method='hof')"
        )
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
    Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    qn = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
    bc = spark.sparkContext.broadcast((qids, Q, qn))
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

        qids_, Q_, qn_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
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


def pairs_threshold(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    chunked: bool = False,
    n_passes: int | None = None,
) -> DataFrame:
    """(id_a, id_b, sim) — exact all-pairs ≥ threshold, bit-identical
    to ``dedup.embedding.brute_force_pairs``: one matmul per corpus
    batch against the broadcast full corpus (test-yardstick scale by
    contract), GEMM values filter candidates, exact rounded sims
    recomputed for the survivors.

    The FULL corpus is COLLECTED TO THE DRIVER (then broadcast) —
    like ``brute_topk``'s query collect, the bounded contract is
    enforced, not just documented: above ``max_corpus_rows`` the
    collect raises instead of silently pressuring driver memory.
    This is the documented O(n²) yardstick (only tests call it); the
    scale path for all-pairs similarity is the banded/bucketed family
    (dedup.semantic, minhash LSH).

    ``chunked=True`` is the multi-pass escape hatch (VERDICT r14 #6):
    only the BROADCAST side is sliced into md5 buckets — each pass
    scans the full frame against one collected slice, so the driver
    holds ≤ one slice at a time.  The union is exact: the ordered
    pair (a, b), a < b, is emitted exactly once, by the pass whose
    slice contains b.  Cost is one full scan per pass — the honest
    O(n²/passes) pricing of a >cap corpus on the yardstick path."""
    if chunked:
        from functools import reduce

        from hadoop_20_warehouse_spark.functions.hashing import md5_bucket

        passes = _chunk_passes(df, id_col, MAX_CORPUS_ROWS, n_passes)
        if passes == 1:
            return pairs_threshold(df, id_col, vec_col, threshold)
        parts = [
            _pairs_threshold_pass(
                df,
                df.filter(
                    md5_bucket(F.col(id_col).cast("string"), passes) == i
                ),
                id_col,
                vec_col,
                threshold,
            )
            for i in range(passes)
        ]
        return reduce(DataFrame.unionByName, parts)
    return _pairs_threshold_pass(df, df, id_col, vec_col, threshold)


def _pairs_threshold_pass(
    scan: DataFrame,
    bcast: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """One pass of :func:`pairs_threshold`: collect+broadcast ``bcast``
    (cap-enforced), scan ``scan``, emit (id_a < id_b, sim) pairs whose
    RIGHT member is in the broadcast slice."""
    import numpy as np

    spark = scan.sparkSession
    df = scan
    max_corpus_rows = MAX_CORPUS_ROWS
    rows = (
        bcast.select(F.col(id_col), F.col(vec_col))
        .limit(max_corpus_rows + 1)
        .collect()
    )
    if len(rows) > max_corpus_rows:
        raise ValueError(
            f"pairs_threshold: corpus exceeds {max_corpus_rows} rows — "
            "the all-pairs GEMM yardstick collects and broadcasts the "
            "full corpus (bounded by contract); use the banded scale "
            "paths (dedup.semantic semantic_dedup_removed, minhash LSH) "
            "for corpora beyond yardstick scale, or chunked=True "
            "for the multi-pass escape hatch"
        )
    if not rows:
        # empty broadcast slice (possible under chunked md5 bucketing)
        sel0 = df.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(None).cast("double").alias("sim"),
        )
        return sel0.filter(F.lit(False))
    all_ids = np.array([r[id_col] for r in rows])
    A = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    an = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
    bc = spark.sparkContext.broadcast((all_ids, A, an))
    sel = df.select(F.col(id_col), F.col(vec_col))
    id_type = sel.schema[0].dataType
    schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("sim", DoubleType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        ids_, A_, an_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            S = V @ A_.T
            denom = vn[:, None] * an_[None, :]
            valid = denom > 0.0
            sims = np.where(valid, S / np.where(valid, denom, 1.0), -np.inf)
            mask = (sims >= threshold - _band(A_.shape[1])) & (
                ids[:, None] < ids_[None, :]
            )
            out_a, out_b, out_s = [], [], []
            for i, j in zip(*np.nonzero(mask)):
                exact = _seq_dot(V[i], A_[j])
                sim6 = _round6_scaled(exact / denom[i, j]) / 1_000_000.0
                if sim6 >= threshold:
                    out_a.append(ids[i])
                    out_b.append(ids_[j])
                    out_s.append(sim6)
            yield pd.DataFrame(
                {
                    "id_a": out_a,
                    "id_b": out_b,
                    "sim": np.array(out_s, dtype=np.float64),
                }
            )

    return sel.mapInPandas(gen, schema=schema)


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
