"""Batched (GEMM) centroid assignment — the one corpus-side centroid
assign behind every ANN/SemDeDup quantizer in this library
(``ivf.train_centroids``, ``ivf._cells``, ``pq._assign_with_centroid``).

Every such operator quantizes vectors by scoring them against a
centroid table and keeping the ``nprobe`` nearest by rounded cosine
with centroid-id tiebreaks.  The row-local HOF form of that argmin
(array_min / array_sort over transform, ``ivf._scorer``) is JVM-side
and shuffle-free, but higher-order array functions run as INTERPRETED
expressions — the repo's own measured finding (PLANS.md codegen notes)
— so its O(N·k·d) constant factor dominates as k grows toward the
cell counts a 100 TB deployment runs (SemDeDup's paper-scale ~50k
clusters).  Real deployments batch this stage as a matrix multiply;
this module is that path: ``mapInPandas`` over Arrow batches, ONE
numpy GEMM per batch against the broadcast centroid matrix, still
shuffle-free and embarrassingly parallel.  The HOF form survives only
as the test-side reference the equality property is checked against
(tests/test_similarity_dedup.py ``hof_assign_topn``).

Bit-identical by construction — the load-bearing property (the DuckDB
oracles hash the downstream results, so the assign must reproduce the
rounded-cosine argmin EXACTLY, same rounding and same tiebreaks):

- float32 inputs widen to float64 exactly; float64 inputs pass
  through — every elementwise product/divide is then the same IEEE
  double op the JVM runs.
- Norms are sequential folds (``np.cumsum``, not ``np.sum`` — numpy's
  reduce is pairwise, the JVM fold is left-to-right).
- The GEMM's dots are NOT trusted for the decision near ties: its
  reassociation error is bounded by d·eps·(vn·cn) (Cauchy–Schwarz), ≤
  ~1.5e-14 on the cosine scale, so any pair of candidates whose GEMM
  cosines differ by more than BAND = 1e-6 + 1e-12 has the same rounded
  (6-decimal) order as the exact sequential fold.  Rows whose top
  ``nprobe+1`` candidates are all separated by > BAND take the GEMM
  order directly (no rounding needed at all — the assign outputs ids
  and ranks, never the cosine).  Rows with any candidate inside the
  band get the exact treatment: sequential-fold dots recomputed for
  the banded candidates only, rounded with the same HALF_UP-on-
  shortest-decimal rule as Spark's ``round()`` (java.math.BigDecimal
  .valueOf == Double.toString == Python ``repr``), sorted by
  (-rounded, centroid_id) — byte-for-byte the ``ivf._scorer``
  ordering, NULL cosines (zero norms) last.
- A NULL vector — corpus row or centroid row — scores like a zero
  vector: every cosine it takes part in is NULL, so a NULL corpus
  vector gets the centroid-id-ordered cells (the oracles' NULLS-LAST
  order).  It passes through as ``vec`` and its ``resid`` is NULL, as
  is the ``resid`` against a NULL centroid.
- A property test (tests/test_similarity_dedup.py) pins GEMM == HOF
  frame equality on real float32 embeddings, synthetic doubles,
  exact-duplicate vectors, zero vectors and NULL vectors.

Why one kernel: measured round 11 (PLANS.md) at N=2,000 (sf0.1
embeddings) and N=20,000 (synthetic doubles), k ∈ [8, 2048], the GEMM
path wins at EVERY measured point (k=8/N=2k: 0.46s vs 1.05s;
k=320/N=20k: 0.48s vs 4.0s; k=2048/N=20k: 0.91s vs 27.7s — the HOF
cost is ~linear in k, the GEMM cost is flat until the matmul term
finally surfaces).  With no k at which the HOF form wins, there is no
dispatch threshold.

Reference lineage: the assignment stage itself has no reference
counterpart (vector ops are an extension); the batch-the-inner-loop
idea is the reference's MultithreadedMapRunner posture
(mapred/lib/MultithreadedMapRunner.java) applied to SIMD instead of
threads.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

# Decision band on the cosine scale: 1e-6 covers the 6-decimal
# rounding granularity; the error term dominates the GEMM
# reassociation bound (≈ 2·d·eps on the normalized cosine, eps =
# 2^-52 ≈ 2.3e-16) with ≥4x headroom AT EVERY DIMENSION — the fixed
# 1e-12 floor alone would be outgrown past d ≈ 4000 (r11 ADVICE), so
# the band is derived from the actual vector dimension at each call
# site (the kernels all know d from the batch/matrix shape).
def _band(d: int) -> float:
    return 1e-6 + max(1e-12, 8.0 * float(d) * 2.3e-16)


# Sort key for NULL cosines (zero norm): the HOF scorer coalesces the
# NULL negsim to +inf so those candidates rank LAST with centroid-id
# tiebreaks; any finite -rounded key is ≤ 1e6 so 2^62 is safely after.
_NULL_KEY = 1 << 62


def _round6_scaled(x: float) -> int:
    """Spark's ``round(x, 6)`` as a scaled integer (×1e6).

    Spark's Round on DoubleType goes through
    ``BigDecimal.valueOf(double)`` — i.e. ``Double.toString``'s
    shortest round-trip decimal — then ``setScale(6, HALF_UP)``.
    Python's ``repr`` is the same shortest round-trip string, so
    Decimal(repr(x)) + HALF_UP reproduces it (np.round is HALF_EVEN on
    the binary value — wrong on both counts)."""
    return int(
        (
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        * 1_000_000
    )


def collect_centroid_matrix(cents: DataFrame):
    """Collect a (centroid_id, cv, cn) table into numpy arrays for the
    broadcast closure: (cids, C, cn, null_c).  The table is O(k) rows
    by construction (``ivf.centroids``/``train_centroids`` cap it), so
    the collect is a bounded driver hop.  ``cn`` is reused from the
    Spark-computed column — not recomputed — so the denominator is the
    identical double.  A NULL ``cv`` becomes a zero row flagged in
    ``null_c`` (its cosines are NULL; its residuals are NULL)."""
    import numpy as np

    rows = cents.select("centroid_id", "cv", "cn").collect()
    cids = [r["centroid_id"] for r in rows]
    dims = {len(r["cv"]) for r in rows if r["cv"] is not None}
    if len(dims) > 1:
        raise ValueError(
            f"assign_topn: centroid vectors have mixed lengths {sorted(dims)}"
        )
    if rows and not dims:
        raise ValueError(
            "assign_topn: every centroid vector is NULL — the argmin is "
            "undefined (check the quantizer's source frame)"
        )
    C = np.zeros((len(rows), dims.pop() if dims else 0), dtype=np.float64)
    null_c = np.zeros(len(rows), dtype=bool)
    for i, r in enumerate(rows):
        if r["cv"] is None:
            null_c[i] = True
        else:
            C[i] = r["cv"]
    cn = np.array(
        [float(r["cn"]) if r["cn"] is not None else 0.0 for r in rows],
        dtype=np.float64,
    )
    return cids, C, cn, null_c


def _seq_dot(a, b):
    """Left-to-right fold of the element products — the JVM
    ``aggregate`` order (np.cumsum is sequential; np.sum is pairwise
    and would differ in the last ulp)."""
    import numpy as np

    return np.cumsum(a * b, axis=-1)[..., -1]


def assign_topn(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    include_resid: bool = False,
    include_vec: bool = False,
) -> DataFrame:
    """(id, centroid_id, crank[, vec][, resid]) — each vector's
    ``nprobe`` nearest centroids by rounded cosine with centroid-id
    tiebreaks, bit-identical to the HOF argmin over ``ivf._scorer`` (see
    module docstring for the equality argument, NULL vectors included).

    ``include_resid`` appends ``resid`` = v − centroid per emitted row
    (the IVF-PQ residual, float64 — the HOF form's zip_with of double
    casts); ``include_vec`` carries the input vector through (the
    train_centroids loop shape).  A vector whose length differs from
    the centroids' raises ``ValueError`` naming its id.

    Scale: one GEMM per Arrow batch against the broadcast centroid
    matrix — no shuffle, no window; worker memory is bounded by
    row-chunking so batch_rows × k stays ≤ ~2^24 scores."""
    import numpy as np

    spark = corpus.sparkSession
    cids, C, cn, null_c = collect_centroid_matrix(cents)
    k = len(cids)
    if k == 0:
        raise ValueError(
            "assign_topn: empty centroid table — the argmin is "
            "undefined (check the quantizer's source frame)"
        )
    bc = spark.sparkContext.broadcast((cids, C, cn, null_c))

    sel = corpus.select(F.col(id_col), F.col(vec_col))
    id_type = sel.schema[0].dataType
    vec_type = sel.schema[1].dataType
    cid_type = cents.select("centroid_id").schema[0].dataType
    fields = [
        StructField(id_col, id_type),
        StructField("centroid_id", cid_type),
        StructField("crank", IntegerType()),
    ]
    if include_vec:
        fields.append(StructField(vec_col, vec_type))
    if include_resid:
        fields.append(StructField("resid", ArrayType(DoubleType())))
    schema = StructType(fields)
    np_eff = min(nprobe, k)

    def gen(batches):
        import pandas as pd

        cids_, C_, cn_, null_c_ = bc.value
        kk, dim = C_.shape
        cid_arr = np.arange(kk)
        band = _band(dim)
        # pre-normalized centroid matrix, computed ONCE per worker:
        # Sp = V @ (C/cn).T gives Sp[i,j] = dot(v_i, c_j)/cn_j, which
        # ORDERS each row exactly like the cosine (vn_i is a constant
        # positive scale per row), so the full (B, k) denominator
        # outer product, validity mask, and division passes — which
        # dominated the 200k×2k-cell rehearsal at 3 full (B·k)-sized
        # temporaries per chunk — never materialize.  Cosine-scale
        # comparisons (the band) rescale by vn_i per row instead.
        # The extra per-element rounding from pre-normalizing C adds
        # O(eps) relative error, far inside the band's ≥4x margin
        # (module docstring); rows/columns with zero norms pin to
        # -inf and fall to the exact fallback as before.
        zero_c = cn_ <= 0.0
        CnT = (C_ / np.where(zero_c, 1.0, cn_)[:, None]).T
        any_zero_c = bool(zero_c.any())

        def emit(ids_chunk, V, raw_chunk, null_chunk, rows_sel):
            # rows_sel: list over rows of [centroid_index, ...] ordered
            cols = {
                id_col: np.repeat(ids_chunk, [len(s) for s in rows_sel]),
                "centroid_id": [cids_[c] for s in rows_sel for c in s],
                "crank": np.concatenate(
                    [np.arange(1, len(s) + 1, dtype=np.int32) for s in rows_sel]
                )
                if rows_sel
                else np.array([], dtype=np.int32),
            }
            if include_vec:
                cols[vec_col] = [
                    raw_chunk[i] for i, s in enumerate(rows_sel) for _ in s
                ]
            if include_resid:
                cols["resid"] = [
                    None if null_chunk[i] or null_c_[c] else V[i] - C_[c]
                    for i, s in enumerate(rows_sel)
                    for c in s
                ]
            return pd.DataFrame(cols)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            raw = list(pdf[vec_col])
            # a NULL vector scores as a zero row: all its cosines are NULL
            V_all = np.zeros((len(raw), dim), dtype=np.float64)
            null_v = np.zeros(len(raw), dtype=bool)
            for i, v in enumerate(raw):
                if v is None:
                    null_v[i] = True
                elif len(v) != dim:
                    raise ValueError(
                        f"assign_topn: vector {id_col}={ids[i]} has length "
                        f"{len(v)}, centroids have length {dim}"
                    )
                else:
                    V_all[i] = v
            # row-chunk so chunk_rows × k scores stay bounded
            chunk = max(1, (1 << 24) // max(kk, 1))
            for lo in range(0, len(ids), chunk):
                V = V_all[lo : lo + chunk]
                ids_chunk = ids[lo : lo + chunk]
                raw_chunk = raw[lo : lo + chunk]
                null_chunk = null_v[lo : lo + chunk]
                B = V.shape[0]
                vn = np.sqrt(_seq_dot(V, V))
                Sp = V @ CnT  # (B, k) — THE batch GEMM, cosine·vn scale
                if any_zero_c:
                    Sp[:, zero_c] = -np.inf
                zero_v = vn <= 0.0
                if zero_v.any():
                    Sp[zero_v, :] = -np.inf
                # top-(np_eff+1) per row via argpartition, THEN order
                # the small subset by (score desc, centroid-id asc) —
                # a full per-row lexsort over all k is O(N·k·log k)
                # and, with the former (B·k) denominator/where passes,
                # dominated the kernel at paper-scale k (together:
                # steady-state 29.7s → 2.2s at 200k×2000, PLANS.md
                # r12).  Selection semantics are unchanged: clean rows
                # are strictly band-separated inside the subset, so
                # argpartition's arbitrary tie order can only matter on
                # rows the gap check already routes to the exact
                # fallback.  -(-inf) = +inf sorts last. ✓
                sel_n = min(np_eff + 1, kk)
                part = np.argpartition(-Sp, sel_n - 1, axis=1)[:, :sel_n]
                psims = np.take_along_axis(Sp, part, axis=1)
                o = np.lexsort((cid_arr[part], -psims), axis=1)
                order = np.take_along_axis(part, o, axis=1)
                s_sorted = np.take_along_axis(psims, o, axis=1)
                # clean rows: every consecutive gap across the selected
                # prefix AND the selection boundary exceeds the band —
                # GEMM order == exact rounded order, no rounding
                # needed.  Gaps live on the cosine·vn scale, so the
                # cosine-scale band rescales by vn per row.
                ncheck = min(np_eff, kk - 1)
                if ncheck > 0:
                    # −inf − −inf = NaN (all-NULL rows): compares False
                    # → the row takes the exact path, as it must
                    with np.errstate(invalid="ignore"):
                        gaps = s_sorted[:, :ncheck] - s_sorted[:, 1 : ncheck + 1]
                        clean = np.all(gaps > band * vn[:, None], axis=1)
                else:
                    clean = np.ones(B, dtype=bool)
                rows_sel: list = [None] * B
                top_idx = order[:, :np_eff]
                for i in np.nonzero(clean)[0]:
                    rows_sel[i] = top_idx[i]
                dirty = np.nonzero(~clean)[0]
                if len(dirty):
                    for i in dirty:
                        m = s_sorted[i, np_eff - 1]
                        if np.isinf(m) and m < 0:
                            cand = cid_arr  # whole row is in the tie set
                        else:
                            with np.errstate(invalid="ignore"):
                                cand = np.nonzero(
                                    Sp[i] >= m - band * vn[i]
                                )[0]
                        # exact recompute VECTORIZED across the tie
                        # set: _seq_dot broadcasts to (|cand|, d) and
                        # folds each row sequentially (np.cumsum) —
                        # bit-identical to the one-candidate-at-a-time
                        # form (same per-row fold), one numpy call
                        # instead of |cand|; matters when tie-dense
                        # data (near-duplicate clusters) inflates the
                        # dirty fraction
                        exact = _seq_dot(V[i][None, :], C_[cand])
                        vi = vn[i]
                        keyed = []
                        for idx, c in enumerate(cand):
                            den = vi * cn_[c]
                            if not den > 0.0:
                                keyed.append((_NULL_KEY, cids_[c], c))
                                continue
                            sim = exact[idx] / den
                            keyed.append((-_round6_scaled(sim), cids_[c], c))
                        keyed.sort(key=lambda t: (t[0], t[1]))
                        rows_sel[i] = [t[2] for t in keyed[:np_eff]]
                yield emit(ids_chunk, V, raw_chunk, null_chunk, rows_sel)

    return sel.mapInPandas(gen, schema=schema)
