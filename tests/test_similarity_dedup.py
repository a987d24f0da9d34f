"""Structural properties of the vector near-dup and ANN operators —
the oracle gate (test_inventory_oracle) proves engine/oracle identity;
these prove the *algorithms* behave as advertised (candidate subsets,
recall vs the exact baseline, no self/duplicate pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.dedup import embedding as EMB
from hadoop_20_warehouse_spark.dedup import semantic as SEM
from hadoop_20_warehouse_spark.similarity import assign as ASSIGN
from hadoop_20_warehouse_spark.similarity import ivf as IVF
from hadoop_20_warehouse_spark.similarity import pq as PQ
from hadoop_20_warehouse_spark.similarity.knn import (
    _dot,
    _norm,
    _safe_div,
    brute_force_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_embedding_near_dup_subset_of_brute(spark, emb):
    lsh = EMB.embedding_near_dup_pairs(emb)
    brute = EMB.brute_force_pairs(emb)
    extra = lsh.exceptAll(brute)
    assert extra.count() == 0, "LSH near-dup pairs must be a subset of exact pairs"


def test_embedding_near_dup_sane(spark, emb):
    rows = EMB.embedding_near_dup_pairs(emb).collect()
    assert rows, "threshold should yield at least one pair on testdata"
    for r in rows:
        assert r.id_a < r.id_b
        assert r.sim >= EMB.DEFAULT_THRESHOLD - 1e-9
    assert len({(r.id_a, r.id_b) for r in rows}) == len(rows), "no duplicate pairs"


def test_embedding_near_dup_recall(spark, emb):
    """Banded sign-LSH should recover a non-trivial share of the exact
    pairs at the default knobs (recall < 1 by construction)."""
    lsh_n = EMB.embedding_near_dup_pairs(emb).count()
    brute_n = EMB.brute_force_pairs(emb).count()
    assert brute_n > 0
    assert lsh_n / brute_n >= 0.25, f"recall collapsed: {lsh_n}/{brute_n}"


def test_ivf_topk_matches_brute_on_probed_cells(spark, emb):
    """Every IVF neighbor must also appear in the exact brute-force
    ranking for that query with >= its IVF similarity — IVF can only
    *miss* neighbors (approximation), never invent or inflate them."""
    ivf = IVF.ivf_topk(emb, k=5).select("query_id", "neighbor_id", "sim")
    brute_all = brute_force_topk(emb, emb, k=10**9).select(
        "query_id", "neighbor_id", "sim"
    )
    missing = ivf.join(brute_all, on=["query_id", "neighbor_id", "sim"], how="left_anti")
    assert missing.count() == 0


def test_ivf_centroid_count_fixed_in_corpus_size(spark, emb):
    """The centroid table must be O(k), NOT O(n): doubling the corpus
    must not change the centroid count (round-1 stride sampling made it
    n/stride — the VERDICT scale defect)."""
    doubled = emb.union(
        emb.select((F.col("vec_id") + 10**9).alias("vec_id"), *emb.columns[1:])
    )
    for corpus in (emb, doubled):
        got = IVF.centroids(corpus, "vec_id", "embedding", 16).count()
        assert got == 16


def test_ivf_covers_all_queries(spark, emb):
    n_vec = emb.count()
    ivf = IVF.ivf_topk(emb, k=5)
    assert ivf.select("query_id").distinct().count() == n_vec
    per_q = ivf.groupBy("query_id").count()
    assert per_q.agg(F.max("count")).first()[0] <= 5


def test_single_pass_buckets_equal_per_plane_folds(spark, emb):
    """sign_buckets' one-traversal plane dots must be bit-identical to
    the per-plane fold construction (same addition order per plane) —
    pins the fast path to the oracle-shared math."""
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_spark.similarity.knn import bucket_sig_column

    fast = EMB.sign_buckets(emb, "vec_id", "embedding", 4, 8).orderBy(
        "vec_id", "table_idx"
    )
    slow_rows = [
        F.struct(
            F.lit(t).alias("table_idx"),
            bucket_sig_column("embedding", 8, 64, plane_offset=t * 8).alias("bucket"),
        )
        for t in range(4)
    ]
    slow = (
        emb.select(F.col("vec_id"), F.explode(F.array(*slow_rows)).alias("tb"))
        .select("vec_id", "tb.table_idx", "tb.bucket")
        .orderBy("vec_id", "table_idx")
    )
    assert [tuple(r) for r in fast.collect()] == [tuple(r) for r in slow.collect()]


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The reliable-checkpoint path (checkpoint_dir set) must produce
    the same labeling as the default localCheckpoint path, and actually
    write checkpoint data into the directory."""
    import os

    from hadoop_20_warehouse_spark.dedup.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], ["id_a", "id_b"]
    )
    expect = {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 7)}
    local = connected_components(edges)
    reliable = connected_components(edges, checkpoint_dir=str(tmp_path))
    assert {(r.node, r.component) for r in local.collect()} == expect
    assert {(r.node, r.component) for r in reliable.collect()} == expect
    assert any(os.scandir(tmp_path)), "no checkpoint data written"


def test_connected_components_empty_edges_converges_first_round(spark):
    """Zero candidate pairs (a corpus with no near-dups) must converge
    on the FIRST round, not burn max_iterations on empty frames: the
    observe() sum over an empty label frame returns None, which the
    convergence check must treat as 'nothing changed' (r7 review).
    Asserted via the rounds diagnostic, not a load-sensitive wall-clock
    bound (r7 ADVICE)."""
    from hadoop_20_warehouse_spark.dedup.components import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    stats: dict = {}
    out = connected_components(empty, max_iterations=50, stats=stats)
    assert out.count() == 0
    assert stats["rounds"] == 1


def test_connected_components_rounds_diameter_bound(spark):
    """The rounds diagnostic reflects real propagation: a 4-node chain
    (diameter 3) needs more than one round but converges well within
    the cap, and the labels are exact."""
    from hadoop_20_warehouse_spark.dedup.components import connected_components

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    stats: dict = {}
    out = connected_components(chain, max_iterations=20, stats=stats)
    assert {(r.node, r.component) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (4, 1)
    }
    # min-label propagation over a 3-edge chain: >1 round to reach the
    # far end, plus one no-change round to detect convergence
    assert 2 <= stats["rounds"] <= 5


def test_connected_components_zero_iterations_fills_stats(spark):
    """A degenerate cap (max_iterations=0) still fills the stats dict:
    no rounds and no steps ran, and every node keeps its own id."""
    from hadoop_20_warehouse_spark.dedup.components import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    stats: dict = {}
    out = connected_components(edges, max_iterations=0, stats=stats)
    assert stats == {"rounds": 0, "steps": 0}
    assert {(r.node, r.component) for r in out.collect()} == {
        (1, 1), (2, 2), (3, 3)
    }


def test_pq_encode_and_adc_match_numpy_reference(spark):
    """PQ (similarity/pq.py) against a brute-force numpy reference on
    a small corpus: codebook determinism, code assignments, and ADC
    ranking all reproduce."""
    import hashlib

    import numpy as np
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.similarity import pq as PQ

    rng = np.random.RandomState(7)
    dim, m, k = 8, 2, 3
    vecs = {i: rng.randn(dim).round(3).tolist() for i in range(12)}
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs.items()]
    )
    cb_df = PQ.pq_codebook(df, dim=dim, m=m, k=k)
    codes_df = PQ.pq_encode(df, cb_df, dim=dim, m=m)
    got_codes = {r["vec_id"]: list(r["codes"]) for r in codes_df.collect()}

    # numpy reference: same seed rule, same micro-unit argmin
    order = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    seeds = order[:k]
    sub = dim // m

    def sqd_u(a, b):
        d = np.asarray(a) - np.asarray(b)
        return round(float((d * d).sum()) * 1_000_000)

    def enc(v):
        out = []
        for s in range(m):
            sl = v[s * sub : (s + 1) * sub]
            cands = [
                (sqd_u(sl, vecs[seeds[j]][s * sub : (s + 1) * sub]), j)
                for j in range(k)
            ]
            out.append(min(cands)[1])
        return out

    for i, v in vecs.items():
        assert got_codes[i] == enc(v), (i, got_codes[i], enc(v))

    qid = max(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    q = vecs[qid]
    query = df.filter(F.col("vec_id") == qid).select(
        F.col("embedding").alias("qv")
    )
    got = [
        (r["vec_id"], r["adc_u"], r["rank"])
        for r in PQ.pq_adc_topk(codes_df, cb_df, query, topk=5, dim=dim, m=m)
        .orderBy("rank")
        .collect()
    ]
    lut = [
        [sqd_u(q[s * sub : (s + 1) * sub], vecs[seeds[j]][s * sub : (s + 1) * sub]) for j in range(k)]
        for s in range(m)
    ]
    ref = sorted(
        (sum(lut[s][c] for s, c in enumerate(enc(v))), i) for i, v in vecs.items()
    )[:5]
    assert got == [(i, d, r + 1) for r, (d, i) in enumerate(ref)], (got, ref)


def test_ivfpq_prunes_to_probed_cells(spark):
    """IVF-PQ: every scored candidate comes from one of the query's
    nprobe cells (the cell_id join IS the pruning), codes are in
    range, and the full result matches the DuckDB oracle's shape.
    (Value-exactness is the driver query's hash-checked oracle.)"""
    import numpy as np
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.similarity import pq as PQ
    from hadoop_20_warehouse_spark.similarity.ivf import centroids

    rng = np.random.RandomState(11)
    df = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[float(x) for x in rng.randn(16).round(3)])
            for i in range(40)
        ]
    )
    query = df.filter(F.col("vec_id") == 39).select(F.col("embedding").alias("qv"))
    out = PQ.ivfpq_topk(
        df, query, num_centroids=4, nprobe=2, m=4, k_codes=4, dim=16, topk=10
    ).collect()
    assert 0 < len(out) <= 10
    cells = {r["cell_id"] for r in out}
    assert len(cells) <= 2  # at most nprobe distinct cells survive
    for r in out:
        codes = [int(c) for c in r["codes_str"].split("-")]
        assert len(codes) == 4 and all(0 <= c < 4 for c in codes)
        assert r["adc_u"] >= 0
    ranks = [r["rank"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranks == list(range(1, len(out) + 1))
    # centroid table is the deterministic sampled quantizer (shared rule)
    assert centroids(df, "vec_id", "embedding", 4).count() == 4


def test_pq_rerank_full_shortlist_equals_exact_brute(spark):
    """With shortlist == corpus size, re-rank degrades to the EXACT
    top-k: ranking must match a numpy brute-force by full-precision
    micro-unit squared-L2 (the ADC stage then only orders the fetch)."""
    import hashlib

    import numpy as np
    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.similarity import pq as PQ

    rng = np.random.RandomState(21)
    dim, m, k = 8, 2, 3
    vecs = {i: rng.randn(dim).round(3).tolist() for i in range(15)}
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs.items()]
    )
    cb = PQ.pq_codebook(df, dim=dim, m=m, k=k)
    codes = PQ.pq_encode(df, cb, dim=dim, m=m)
    qid = max(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    query = df.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qv"))
    got = (
        PQ.pq_rerank_topk(
            codes, cb, query, df, shortlist=len(vecs), topk=5, m=m, dim=dim
        )
        .orderBy("rank")
        .collect()
    )

    q = np.asarray(vecs[qid])

    def exact_u(v):
        d = np.asarray(v) - q
        return round(float((d * d).sum()) * 1_000_000)

    ref = sorted((exact_u(v), i) for i, v in vecs.items())[:5]
    assert [(r["vec_id"], r["exact_u"]) for r in got] == [(i, d) for d, i in ref]
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    # both distances ride through; adc_u is the stage-1 ordering key
    assert all(r["adc_u"] is not None and r["adc_u"] >= 0 for r in got)


def test_pq_rerank_results_come_from_adc_shortlist(spark, emb):
    """With a tight shortlist, every re-ranked row must be one of the
    stage-1 ADC shortlist ids, ranks contiguous, exact_u ascending —
    the two-stage contract (approximation error allowed, invention
    not)."""
    from hadoop_20_warehouse_spark.similarity import pq as PQ

    cb = PQ.pq_codebook(emb)
    codes = PQ.pq_encode(emb, cb)
    query = (
        emb.select(
            F.col("embedding").alias("qv"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            "vec_id",
        )
        .orderBy(F.desc("h"), F.desc("vec_id"))
        .limit(1)
        .select("qv")
    )
    short_ids = {
        r["vec_id"]
        for r in PQ.pq_adc_topk(codes, cb, query, topk=30).collect()
    }
    out = (
        PQ.pq_rerank_topk(codes, cb, query, emb, shortlist=30, topk=10)
        .orderBy("rank")
        .collect()
    )
    assert len(out) == 10
    assert {r["vec_id"] for r in out} <= short_ids
    assert [r["rank"] for r in out] == list(range(1, 11))
    eu = [r["exact_u"] for r in out]
    assert eu == sorted(eu)


def test_semantic_dedup_matches_bruteforce_within_cells(spark, emb):
    """The removed set must be EXACTLY {id_b : some same-cell id_a <
    id_b with cosine >= tau} recomputed from the all-pairs baseline
    plus an independent cell assignment, and dup_of the minimum such
    id_a — SemDeDup's cluster bound changes cost, never semantics."""
    from hadoop_20_warehouse_spark.dedup import semantic as SEM
    from hadoop_20_warehouse_spark.similarity.ivf import _cells

    tau = SEM.DEFAULT_SEM_THRESHOLD
    got = {
        r["vec_id"]: (r["cell_id"], r["dup_of"], r["sim"])
        for r in SEM.semantic_dedup_removed(emb).collect()
    }

    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in _cells(
            emb, "vec_id", "embedding", SEM.DEFAULT_NUM_CELLS, nprobe=1
        ).collect()
    }
    brute = EMB.brute_force_pairs(emb, threshold=tau).collect()
    expected = {}
    for r in brute:
        if cells[r.id_a] == cells[r.id_b]:
            cur = expected.get(r.id_b)
            if cur is None or r.id_a < cur[1]:
                expected[r.id_b] = (cells[r.id_b], r.id_a, r.sim)
    assert got == expected
    # every removed doc's cell minimum survives (greedy chain bottoms out)
    for vid, (cell, dup_of, _) in got.items():
        assert dup_of < vid and cells[dup_of] == cell


def test_semantic_dedup_accepts_trained_centroids(spark, emb):
    """A Lloyd-trained quantizer plugs into cents= unchanged and still
    yields a valid removed set (smaller-id links, threshold honored)."""
    from hadoop_20_warehouse_spark.dedup import semantic as SEM

    cents = IVF.train_centroids(emb, k=8, iters=1)
    rows = SEM.semantic_dedup_removed(emb, num_cells=8, cents=cents).collect()
    assert rows
    for r in rows:
        assert r["dup_of"] < r["vec_id"]
        assert r["sim"] >= SEM.DEFAULT_SEM_THRESHOLD - 1e-9


def test_knn_recall_eval_bounds_and_exactness(spark, emb):
    """Recall eval: one row per eval query, n_hits in [0, k], recall =
    n_hits/k, and n_hits recomputed from the two rankings' collected
    intersection matches — the eval must MEASURE, not estimate."""
    from hadoop_20_warehouse_spark.inventory_llm import (
        _RECALL_K,
        _RECALL_PRED,
        q_knn_recall_eval,
    )
    from hadoop_20_warehouse_spark.similarity.knn import brute_force_topk

    sf_dir = "/root/testdata/sf0.001"
    from hadoop_20_warehouse_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    got = {r.query_id: r for r in q_knn_recall_eval(spark, sf_dir).collect()}
    n_queries = e.filter(_RECALL_PRED).count()
    assert len(got) == n_queries
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in IVF.ivf_topk(e, k=_RECALL_K)
        .filter(f"query_id % 50 = 0")
        .collect()
    }
    brute = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(e, e.filter(_RECALL_PRED), k=_RECALL_K).collect()
    }
    inter = ivf & brute
    for qid, r in got.items():
        want = sum(1 for q, _ in inter if q == qid)
        assert r.n_hits == want
        assert 0 <= r.n_hits <= _RECALL_K
        assert abs(r.recall_at_k - r.n_hits / _RECALL_K) < 1e-12


def test_embedding_group_centroid_matches_numpy(spark, emb):
    """Per-label centroid digests and dispersion against a numpy
    reference using the same micro-unit quantization — the
    exact-integer discipline must reproduce the math, not just be
    self-consistent."""
    import hashlib

    import numpy as np

    from hadoop_20_warehouse_spark.inventory_llm import (
        q_embedding_group_centroid,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r.label: r
        for r in q_embedding_group_centroid(spark, sf_dir).collect()
    }
    import duckdb

    rows = duckdb.sql(
        f"select label, embedding from '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    by_label: dict = {}
    for lab, vec in rows:
        by_label.setdefault(lab, []).append(
            [round(float(x) * 1_000_000) for x in vec]
        )
    for lab, vecs in by_label.items():
        a = np.asarray(vecs, dtype=np.int64)
        n = a.shape[0]
        sxu = a.sum(axis=0)
        digest = hashlib.md5(",".join(str(int(s)) for s in sxu).encode()).hexdigest()
        mad = int(np.abs(n * a - sxu[None, :]).sum())
        r = got[lab]
        assert r.n_vecs == n
        assert r.centroid_digest == digest, lab
        assert r.mad_total == mad
        assert abs(r.avg_abs_dev - mad / (n * n * 64.0 * 1e6)) < 1e-12


# ---------------------------------------------------------------------------
# GEMM-batched centroid assignment (similarity/assign.py): bit-identity
# with the HOF argmin is the load-bearing property — the DuckDB oracles
# hash downstream results, so the production kernel must agree with the
# reference on every row, including rounding-boundary ties,
# exact-duplicate vectors, NULL cosines (zero norms) and NULL vectors.
# The HOF argmin lives here as that reference: each equivalence test
# runs the production function once as-is and once with assign_topn
# swapped for hof_assign_topn.


def hof_assign_topn(
    corpus, cents, id_col="vec_id", vec_col="embedding", nprobe=1,
    include_resid=False, include_vec=False,
):
    """``assign.assign_topn``'s contract as the row-local broadcast-HOF
    argmin: the k centroids travel as ONE array row, each vector sorts
    its k (negsim, cid[, cv]) scores and explodes the nprobe best."""
    scored = corpus.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_vn")
    ).crossJoin(F.broadcast(IVF._centroid_array(cents)))
    scorer = IVF._scorer(F.col(vec_col), F.col("_vn"), include_cv=include_resid)
    top = scored.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(
            F.slice(F.array_sort(F.transform(F.col("cs"), scorer)), 1, nprobe)
        ).alias("pos", "p"),
    )
    cols = [
        F.col(id_col),
        F.col("p")["cid"].alias("centroid_id"),
        (F.col("pos") + 1).cast("int").alias("crank"),
    ]
    if include_vec:
        cols.append(F.col(vec_col))
    if include_resid:
        cols.append(
            F.zip_with(
                F.col(vec_col), F.col("p")["cv"],
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("resid")
        )
    return top.select(*cols)


def join_pairs(tagged, id_col, vec_col, threshold):
    """``semantic._pairs_grouped``'s contract as the cell-keyed
    self-join with a per-pair HOF cosine — the reference the per-cell
    GEMM form must equal, emitted rounded sims included."""

    def side(i, v, n):
        return tagged.select(
            F.col(id_col).alias(i),
            F.col("centroid_id").alias("cell_id"),
            F.col(vec_col).alias(v),
            F.col("nrm").alias(n),
        )

    return (
        side("id_a", "va", "na")
        .join(side("id_b", "vb", "nb"), on="cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell_id",
            "id_a",
            "id_b",
            F.round(
                _safe_div(_dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def gemm_and_hof(monkeypatch, build, key=tuple):
    """Sorted rows of ``build()`` with the production assign, then with
    the HOF reference swapped in."""
    gemm = sorted(map(key, build().collect()))
    monkeypatch.setattr(ASSIGN, "assign_topn", hof_assign_topn)
    return gemm, sorted(map(key, build().collect()))


def grouped_and_join(monkeypatch, df, **kw):
    """Sorted SemDeDup removed sets with the production pair stage,
    then with the self-join reference swapped in."""
    grouped = sorted(map(tuple, SEM.semantic_dedup_removed(df, **kw).collect()))
    monkeypatch.setattr(SEM, "_pairs_grouped", join_pairs)
    return grouped, sorted(
        map(tuple, SEM.semantic_dedup_removed(df, **kw).collect())
    )


@pytest.fixture(scope="module")
def adversarial_vecs(spark):
    """400 synthetic doubles: every 17th is all-zero (NULL cosine),
    every 5th duplicates another id's vector exactly (rounded-cosine
    ties → centroid-id tiebreaks), the rest carry ±1e-9 perturbations
    (forces the GEMM path's exact tie-band recompute)."""
    return spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.expr(
            """
            CASE
              WHEN id % 17 = 0 THEN transform(sequence(1,64), j -> 0.0D)
              WHEN id % 5 = 0 THEN transform(sequence(1,64), j ->
                cast(conv(substr(md5(concat(cast(cast(id/5 as bigint)*5 as string),
                  chr(35), cast(j as string))),1,8),16,10) as double)/2147483648.0 - 1.0)
              ELSE transform(sequence(1,64), j ->
                cast(conv(substr(md5(concat(cast(id as string), chr(35),
                  cast(j as string))),1,8),16,10) as double)/2147483648.0 - 1.0
                + cast(id % 3 as double) * 1e-9)
            END"""
        ).alias("embedding"),
    ).cache()


@pytest.fixture(scope="module")
def null_vecs(spark, adversarial_vecs):
    """``adversarial_vecs`` plus 20 NULL embeddings (ids -20..-1).  The
    sampled centroid table holds none of them at 8 centroids, id -4 at
    16 and 24 (then the smallest centroid id, which every all-NULL-
    cosine row picks first), and -15/-10/-4 at 64."""
    nulls = spark.range(-20, 0).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    return adversarial_vecs.unionByName(nulls).cache()


@pytest.mark.parametrize("k,nprobe", [(8, 1), (32, 2), (16, 5), (64, 3)])
def test_gemm_assign_matches_hof_on_real_embeddings(
    spark, emb, monkeypatch, k, nprobe
):
    g, h = gemm_and_hof(
        monkeypatch, lambda: IVF._cells(emb, "vec_id", "embedding", k, nprobe)
    )
    assert g == h


@pytest.mark.parametrize("k,nprobe", [(8, 1), (50, 2), (64, 4)])
def test_gemm_assign_matches_hof_adversarial(
    spark, adversarial_vecs, monkeypatch, k, nprobe
):
    g, h = gemm_and_hof(
        monkeypatch,
        lambda: IVF._cells(adversarial_vecs, "vec_id", "embedding", k, nprobe),
    )
    assert g == h


@pytest.mark.parametrize("k,nprobe", [(8, 1), (24, 2), (64, 4)])
def test_gemm_assign_matches_hof_null_vecs(spark, null_vecs, monkeypatch, k, nprobe):
    """NULL vectors take the centroid-id-ordered cells; a NULL
    centroid's cosine is NULL, so it ranks behind every finite one."""
    g, h = gemm_and_hof(
        monkeypatch,
        lambda: IVF._cells(null_vecs, "vec_id", "embedding", k, nprobe, carry_vec=True),
        key=lambda r: (r[0], r[1], r[2], None if r[3] is None else tuple(r[3]), r[4]),
    )
    assert g == h
    assert len(g) == 420 * nprobe


def _resid_key(r):
    return (
        r["vec_id"], r["cell_id"], None if r["resid"] is None else tuple(r["resid"])
    )


def test_gemm_resid_matches_hof(spark, adversarial_vecs, monkeypatch):
    """The IVF-PQ assignment+residual path: winner AND the exact
    (v − centroid) doubles must agree element-for-element."""
    cents = IVF.centroids(adversarial_vecs, "vec_id", "embedding", 24)
    g, h = gemm_and_hof(
        monkeypatch,
        lambda: PQ._assign_with_centroid(
            adversarial_vecs, cents, "vec_id", "embedding"
        ),
        key=_resid_key,
    )
    assert g == h


def test_gemm_resid_matches_hof_null_vecs(spark, null_vecs, monkeypatch):
    """A NULL vector, or a vector whose winning centroid is NULL, has a
    NULL residual."""
    cents = IVF.centroids(null_vecs, "vec_id", "embedding", 24)
    g, h = gemm_and_hof(
        monkeypatch,
        lambda: PQ._assign_with_centroid(null_vecs, cents, "vec_id", "embedding"),
        key=_resid_key,
    )
    assert g == h
    null_resid = {r[0] for r in g if r[2] is None}
    assert set(range(-20, 0)) < null_resid  # zero vectors pick NULL centroid -4


def test_gemm_assign_rejects_bad_vectors(spark, adversarial_vecs):
    """A vector of the wrong length fails its task naming the id; a
    centroid table with no vector at all fails at plan build."""
    short = spark.createDataFrame(
        [(7, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    cents = IVF.centroids(adversarial_vecs, "vec_id", "embedding", 8)
    with pytest.raises(Exception, match="vec_id=7 has length 3, centroids have length 64"):
        ASSIGN.assign_topn(short, cents).collect()
    all_null = cents.select(
        "centroid_id",
        F.lit(None).cast("array<double>").alias("cv"),
        F.lit(None).cast("double").alias("cn"),
    )
    with pytest.raises(ValueError, match="every centroid vector is NULL"):
        ASSIGN.assign_topn(adversarial_vecs, all_null)


def test_round6_scaled_matches_spark_round(spark, emb):
    """The tie-band's Python rounding must reproduce Spark's round(x,6)
    (BigDecimal HALF_UP on the shortest decimal) — checked on every
    pairwise cosine of the real embeddings plus boundary literals."""
    from hadoop_20_warehouse_spark.similarity.assign import _round6_scaled
    from hadoop_20_warehouse_spark.similarity.knn import _dot, _norm, _safe_div

    a = emb.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    sims = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .select(
            _safe_div(_dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
            .alias("sim")
        )
        .filter(F.col("sim").isNotNull())
        .select("sim", F.round(F.col("sim"), 6).alias("r6"))
    )
    for row in sims.collect():
        assert _round6_scaled(row["sim"]) == round(row["r6"] * 1e6), row["sim"]
    for lit in [0.0000005, -0.0000005, 0.1234565, 1.0, -1.0, 0.9999995]:
        got = _round6_scaled(lit)
        want = spark.sql(f"SELECT round({lit!r}D, 6) AS r").collect()[0]["r"]
        assert got == round(want * 1e6), lit


def test_train_centroids_gemm_matches_hof(spark, emb, monkeypatch):
    g, h = gemm_and_hof(
        monkeypatch,
        lambda: IVF.train_centroids(emb, k=16, iters=2),
        key=lambda r: (r["centroid_id"], tuple(r["cv"]), r["cn"]),
    )
    assert g == h


@pytest.mark.parametrize("cells,tau", [(32, 0.35), (8, 0.2)])
def test_semantic_pairs_grouped_matches_join(spark, emb, monkeypatch, cells, tau):
    """The per-cell-GEMM pairwise stage must reproduce the self-join
    form exactly — including the emitted rounded sim doubles, which
    the oracle hashes."""
    g, j = grouped_and_join(monkeypatch, emb, num_cells=cells, threshold=tau)
    assert g == j


def test_semantic_pairs_grouped_matches_join_adversarial(
    spark, adversarial_vecs, monkeypatch
):
    g, j = grouped_and_join(
        monkeypatch, adversarial_vecs, num_cells=24, threshold=0.3
    )
    assert g == j


def test_semantic_pairs_grouped_matches_join_null_vecs(spark, null_vecs, monkeypatch):
    """NULL-vector rows pair with nothing (their cosine is NULL)."""
    g, j = grouped_and_join(monkeypatch, null_vecs, num_cells=24, threshold=0.3)
    assert g == j
    assert g and all(r[0] >= 0 and r[2] >= 0 for r in g)


# ---------------------------------------------------------------------------
# Batched scoring kernels (similarity/scores.py) vs their HOF forms


def test_plane_signs_matches_hof(spark, emb, adversarial_vecs):
    from hadoop_20_warehouse_spark.similarity import scores as SC

    for df in (emb, adversarial_vecs):
        h = EMB.sign_buckets(df, "vec_id", "embedding", 4, 8, 64)
        g = SC.plane_signs(df, "vec_id", "embedding", 4, 8, 64)
        assert sorted(map(tuple, h.collect())) == sorted(map(tuple, g.collect()))


def hof_brute_topk(corpus, queries, id_col="vec_id", vec_col="embedding", k=10):
    """``knn.brute_force_topk``'s contract as the crossJoin of the
    corpus with the broadcast query set, cosine folded per pair by the
    interpreted HOFs (norms once per row), ranked by a per-query
    window — the reference the GEMM scorer must equal."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("nn"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
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


def test_brute_topk_gemm_matches_hof(spark, emb, adversarial_vecs, null_vecs):
    """Includes the NULL-cosine tail: the adversarial frame's zero
    vectors produce all-NULL queries whose top-k is the NULLS-LAST
    neighbor-id order, and ``null_vecs`` adds NULL embeddings on both
    the query and the corpus side (they score as zero vectors), also
    as a query set with no vector at all."""
    for df, pred in (
        (emb, "vec_id % 50 = 0"),
        (adversarial_vecs, "vec_id % 50 = 0"),
        (null_vecs, "vec_id % 50 = 0 OR vec_id IN (-14, -7)"),
        (null_vecs, "vec_id IN (-14, -7)"),
    ):
        q = df.filter(pred)
        h = hof_brute_topk(df, q, k=5)
        g = brute_force_topk(df, q, k=5)
        assert sorted(map(tuple, h.collect())) == sorted(map(tuple, g.collect()))


def test_brute_topk_rejects_wrong_length(spark):
    """A corpus vector of another length than the queries' fails its
    task naming the id and both lengths; a query set of mixed lengths
    fails at plan build."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]), (7, [1.0, 2.0, 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    msg = "vec_id=7 has length 3, query vectors have length 4"
    with pytest.raises(Exception, match=msg):
        brute_force_topk(df, df.filter("vec_id = 1"), k=2).collect()
    with pytest.raises(ValueError, match=msg):
        brute_force_topk(df, df, k=2)


def test_lsh_grouped_matches_join(spark, emb, adversarial_vecs):
    from hadoop_20_warehouse_spark.similarity.knn import bucket_sig_column, lsh_topk
    from hadoop_20_warehouse_spark.similarity.scores import lsh_grouped_topk

    for df, k in ((emb, 5), (adversarial_vecs, 4)):
        j = lsh_topk(df, k=k)
        vecs = df.select(
            "vec_id",
            "embedding",
            _norm(F.col("embedding")).alias("nrm"),
            bucket_sig_column("embedding", 8, 64).alias("bucket"),
        )
        g = lsh_grouped_topk(vecs, "vec_id", "embedding", k)
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, g.collect()))


def test_pq_trained_codebook_improves_quantization(spark, emb):
    """The integer-Lloyd codebook must (a) keep the pq_codebook shape
    so encode/scan consume it unchanged, (b) strictly reduce total
    quantization error vs the sampled seeds it starts from."""
    from hadoop_20_warehouse_spark.similarity import pq as PQ

    cb_s = PQ.pq_codebook(emb)
    cb_t = PQ.pq_train_codebook(emb, iters=2)
    row = cb_t.collect()[0]["cb"]
    assert len(row) == PQ.DEFAULT_M
    assert all(len(r) == PQ.DEFAULT_K for r in row)

    def qerr(cb):
        sub = 64 // PQ.DEFAULT_M
        d = PQ._sqdist_u_sql_spark(
            f"slice(embedding, s * {sub} + 1, {sub})", "cb[s][j]"
        )
        e = emb.crossJoin(F.broadcast(cb)).select(
            F.expr(
                f"aggregate(transform(sequence(0, {PQ.DEFAULT_M - 1}), s -> "
                f"array_min(transform(sequence(0, size(cb[s]) - 1), j -> "
                f"struct({d} as du, j as code))).du), cast(0 as bigint), "
                "(a, v) -> a + v)"
            ).alias("e")
        )
        return e.agg(F.sum("e")).collect()[0][0]

    es, et = qerr(cb_s), qerr(cb_t)
    assert et < es, f"training did not reduce quantization error: {et} vs {es}"


def test_gemm_kernels_degenerate_inputs(spark, emb):
    from hadoop_20_warehouse_spark.similarity import assign as ASSIGN
    from hadoop_20_warehouse_spark.similarity import scores as SC

    empty_cents = IVF.centroids(emb, "vec_id", "embedding", 5).filter(
        F.lit(False)
    )
    with pytest.raises(ValueError, match="empty centroid table"):
        ASSIGN.assign_topn(emb, empty_cents)
    empty_q = emb.filter(F.lit(False))
    out = SC.brute_topk(emb, empty_q, "vec_id", "embedding", 5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "sim", "rank",
    ]


def test_gemm_collect_caps_enforced(spark, emb, monkeypatch):
    """The driver-side query collect is bounded per pass by contract
    AND enforcement: a query set above the cap splits into md5-sliced
    passes instead of collecting it whole, and a slice that still
    exceeds the cap raises instead of silently pressuring driver
    memory.  The cap is a module constant precisely so this is
    testable without materializing a million rows."""
    from hadoop_20_warehouse_spark.similarity import scores as SC

    big_q = emb.limit(11)
    monkeypatch.setattr(SC, "MAX_QUERY_ROWS", 10_000)
    single = sorted(map(tuple, SC.brute_topk(emb, big_q, "vec_id", "embedding", 2).collect()))
    assert single
    monkeypatch.setattr(SC, "MAX_QUERY_ROWS", 10)
    split = SC.brute_topk(emb, big_q, "vec_id", "embedding", 2)
    assert sorted(map(tuple, split.collect())) == single
    # one query per pass: 11 md5 slices of 11 ids collide, so some
    # slice holds two queries and its collect exceeds the cap
    monkeypatch.setattr(SC, "MAX_QUERY_ROWS", 1)
    with pytest.raises(ValueError, match="exceeds 1 rows"):
        SC.brute_topk(emb, big_q, "vec_id", "embedding", 2)


def test_gemm_chunked_passes_match_single(spark, emb, monkeypatch):
    """A query set above the cap runs as disjoint md5 query slices,
    one bounded pass each, and the union must equal the single-pass
    GEMM form exactly."""
    from hadoop_20_warehouse_spark.similarity import scores as SC

    df = emb.limit(120)
    q = df.filter(F.expr("vec_id % 10 = 0"))
    single_t = SC.brute_topk(df, q, "vec_id", "embedding", 4)
    monkeypatch.setattr(SC, "MAX_QUERY_ROWS", 8)
    multi_t = SC.brute_topk(df, q, "vec_id", "embedding", 4)
    assert sorted(map(tuple, single_t.collect())) == sorted(
        map(tuple, multi_t.collect())
    )


def test_embedding_outlier_filter_flags_planted_and_keeps_quota(spark, tmp_path):
    """embedding_outlier_filter: a planted far-from-centroid vector
    ranks first in its label; per-label output size is exactly
    ceil(n/100); the salted two-phase top-K equals a naive Python
    rank over exact integer deviations."""
    import random as _r

    from hadoop_20_warehouse_spark.inventory_llm import (
        q_embedding_outlier_filter,
    )

    rng = _r.Random(7)
    rows = []
    # label 0: 150 tight vectors near e1, one planted outlier at -e1
    for i in range(150):
        v = [0.0] * 64
        v[0] = 1.0
        v[1] = rng.uniform(-0.01, 0.01)
        rows.append((i, v, 0))
    planted = [0.0] * 64
    planted[0] = -1.0
    rows.append((999, planted, 0))
    # label 1: 30 vectors near e2
    for i in range(200, 230):
        v = [0.0] * 64
        v[2] = 1.0
        v[3] = rng.uniform(-0.01, 0.01)
        rows.append((i, v, 1))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = q_embedding_outlier_filter(spark, str(tmp_path)).collect()
    by_label: dict[int, list] = {}
    for r in got:
        by_label.setdefault(r.label, []).append(r)
    # ceil(151/100)=2 for label 0, ceil(30/100)=1 for label 1
    assert len(by_label[0]) == 2 and len(by_label[1]) == 1
    top0 = min(by_label[0], key=lambda r: r.rk)
    assert top0.vec_id == 999 and top0.rk == 1
    assert top0.ratio_milli > 1000  # far above the label mean

    # python reference over exact integer deviations
    import collections

    def quant(x):
        return int(round(float(x) * 1000000))

    per = collections.defaultdict(list)
    for vid, v, lab in rows:
        per[lab].append((vid, [quant(x) for x in v]))
    want = set()
    for lab, vs in per.items():
        n = len(vs)
        sx = [sum(v[p] for _, v in vs) for p in range(64)]
        devs = sorted(
            (-sum(abs(n * v[p] - sx[p]) for p in range(64)), vid)
            for vid, v in vs
        )
        k = (n + 99) // 100
        want |= {(lab, vid) for _, vid in devs[:k]}
    assert {(r.label, r.vec_id) for r in got} == want


def test_eval_sample_never_picks_two_near_dups(spark, tmp_path):
    """eval_sample_dedup_aware on a corpus with planted dup clusters:
    the draw must contain at most ONE doc per near-dup cluster, pick
    each cluster's most complete member, and give singletons one
    ticket each."""
    from hadoop_20_warehouse_spark.dedup.minhash import minhash_lsh_pairs
    from hadoop_20_warehouse_spark.inventory_llm import (
        q_eval_sample_dedup_aware,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to find some food for winter"
    )
    docs = []
    # cluster A: 6 near-identical copies, one extended (most complete)
    for i in range(5):
        docs.append((i, base + f" copy{i}", "en", "s", 1))
    docs.append((5, base + " copy5 with extra trailing words here", "en", "s", 1))
    # singletons: clearly distinct texts
    for j in range(40):
        docs.append(
            (100 + j,
             f"document number {j} speaks about topic {j * 7} with words "
             f"alpha{j} beta{j} gamma{j} delta{j} epsilon{j} zeta{j} "
             f"eta{j} theta{j} iota{j} kappa{j}",
             "en", "s", 1)
        )
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    # the planted cluster must actually band together
    pairs = minhash_lsh_pairs(df, "doc_id", "text")
    clustered = {r.id_a for r in pairs.collect()} | {
        r.id_b for r in pairs.collect()
    }
    assert {0, 1, 2, 3, 4, 5} <= clustered

    got = q_eval_sample_dedup_aware(spark, str(tmp_path)).collect()
    picked = [r.doc_id for r in got]
    from_cluster = [d for d in picked if d <= 5]
    assert len(from_cluster) <= 1
    if from_cluster:
        assert from_cluster == [5]  # the most complete copy
        row = next(r for r in got if r.doc_id == 5)
        assert row.n_members == 6
    # every pick is unique and ranks are dense from 1
    assert sorted(r.rk for r in got) == list(range(1, len(got) + 1))


@pytest.mark.parametrize("with_jaccard", [True, False])
def test_minhash_band_frame_computed_once_per_call(spark, sf_dir, with_jaccard):
    """Both sides of the band self-join read ONE hash-partitioned band
    frame: AQE's final plan reuses its exchange, and the signature
    projection appears once (not once per side, and not through a
    cache that outlives the call)."""
    from hadoop_20_warehouse_spark.dedup.minhash import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", with_jaccard=with_jaccard)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    assert "InMemoryTableScan" not in final, final
    sig_projections = [ln for ln in final.splitlines() if "array_min(transform(" in ln]
    assert len(sig_projections) == 1, final
