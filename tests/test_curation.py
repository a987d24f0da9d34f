"""Curation-operator specifics beyond the oracle gate: signal checks
(flags actually vary), trained-k-means shape/determinism, and the
plug-in contract between train_centroids and ivf_topk."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.inventory import QUERIES
from hadoop_20_warehouse_spark.similarity.ivf import ivf_topk, train_centroids


def test_repetition_flag_has_signal(spark, sf_dir):
    out = QUERIES["text_repetition_stats"](spark, sf_dir)
    flags = {r.is_repetitive for r in out.select("is_repetitive").distinct().collect()}
    assert flags == {True, False}, "repetition flag should split the corpus"


def test_top_freq_null_and_empty_arrays_yield_zero(spark):
    """The documented '0 for empty/NULL' contract (ADVICE r3): the
    oracle COALESCEs to 0, so a NULL text column must not propagate
    NULL through the F.aggregate run-length pass."""
    from hadoop_20_warehouse_spark.inventory_curation import _top_freq

    df = spark.createDataFrame(
        [(1, ["a", "b", "a"]), (2, []), (3, None)],
        "id int, toks array<string>",
    )
    rows = {
        r.id: r.top
        for r in df.select("id", _top_freq(F.col("toks")).alias("top")).collect()
    }
    assert rows == {1: 2, 2: 0, 3: 0}


def test_decontaminate_finds_overlap(spark, sf_dir):
    out = QUERIES["decontaminate_ngram"](spark, sf_dir)
    rows = out.collect()
    assert rows, "eval/train trigram overlap should be non-empty"
    assert all(0 < r.frac_contaminated <= 1.0 for r in rows)
    assert all(r.doc_id % 20 != 0 for r in rows), "eval docs must not be flagged"


def test_scrub_digest_matches_rebuilt_text(spark, sf_dir):
    out = QUERIES["text_stopword_scrub"](spark, sf_dir)
    assert out.filter(F.col("n_removed") > 0).count() > 0
    # n_removed + n_kept == token count
    docs = load_table(spark, sf_dir, "documents")
    from hadoop_20_warehouse_spark.functions.text import token_count

    n = docs.select(token_count("text").alias("n"), "doc_id")
    bad = (
        out.join(n, on="doc_id")
        .filter(F.col("n_removed") + F.col("n_kept") != F.col("n"))
        .count()
    )
    assert bad == 0


def test_sample_fixed_k_stable_and_exact(spark, sf_dir):
    a = {r.doc_id for r in QUERIES["sample_fixed_k"](spark, sf_dir).collect()}
    b = {r.doc_id for r in QUERIES["sample_fixed_k"](spark, sf_dir).collect()}
    assert a == b and len(a) == 100


def test_quantize_codes_in_int8_range(spark, sf_dir):
    out = QUERIES["embedding_quantize_int8"](spark, sf_dir)
    bad = out.filter((F.col("q_min") < -128) | (F.col("q_max") > 127)).count()
    assert bad == 0
    assert out.filter(F.col("q_max") == 127).count() > 0, (
        "the max-|v| dimension must hit the top code when positive"
    )


def test_train_centroids_shape_and_plugin(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, k=8, iters=2)
    rows = cents.collect()
    assert len(rows) == 8
    d = emb.select(F.size("embedding").alias("d")).first().d
    assert all(len(r.cv) == d for r in rows)
    # centroid count is O(k), not O(n): double the corpus, same k
    doubled = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100000))
    assert train_centroids(doubled, k=8, iters=1).count() == 8
    # plug-in contract: trained table drives the same search plan
    out = ivf_topk(emb, k=3, cents=cents)
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    assert out.groupBy("query_id").count().agg(F.max("count")).first()[0] <= 3


def test_ivf_trained_invariant_row(spark, sf_dir):
    """The registered query emits the pipeline's exact invariants
    (float-independent, hence oracle-checkable): k, the assignment
    total == corpus count, and the deterministic init-seed digest."""
    out = QUERIES["knn_ivf_trained"](spark, sf_dir).collect()
    assert len(out) == 1
    row = out[0]
    assert row.k_requested == 16
    emb = load_table(spark, sf_dir, "embeddings")
    assert row.n_vectors == emb.count()
    assert len(row.seed_digest) == 32
    # digest is stable run-to-run (deterministic seed selection)
    again = QUERIES["knn_ivf_trained"](spark, sf_dir).first()
    assert again.seed_digest == row.seed_digest


def test_corpus_export_roundtrip_is_deterministic(spark, sf_dir):
    """The export write+readback must be bit-reproducible: two full
    invocations (two writes, two readbacks) produce identical audit
    rows — the property the driver's oracle hash-match relies on, here
    pinned at test scale including the physical write path. Also pins
    the fan-out contract: shard ids stay within [0, n_shards)."""
    from hadoop_20_warehouse_spark.inventory_curation import (
        _PACK_SHARDS,
        q_corpus_export_roundtrip,
    )

    a = {r.shard: r.asDict() for r in q_corpus_export_roundtrip(spark, sf_dir).collect()}
    b = {r.shard: r.asDict() for r in q_corpus_export_roundtrip(spark, sf_dir).collect()}
    assert a == b
    assert a, "export produced no shards"
    assert set(a) <= set(range(_PACK_SHARDS))
    for row in a.values():
        assert row["n_slices"] >= row["n_docs"] > 0
        assert row["total_tokens"] > 0
        assert 0 <= row["first_pos"] <= row["last_pos"]


def test_bad_files_skip_drops_only_the_corrupt_bucket(spark, sf_dir):
    """ignoreCorruptFiles must lose exactly the truncated file: the
    corrupted bucket (3) is absent, every other bucket survives with
    its full row count."""
    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.inventory_ext import q_bad_files_skip

    rows = {r.bucket: r.n_orders for r in q_bad_files_skip(spark, sf_dir).collect()}
    assert 3 not in rows
    orders = load_table(spark, sf_dir, "orders")
    want = {
        r.bucket: r.n
        for r in orders.groupBy((F.col("o_orderkey") % 4).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r.bucket != 3
    }
    assert rows == want


def test_mixture_sample_budget_bounds(spark):
    """Greedy fill contract: per domain, kept tokens reach the budget
    but never exceed budget + (crossing doc's length - 1); a domain
    with fewer tokens than budget keeps everything; domains without a
    budget are dropped; offsets are dense (sorted start_offs chain
    start + len = next start)."""
    from hadoop_20_warehouse_spark.dedup.spans import mixture_sample

    rows = [
        (i, "a" if i % 3 else "b", "tok " * (3 + i % 5)) for i in range(60)
    ] + [(100 + j, "c", "x y z") for j in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"a": 50, "b": 10_000}
    out = mixture_sample(docs, budgets, n_shards=4).collect()
    assert all(r.source in budgets for r in out)  # "c" dropped
    by_dom = {}
    for r in out:
        by_dom.setdefault(r.source, []).append(r)
    # "b" holds fewer tokens than its budget: every doc kept
    assert len(by_dom["b"]) == sum(1 for i in range(60) if i % 3 == 0)
    # "a": filled to the budget, crossing doc included
    a = sorted(by_dom["a"], key=lambda r: r.start_off)
    total = sum(r.tok_len for r in a)
    assert total >= 50 and a[-1].start_off < 50
    assert total < 50 + max(r.tok_len for r in a)
    # dense offsets within each domain
    for dom_rows in by_dom.values():
        ordered = sorted(dom_rows, key=lambda r: r.start_off)
        for prev, nxt in zip(ordered, ordered[1:]):
            assert prev.start_off + prev.tok_len == nxt.start_off


def test_epoch_expand_copy_semantics(spark):
    """Integer factors repeat exactly; fractional factors keep the
    md5-fraction within per-mille tolerance in expectation (here:
    deterministic per-id, so just bound the share); factor < 1 drops
    the complement; epochs number 0..n-1 densely."""
    from hadoop_20_warehouse_spark.dedup.spans import epoch_expand

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_expand(
        docs.withColumn("text", F.lit("x")), {"a": 3.0, "b": 0.5}
    ).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault((r.doc_id, r.source), []).append(r.epoch)
    for (doc, src), epochs in per_doc.items():
        assert sorted(epochs) == list(range(len(epochs)))
        if src == "a":
            assert len(epochs) == 3
        elif src == "c":  # default 1 epoch
            assert len(epochs) == 1
        else:
            assert len(epochs) == 1
    n_b_in = sum(1 for _, s in rows if s == "b")
    n_b_kept = sum(1 for (_, s) in per_doc if s == "b")
    assert 0.3 * n_b_in < n_b_kept < 0.7 * n_b_in  # ~half survive
    with pytest.raises(ValueError):
        epoch_expand(docs, {"a": 0.0})


def test_boilerplate_scrub_kills_every_copy(spark):
    """The threshold semantics vs span dedup: a chunk in more than
    max_docs docs disappears from ALL of them (first occurrence
    included); rarer chunks survive everywhere; a doc that is pure
    boilerplate survives as a row with n_removed == n_chunks."""
    from hadoop_20_warehouse_spark.dedup.spans import boilerplate_scrub

    common = "the quick brown fox"
    rows = (
        [(i, f"{common} uniq{i} a b c") for i in range(4)]  # common in 4 docs
        + [(10, "rare pair chunk here extra words too"),
           (11, "rare pair chunk here other tail words"),   # shared by only 2
           (12, common)]                                    # pure boilerplate
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in boilerplate_scrub(
        docs, chunk_w=4, max_docs=2, keep_text=True).collect()}
    for i in range(4):
        assert out[i].n_removed == 1 and common not in out[i].clean_text
    assert out[10].n_removed == 0 and out[11].n_removed == 0
    assert out[12].n_removed == out[12].n_chunks == 1
    assert out[12].clean_text == ""


def test_substring_dedup_overlapping_semantics(spark):
    """Unaligned repeats are caught at any offset (the case aligned
    chunk dedup misses), the first occurrence survives, coverage is
    per-token, and short/fully-duplicated docs behave: a doc shorter
    than the window emits no windows (nothing removed), and an exact
    copy of another doc is removed wholesale."""
    import hashlib

    from hadoop_20_warehouse_spark.dedup.spans import (
        substring_dedup_overlapping,
    )

    W = 4
    run = "alpha beta gamma delta"  # the repeated 4-token span
    rows = [
        (1, f"{run} one two three"),          # first occurrence: kept whole
        (2, f"zero {run} tail1 tail2"),       # repeat at offset 1: span removed
        (3, run),                              # exact repeat: fully removed
        (4, "short doc"),                      # < W tokens: untouched
        (5, "all these tokens are unique here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           substring_dedup_overlapping(docs, window_w=W).collect()}

    def digest(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert out[1].n_removed == 0 and out[1].kept_digest == digest(
        f"{run} one two three")
    # doc 2: window at pos 1 duplicates doc 1's pos 0 -> tokens 1..4 go
    assert out[2].n_removed == W
    assert out[2].kept_digest == digest("zero tail1 tail2")
    assert out[3].n_removed == out[3].n_tokens == W
    assert out[3].kept_digest == digest("")
    assert out[4].n_removed == 0 and out[4].kept_digest == digest("short doc")
    assert out[5].n_removed == 0


def test_substring_dedup_matches_python_model(spark):
    """Brute-force Python model on a small synthetic corpus with heavy
    overlap: every (doc, pos) window is keyed; non-first windows mark
    their covered positions; kept text = uncovered tokens in order."""
    import hashlib

    from hadoop_20_warehouse_spark.dedup.spans import (
        substring_dedup_overlapping,
    )

    W = 3
    vocab = ["a", "b", "c", "d"]
    rows = []
    for d in range(12):
        toks = [vocab[(d * 7 + j * 5 + j * j) % len(vocab)] for j in range(d % 9)]
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    first: dict[tuple, tuple] = {}
    for d, text in sorted(rows):
        toks = text.split()
        for i in range(len(toks) - W + 1):
            first.setdefault(tuple(toks[i : i + W]), (d, i))
    want = {}
    for d, text in rows:
        toks = [t for t in text.split() if t]
        if not toks:
            continue
        removed = set()
        for i in range(len(toks) - W + 1):
            if first[tuple(toks[i : i + W])] != (d, i):
                removed |= set(range(i, i + W))
        kept = " ".join(t for j, t in enumerate(toks) if j not in removed)
        want[d] = (len(toks), len(removed),
                   hashlib.md5(kept.encode()).hexdigest())

    got = {r.doc_id: (r.n_tokens, r.n_removed, r.kept_digest)
           for r in substring_dedup_overlapping(docs, window_w=W).collect()}
    assert got == want


def test_incremental_apply_equals_full_on_all_delta_classes(spark, tmp_path):
    """Library-form build_curated_store / apply_incremental_curate:
    with added, removed, changed AND unchanged docs between releases,
    the stitched result must equal the full recompute of the new
    release row-for-row (the equivalence the registered query's
    DuckDB oracle checks; here on the library surface directly,
    including that removed docs drop out and stored rows are reused
    verbatim)."""
    from hadoop_20_warehouse_spark.incremental import (
        apply_incremental_curate,
        build_curated_store,
        curate_redact_gate,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    v1 = docs(
        [(i, f"doc number {i} with several plain tokens here") for i in range(1, 11)]
    )
    v2_rows = (
        [(i, f"doc number {i} with several plain tokens here") for i in (1, 2, 4, 6, 7, 8, 9, 10)]  # unchanged (3 removed)
        + [(5, "doc number 5 REWRITTEN text with several plain tokens")]  # changed
        + [(11, "a brand new doc with enough tokens to pass")]  # added
    )
    v2 = docs(v2_rows)
    store_path = str(tmp_path / "store")
    build_curated_store(v1, store_path)
    store = spark.read.parquet(store_path)
    got = {
        r.doc_id: (r.tok_len, r.passed, r.curated_digest)
        for r in apply_incremental_curate(v2, store).collect()
    }
    want = {
        r.doc_id: (r.tok_len, r.passed, r.curated_digest)
        for r in curate_redact_gate(
            v2.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        ).collect()
    }
    assert got == want
    assert 3 not in got and 11 in got and len(got) == 10


def test_hashed_classifier_weights_and_score_contract(spark, sf_dir):
    """functions/text.py hashed classifier: weight vector is CLS_DIM
    milli-units in [-1000, 1000]; per-doc score is the sigmoid of the
    integer raw sum; keep matches the rounded-score cut; and the whole
    query plans with no KEYED shuffle (broadcast weights + row-local
    HOFs — classifier inference must not exchange the corpus by key).
    The r19 scatter adds a round-robin REPARTITION_BY_NUM exchange on
    single-task local scans (the pricing_summary plan-pin precedent:
    scatter is a no-op on well-split production inputs, so the
    production plan stays exchange-free)."""
    from hadoop_20_warehouse_spark.functions import text as T
    from hadoop_20_warehouse_spark.inventory_curation import (
        q_text_quality_classifier,
    )

    w = spark.range(1).select(T.hashed_weight_array().alias("w")).collect()[0]["w"]
    assert len(w) == T.CLS_DIM
    assert all(-1000 <= x <= 1000 for x in w)
    assert len(set(w)) > 1, "degenerate weight vector"

    df = q_text_quality_classifier(spark, sf_dir)
    import math

    rows = df.collect()
    assert rows
    for r in rows:
        want = round(1.0 / (1.0 + math.exp(-(r.raw_milli / (1000.0 * r.n_tokens)))), 6)
        assert abs(r.score - want) < 1e-9, (r.doc_id, r.score, want)
        assert r.keep == (r.score >= 0.5)

    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # After the collect, AQE prints the final plan and then the initial
    # one; only the final plan ran.
    final = plan.split("== Initial Plan ==")[0]
    exchanges = [
        ln for ln in final.splitlines()
        if re.search(r"\bExchange\b", ln) and "Broadcast" not in ln
    ]
    scatter = [ln for ln in exchanges if "RoundRobinPartitioning" in ln]
    assert len(scatter) <= 1, f"more than the one scatter exchange: {scatter}"
    assert exchanges == scatter, (
        f"classifier inference must not shuffle by key: {exchanges}"
    )


@pytest.mark.parametrize("form", ["stream_query", "pruned_sum"])
def test_classifier_weights_built_once_outside_token_fold(spark, sf_dir, form):
    """The classifier's weight vector is a one-row relation joined to the
    documents, so its md5 derivation appears ONCE in the optimized plan,
    below the join and outside the per-token ``aggregate`` fold.  A
    weight array added with ``withColumn`` is not constant-folded: it is
    rebuilt per row, and under a consumer that prunes columns Catalyst
    inlines it into the fold, rebuilding it per token.  ``stream_query``
    is the registered stream gate; ``pruned_sum`` sums raw_milli, so
    only the fold's output survives pruning."""
    if form == "stream_query":
        from hadoop_20_warehouse_spark.inventory_streaming import (
            q_stream_classifier_gate,
        )

        df = q_stream_classifier_gate(spark, sf_dir)
    else:
        from hadoop_20_warehouse_spark.functions.text import classifier_scores

        docs = load_table(spark, sf_dir, "documents")
        df = classifier_scores(docs, "doc_id").agg(F.sum("raw_milli"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    assert any(ln.lstrip(":+- ").startswith("Join ") for ln in lines), plan
    assert any("Range (0, 1," in ln for ln in lines), plan
    weight = [ln for ln in lines if "concat(qw" in ln]
    assert len(weight) == 1 and plan.count("concat(qw") == 1, plan
    assert "aggregate(" not in weight[0] and " AS w#" in weight[0], weight[0]


def test_chunk_sliding_windows_python_model(spark):
    """Sliding chunking against a literal python model on edge shapes:
    empty (dropped), 1 token, exactly window, window+1, window+stride,
    long — chunk count, starts, lengths, digests, tail reach, and the
    window-stride overlap all reproduce."""
    import hashlib

    from pyspark.sql import Row

    from hadoop_20_warehouse_spark.dedup.spans import chunk_sliding_windows

    W, S = 5, 3
    docs = {
        1: "",
        2: "a",
        3: "a b c d e",            # == W  -> 1 chunk
        4: "a b c d e f",          # W+1   -> 2 chunks
        5: "a b c d e f g h",      # W+S   -> 2 chunks
        6: " ".join(f"t{i}" for i in range(17)),
    }
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs.items()])
    got = sorted(
        (r.doc_id, r.chunk_idx, r.start_tok, r.n_chunk_tokens, r.chunk_digest)
        for r in chunk_sliding_windows(df, window=W, stride=S).collect()
    )

    want = []
    for i, t in docs.items():
        toks = [x for x in t.split() if x]
        n = len(toks)
        if n == 0:
            continue
        nc = 1 if n <= W else 1 + -(-(n - W) // S)
        for c in range(nc):
            sl = toks[c * S : c * S + W]
            want.append(
                (
                    i,
                    c,
                    c * S + 1,
                    len(sl),
                    hashlib.md5(" ".join(sl).encode()).hexdigest(),
                )
            )
    assert got == sorted(want)
    # tail chunk of every multi-chunk doc reaches the last token
    for i, t in docs.items():
        toks = [x for x in t.split() if x]
        mine = [g for g in got if g[0] == i]
        if mine:
            last = max(mine, key=lambda g: g[1])
            assert last[2] + last[3] - 1 == len(toks)


def test_collocations_pmi_matches_python_reference(spark, tmp_path):
    """text_collocations_pmi vs a pure-Python PMI over a corpus built
    so several pairs clear the support floor: counts, milli-nat PMI
    values, and the deterministic (pmi desc, pair) ranking must all
    match exactly."""
    import math

    from hadoop_20_warehouse_spark.inventory_curation import (
        _PMI_MIN_COUNT,
        q_text_collocations_pmi,
    )

    phrases = (
        ["new york"] * 9
        + ["hot dog"] * 7
        + ["new dog"] * 5
        + ["the the"] * 6
        + ["lone pair"] * 4          # below the floor of 5
        + ["the cat sat on the mat"] * 3
    )
    docs = [(i, p, "en", "s", len(p)) for i, p in enumerate(phrases)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # python reference
    uni: dict[str, int] = {}
    bc: dict[tuple, int] = {}
    n_uni = n_big = 0
    for _i, p, *_ in docs:
        t = p.split()
        for w in t:
            uni[w] = uni.get(w, 0) + 1
            n_uni += 1
        for a, b in zip(t, t[1:]):
            bc[(a, b)] = bc.get((a, b), 0) + 1
            n_big += 1
    want = []
    for (a, b), c in bc.items():
        if c < _PMI_MIN_COUNT:
            continue
        pmi = round(
            math.log(((float(c) * n_uni) / uni[a]) * (float(n_uni) / uni[b]) / n_big)
            * 1000
        )
        want.append((a, b, c, pmi))
    want.sort(key=lambda r: (-r[3], r[0], r[1]))
    want = [(a, b, c, p, i + 1) for i, (a, b, c, p) in enumerate(want)]

    got = [
        (r.w1, r.w2, r.c_ab, r.pmi_milli, r.rk)
        for r in q_text_collocations_pmi(spark, str(tmp_path))
        .orderBy("rk")
        .collect()
    ]
    assert got == want
    assert len(got) >= 4
    assert ("lone", "pair") not in {(a, b) for a, b, *_ in got}


def test_corpus_divergence_drifted_source_spikes(spark, tmp_path):
    """corpus_divergence_by_source: a source drawn from the shared
    vocabulary scores near zero KL; a drifted source speaking its own
    vocabulary scores far higher; Gibbs' inequality holds (total KL
    >= 0) and values match a pure-Python computation."""
    import math

    from hadoop_20_warehouse_spark.inventory_curation import (
        q_corpus_divergence_by_source,
    )

    shared = "the cat sat on the mat and the dog ran"
    drift = "zorp blix quux zorp narf blix zorp"
    docs = (
        [(i, shared, "en", "clean_a", 1) for i in range(10)]
        + [(100 + i, shared, "en", "clean_b", 1) for i in range(10)]
        + [(200 + i, drift, "xx", "drifted", 1) for i in range(10)]
    )
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.source: (r.n_tokens, r.kl_sum_milli, r.kl_per_token_micro)
        for r in q_corpus_divergence_by_source(spark, str(tmp_path)).collect()
    }

    # python reference
    from collections import Counter

    occ = []
    for _i, text, _l, src, _n in docs:
        occ += [(src, w) for w in text.split()]
    sw = Counter(occ)
    cw = Counter(w for _s, w in occ)
    ns = Counter(s for s, _w in occ)
    n_tot = len(occ)
    want = {}
    for s in ns:
        kl = sum(
            c * round(math.log((float(c) * n_tot) / (float(cw[w]) * ns[s])) * 1000)
            for (s2, w), c in sw.items()
            if s2 == s
        )
        sgn = 1 if kl >= 0 else -1
        want[s] = (ns[s], kl, sgn * ((1000 * abs(kl)) // ns[s]))
    assert got == want
    # clean sources carry some KL too (the drifted mass shifts the
    # corpus blend away from them); the drifted one still stands out
    assert got["drifted"][2] > 3 * max(got["clean_a"][2], 1)
    assert got["clean_a"] == got["clean_b"]


def test_sample_allocation_sums_exactly_and_bounds_error(spark, tmp_path):
    """corpus_sample_allocation: quotas are integers summing EXACTLY
    to the budget on a skewed corpus, each within 1 of its exact
    proportional share (the Hamilton-method guarantee), and a
    zero-token source gets quota 0."""
    from hadoop_20_warehouse_spark.inventory_curation import (
        _ALLOC_BUDGET,
        q_corpus_sample_allocation,
    )

    docs = (
        [(i, "w " * (i + 1), "en", f"s{i % 7}", 1) for i in range(50)]
        + [(99, "", "en", "empty", 0)]
    )
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = q_corpus_sample_allocation(spark, str(tmp_path)).collect()
    total_tokens = sum(r.tokens for r in rows)
    assert sum(r.quota for r in rows) == _ALLOC_BUDGET
    for r in rows:
        exact = _ALLOC_BUDGET * r.tokens / total_tokens
        assert abs(r.quota - exact) < 1.0
        if r.source == "empty":
            assert r.quota == 0


def test_vocab_stats_separates_spam_from_noise(spark, tmp_path):
    """corpus_vocab_stats: a template-spam source (same words
    repeated) shows a tiny type-token ratio; a noise source (all
    unique "words") shows hapax share 1000; values hand-checked."""
    from hadoop_20_warehouse_spark.inventory_curation import (
        q_corpus_vocab_stats,
    )

    docs = (
        [(i, "buy now " * 10, "en", "spam", 1) for i in range(5)]
        + [(50 + i, " ".join(f"tok{i}_{j}" for j in range(10)), "xx", "noise", 1)
           for i in range(5)]
    )
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: (r.n_tokens, r.n_types, r.n_hapax,
                   r.type_token_milli, r.hapax_share_milli)
        for r in q_corpus_vocab_stats(spark, str(tmp_path)).collect()
    }
    assert got["spam"] == (100, 2, 0, 20, 0)
    assert got["noise"] == (50, 50, 50, 1000, 1000)


def test_curation_funnel_planted_pathologies_move_every_counter(
    spark, tmp_path
):
    """pipeline_curation_funnel against a corpus with PLANTED
    pathologies (r15 VERDICT #6): the driver fixture is benign, so its
    attrition numbers are near-trivial — this fixture makes every
    stage's delta load-bearing.  Plants: a mass-duplicate family
    (ids 1/2/3 identical), a near-dup pair differing only in the
    leading token (4/5 — survives the leading-span exact key, collapses
    in LSH), a contaminated training doc carrying a 17-token run of the
    eval doc's text (21 vs eval 20 — ≥25% trigram overlap, the decon
    drop bar, while its ~0.15 true Jaccard stays under the 0.5 LSH
    pair bar), a gate-failing junk doc (6 — seed picked against the
    deterministic hashed classifier), an embedding-duplicate pair
    (7/8 share a vector → SemDeDup removes the larger id), and a
    high-PII doc (9 — seven planted emails on top of the fixture
    augmentation).  Every expected counter is hand-derived below."""
    import os
    import random
    import string

    from hadoop_20_warehouse_spark.inventory_curation import (
        q_pipeline_curation_funnel,
    )

    def words(n, seed):
        r = random.Random(seed)
        return " ".join(
            "".join(r.choice(string.ascii_lowercase)
                    for _ in range(r.randint(3, 8)))
            for _ in range(n)
        )

    # seeds 13/14/19/21/22 pass the deterministic classifier gate for
    # 60-word texts, seed 40 passes WITH the mails appended, seed 100
    # (40 words) fails — found by probing _classifier_gate directly
    a = words(60, 13)
    b = words(60, 14)
    b_near = "zq " + b
    ev = words(60, 19)
    contaminated = words(43, 20) + " " + " ".join(ev.split()[30:47])
    junk = words(40, 100)
    n7, n8 = words(60, 21), words(60, 22)
    mails = " ".join(
        f"{u}@corp.example"
        for u in ("alice", "bob", "carol", "dave", "erin", "frank", "grace")
    )
    n9 = words(60, 40) + " " + mails
    texts = {1: a, 2: a, 3: a, 4: b, 5: b_near, 6: junk,
             7: n7, 8: n8, 9: n9, 20: ev, 21: contaminated}
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    vec = [0.5] * 8
    spark.createDataFrame(
        [(7, vec, 0), (8, vec, 0)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(os.path.join(d, "embeddings.parquet"))

    row = q_pipeline_curation_funnel(spark, d).collect()[0]
    assert row.n_raw == 11
    assert row.n_exact == 9       # mass-duplicate family: -2
    assert row.n_neardup == 8     # LSH collapses 4/5 to the longer rep (5)
    assert row.n_decontaminated == 6  # -1 eval carve (20), -1 contaminated (21)
    assert row.n_gated == 5       # junk doc 6 fails the classifier
    assert row.n_final == 4       # SemDeDup drops 8 (same cell as 7, larger id)
    # survivors {1, 5, 7, 9}: augmentation plants email+ip+phone per doc
    # (+1 email at id%3==0, +1 phone at id%5==0) = 3+4+3+4, plus the
    # seven planted addresses on doc 9
    assert row.final_pii_redacted == 14 + 7
    # token mass: 60 (a) + 61 (zq+b) + 60 (n7) + 67 (n9 incl mails)
    assert row.final_tokens == 248
