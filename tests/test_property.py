"""Property-based tests (tier 3, SURVEY.md §5): parser round-trips via
Hypothesis; operator semantics cross-checked against pure-Python
reference implementations on randomized inputs (fixed seeds — one
Spark job per case set, not per example)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from hadoop_20_warehouse_spark.operators.join import Func, Tbl, parse_join_expr
from hadoop_20_warehouse_spark.operators.select import parse_field_spec
from hadoop_20_warehouse_spark.operators.sort import parse_keyfield_spec


# --- parser properties -----------------------------------------------------


@given(
    fields=st.lists(st.integers(0, 99), max_size=6),
    open_from=st.one_of(st.none(), st.integers(0, 99)),
)
def test_field_spec_roundtrip(fields, open_from):
    parts = [str(f) for f in fields]
    if open_from is not None:
        parts.append(f"{open_from}-")
    spec = ",".join(parts)
    parsed = parse_field_spec(spec)
    assert parsed.fields == tuple(fields)
    assert parsed.open_range_from == open_from


@given(
    parts=st.lists(
        st.tuples(
            st.integers(1, 20),                       # start field
            st.one_of(st.none(), st.integers(1, 9)),  # start char
            st.booleans(),                            # numeric
            st.booleans(),                            # reverse
        ),
        min_size=1,
        max_size=4,
    )
)
def test_keyfield_spec_roundtrip(parts):
    chunks = []
    for f, c, num, rev in parts:
        s = f"-k{f}" + (f".{c}" if c else "") + f",{f}"
        s += ("n" if num else "") + ("r" if rev else "")
        chunks.append(s)
    parsed = parse_keyfield_spec(" ".join(chunks))
    assert len(parsed) == len(parts)
    for got, (f, c, num, rev) in zip(parsed, parts):
        assert got.start_field == f and got.end_field == f
        assert got.start_char == (c or 1)
        assert got.numeric == num and got.reverse == rev


_expr_leaf = st.sampled_from(["s0", "s1", "s2", "src_a", "tbl_x"])


def _expr_trees(depth: int):
    if depth == 0:
        return _expr_leaf.map(Tbl)
    child = _expr_trees(depth - 1)
    return st.one_of(
        _expr_leaf.map(Tbl),
        st.tuples(
            st.sampled_from(["inner", "outer", "override"]),
            st.lists(child, min_size=2, max_size=3),
        ).map(lambda t: Func(t[0], tuple(t[1]))),
    )


def _render(e) -> str:
    if isinstance(e, Tbl):
        return e.name
    return f"{e.op}({', '.join(_render(c) for c in e.children)})"


@given(tree=_expr_trees(3))
@settings(max_examples=200)
def test_join_expr_roundtrip(tree):
    assert parse_join_expr(_render(tree)) == tree


# --- override-join randomized cross-check ---------------------------------


def _reference_override(sources: list[dict[int, list[int]]]) -> set[tuple[int, int, int]]:
    """Pure-python OverrideRecordReader semantics: per key, the full
    value stream of the rightmost source holding it."""
    out = set()
    keys = set().union(*[set(s) for s in sources])
    for k in keys:
        for i in range(len(sources) - 1, -1, -1):
            if k in sources[i]:
                for v in sources[i][k]:
                    out.add((k, i, v))
                break
    return out


def test_override_join_random_cross_check(spark):
    from hadoop_20_warehouse_spark.operators.join import override_join

    rng = random.Random(42)
    for trial in range(3):
        srcs = []
        for _i in range(3):
            d: dict[int, list[int]] = {}
            for k in range(20):
                if rng.random() < 0.5:
                    d[k] = [rng.randrange(1000) for _ in range(rng.randint(1, 3))]
            srcs.append(d)
        frames = [
            spark.createDataFrame(
                [Row(key=k, val=v) for k, vs in s.items() for v in vs]
                or [Row(key=-999, val=0)]  # avoid empty frames
            )
            for s in srcs
        ]
        # align reference with the -999 filler rows
        ref_srcs = [dict(s) for s in srcs]
        for s, orig in zip(ref_srcs, srcs):
            if not orig:
                s[-999] = [0]
        want = _reference_override(ref_srcs)
        got = set()
        for r in override_join(frames, "key").collect():
            for i in range(3):
                v = r[f"val_{i}"]
                if v is not None:
                    got.add((r["key"], i, v))
        assert got == want, f"trial {trial}: {got ^ want}"


def test_minhash_rowlocal_equals_explode_form(spark):
    """The row-local HOF signature (minhash_signature_rowlocal) must be
    bit-identical to the explode+groupBy construction on random text —
    the two paths share only the math, so equality pins both."""
    import random as _r

    from hadoop_20_warehouse_spark.dedup import minhash as MH

    rng = _r.Random(7)
    alpha = "ab cd"
    rows = [
        Row(id=i, txt="".join(rng.choice(alpha) for _ in range(rng.randint(1, 60))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows)
    a = MH.minhash_signature_rowlocal(df, "id", "txt").orderBy("id").collect()
    sh = MH.shingles(df, "id", "txt", MH.DEFAULT_SHINGLE, distinct=False)
    b = MH.minhash_signature_cols(sh, "id").orderBy("id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# --- keyfield substring extraction vs the reference byte logic ------------


def _ref_keyfield_substring(line: str, p, separator: str) -> str:
    """Pure-Python port of KeyFieldHelper.getStartOffset/getEndOffset
    (KeyFieldHelper.java:118-157): 1-based fields/chars, end inclusive,
    separators inside a multi-field span belong to the key, end past
    the line clamps to line end."""
    fields = line.split(separator)
    if p.start_field > len(fields):
        return ""
    start = sum(len(f) + len(separator) for f in fields[: p.start_field - 1])
    start += p.start_char - 1
    end_f = p.end_field or p.start_field
    if p.end_char is None or end_f > len(fields):
        end = len(line) - 1
        if end_f <= len(fields):
            end = (
                sum(len(f) + len(separator) for f in fields[:end_f])
                - len(separator)
                - 1
            )
    else:
        end = sum(len(f) + len(separator) for f in fields[: end_f - 1])
        end += p.end_char - 1
        end = min(end, len(line) - 1)
    if start > end:
        return ""
    return line[start : end + 1]


@settings(max_examples=40, deadline=None)
@given(
    nfields=st.integers(1, 5),
    lens=st.lists(st.integers(0, 6), min_size=5, max_size=5),
    sf=st.integers(1, 5),
    sc=st.integers(1, 4),
    espan=st.integers(0, 3),
    ec=st.one_of(st.none(), st.integers(1, 5)),
    data=st.data(),
)
def test_keyfield_substring_matches_reference_offsets(
    spark, nfields, lens, sf, sc, espan, ec, data
):
    """keyfield_substrings must reproduce the reference's byte-offset
    selection exactly — including multi-field spans with end_char, the
    round-1 approximation gap (operators/sort.py)."""
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_spark.operators.sort import (
        KeyFieldPart,
        keyfield_substrings,
    )

    def extract(line: str, part: KeyFieldPart) -> str:
        df = spark.createDataFrame([(line,)], "line string")
        (col,) = keyfield_substrings("line", [part])
        got = df.select(col.alias("k")).first()["k"]
        return "" if got is None else got
    if sf > nfields:
        sf = nfields
    ef = min(sf + espan, nfields)
    fields = [
        "".join(
            data.draw(
                st.lists(
                    st.sampled_from("abc12"), min_size=lens[i], max_size=lens[i]
                )
            )
        )
        for i in range(nfields)
    ]
    line = "\t".join(fields)
    p = KeyFieldPart(start_field=sf, start_char=sc, end_field=ef, end_char=ec)
    assert extract(line, p) == _ref_keyfield_substring(line, p, "\t")


def test_exact_span_dedup_matches_python_reference(spark):
    """dedup/spans.exact_span_dedup vs a straightforward Python model
    on a synthetic corpus with shapes the driver tables lack: empty
    docs, whitespace runs, and a tiny vocab forcing heavy cross-doc
    chunk duplication."""
    import hashlib
    import math

    from hadoop_20_warehouse_spark.dedup.spans import exact_span_dedup

    rng = random.Random(407)
    vocab = ["aa", "bb", "cc"]
    rows = []
    for i in range(80):
        n = rng.randint(0, 11)
        sep = "  " if rng.random() < 0.2 else " "
        rows.append((i, sep.join(rng.choice(vocab) for _ in range(n))))
    w = 3

    # pure-Python reference: global first occurrence per chunk in
    # (doc_id, pos) order
    first: dict[str, tuple[int, int]] = {}
    expected = {}
    for doc_id, text in rows:
        toks = [t for t in text.split() if t]
        if not toks:
            continue  # no chunks to place; absent from output
        chunks = [
            " ".join(toks[j * w : j * w + w])
            for j in range(math.ceil(len(toks) / w))
        ]
        for pos, c in enumerate(chunks):
            first.setdefault(c, (doc_id, pos))
        kept = [
            c for pos, c in enumerate(chunks) if first[c] == (doc_id, pos)
        ]
        expected[doc_id] = (
            len(chunks),
            len(chunks) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_removed"], r["kept_digest"])
        for r in exact_span_dedup(df, chunk_w=w).collect()
    }
    assert got == expected
    # the synthetic corpus must actually exercise removal
    assert sum(v[1] for v in expected.values()) > 0


def test_pack_token_budget_offsets_contiguous(spark):
    """Placement invariant provable from outputs alone: within each
    shard, ordering rows by (batch_id, batch_offset) must give
    contiguous global offsets starting at 0 — row k's global offset
    (batch_id*budget + batch_offset) equals the sum of tok_len of rows
    0..k-1. Checked on a synthetic corpus including empty docs."""
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget

    rng = random.Random(31)
    rows = [
        (i, " ".join("tok" for _ in range(rng.randint(0, 40))))
        for i in range(120)
    ]
    budget = 16
    out = pack_token_budget(
        spark.createDataFrame(rows, "doc_id long, text string"),
        budget=budget,
        n_shards=4,
    ).collect()
    assert len(out) == len(rows)  # empty docs still get a placement
    by_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r["batch_offset"] < budget
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        # several zero-len docs may share one offset with the single
        # nonzero doc placed there; zero-len first keeps `running` valid
        shard_rows.sort(key=lambda r: (r["batch_id"], r["batch_offset"], r["tok_len"]))
        running = 0
        for r in shard_rows:
            assert r["batch_id"] * budget + r["batch_offset"] == running
            running += r["tok_len"]
    # Documented pack-without-splitting bound (dedup/spans.py): a batch
    # may exceed the budget only by the straddling doc's tail, so
    # sum(tok_len) per batch < budget + max(tok_len) over the corpus.
    max_doc = max(r["tok_len"] for r in out)
    batch_tokens: dict[tuple, int] = {}
    for r in out:
        key = (r["shard"], r["batch_id"])
        batch_tokens[key] = batch_tokens.get(key, 0) + r["tok_len"]
    assert all(tot < budget + max_doc for tot in batch_tokens.values())


def test_global_shuffle_order_is_dense_permutation(spark):
    """global_pos must be a dense permutation 0..N-1 consistent with
    the declared total order (shard, md5(id), id) — i.e. the per-shard
    rank + prefix-offset decomposition must agree exactly with the
    single global window it replaces."""
    import hashlib

    from hadoop_20_warehouse_spark.dedup.spans import global_shuffle_order

    df = spark.createDataFrame([(i,) for i in range(257)], "doc_id long")
    out = global_shuffle_order(df, n_shards=5).collect()
    assert sorted(r["global_pos"] for r in out) == list(range(257))
    ordered = sorted(
        out,
        key=lambda r: (
            r["shard"],
            hashlib.md5(str(r["doc_id"]).encode()).hexdigest(),
            r["doc_id"],
        ),
    )
    assert [r["global_pos"] for r in ordered] == list(range(257))


def test_pack_token_split_fills_batches_exactly(spark):
    """Split-packing invariants provable from outputs alone: each
    doc's slices reassemble to tok_len (slice_ids dense from 0,
    offsets consistent), and every batch except the last per shard
    carries EXACTLY the budget."""
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget_split

    rng = random.Random(47)
    rows = [
        (i, " ".join("tok" for _ in range(rng.randint(0, 40))))
        for i in range(150)
    ]
    budget = 16
    out = pack_token_budget_split(
        spark.createDataFrame(rows, "doc_id long, text string"),
        budget=budget,
        n_shards=4,
    ).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        assert 0 <= r["batch_offset"] < budget
        assert 0 <= r["slice_len"] <= budget
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == len(rows)  # zero-len docs still emit a slice
    want_len = {i: len(t.split()) if t else 0 for i, t in rows}
    for doc, slices in by_doc.items():
        slices.sort(key=lambda r: r["slice_id"])
        assert [r["slice_id"] for r in slices] == list(range(len(slices)))
        assert sum(r["slice_len"] for r in slices) == want_len[doc]
        # consecutive slices: next batch, offset 0 (continuation slices
        # always start at a batch boundary)
        for a, b in zip(slices, slices[1:]):
            assert b["batch_id"] == a["batch_id"] + 1
            assert b["batch_offset"] == 0
    batch_fill: dict[tuple, int] = {}
    for r in out:
        key = (r["shard"], r["batch_id"])
        batch_fill[key] = batch_fill.get(key, 0) + r["slice_len"]
    last_per_shard = {}
    for (shard, b) in batch_fill:
        last_per_shard[shard] = max(last_per_shard.get(shard, -1), b)
    for (shard, b), tot in batch_fill.items():
        if b == last_per_shard[shard]:
            assert tot <= budget
        else:
            assert tot == budget, f"shard {shard} batch {b}: {tot}"


def test_mixture_sample_matches_python_reference(spark):
    """dedup/spans.mixture_sample vs a straightforward Python model of
    the greedy fill: per domain, order docs by (md5 shard, md5 hex,
    id), keep while the cumulative token count BEFORE the doc is under
    budget. Synthetic corpus with skewed domains, empty docs, and a
    budget landing mid-doc."""
    import hashlib

    from hadoop_20_warehouse_spark.dedup.spans import mixture_sample

    rng = random.Random(1123)
    domains = ["web", "web", "web", "books", "code"]  # skewed mix
    rows = [
        (i, rng.choice(domains), " ".join("tok" for _ in range(rng.randint(0, 9))))
        for i in range(120)
    ]
    budgets = {"web": 97, "books": 10_000, "niche": 5}
    shards = 4

    def h(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    def shard(i):
        return int(h(i)[:15], 16) % shards

    expected = {}
    for dom, budget in budgets.items():
        members = sorted(
            (r for r in rows if r[1] == dom),
            key=lambda r: (shard(r[0]), h(r[0]), r[0]),
        )
        used = 0
        for doc_id, _, text in members:
            w = len(text.split())
            if used < budget:
                expected[doc_id] = (dom, w, used)
            used += w

    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["source"], r["tok_len"], r["start_off"])
        for r in mixture_sample(df, budgets, n_shards=shards).collect()
    }
    assert got == expected
    # the corpus must exercise the interesting regimes
    kept_web = sum(v[1] for v in expected.values() if v[0] == "web")
    assert kept_web >= 97  # web filled past its budget (crossing doc kept)
    assert any(v[0] == "books" for v in expected.values())  # under-budget domain all kept
    assert len(got) < len(rows)  # and something was actually excluded


def test_boilerplate_scrub_matches_python_reference(spark):
    """dedup/spans.boilerplate_scrub vs a Python model: chunks in more
    than max_docs distinct docs are removed from every doc; digest is
    over surviving chunks in position order."""
    import hashlib
    import math

    from hadoop_20_warehouse_spark.dedup.spans import boilerplate_scrub

    rng = random.Random(907)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10))))
        for i in range(70)
    ]
    w, k = 2, 3

    freq: dict[str, set[int]] = {}
    chunked = {}
    for doc_id, text in rows:
        toks = text.split()
        if not toks:
            continue
        chunks = [
            " ".join(toks[j * w : j * w + w])
            for j in range(math.ceil(len(toks) / w))
        ]
        chunked[doc_id] = chunks
        for c in set(chunks):
            freq.setdefault(c, set()).add(doc_id)
    boiler = {c for c, docs in freq.items() if len(docs) > k}
    expected = {}
    for doc_id, chunks in chunked.items():
        kept = [c for c in chunks if c not in boiler]
        expected[doc_id] = (
            len(chunks),
            len(chunks) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_removed"], r["clean_digest"])
        for r in boilerplate_scrub(df, chunk_w=w, max_docs=k).collect()
    }
    assert got == expected
    assert sum(v[1] for v in expected.values()) > 0  # scrub actually fired


def _levenshtein_py(a: str, b: str) -> int:
    """Plain-DP reference (no threshold) for the fuzzy-edit property."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=10, deadline=None)
@given(
    data=st.data(),
    n_docs=st.integers(min_value=2, max_value=8),
)
def test_fuzzy_edit_pairs_complete_vs_bruteforce(spark, data, n_docs):
    """fuzzy_edit_pairs must equal the brute-force all-pairs reference
    EXACTLY — both directions: the length blocking and the packed
    char-count L1 filter are necessary conditions (no true pair
    dropped), and the thresholded DP admits nothing extra.  Docs are
    random strings plus mutated copies (char substitutions /
    insertions / deletions), the adversarial shape for blocking
    completeness (mutations walk lengths across bucket boundaries)."""
    from hadoop_20_warehouse_spark.dedup.editdist import fuzzy_edit_pairs

    T = 6
    alphabet = "abcdz "
    base = data.draw(
        st.lists(
            st.text(alphabet=alphabet, min_size=0, max_size=40),
            min_size=n_docs,
            max_size=n_docs,
        )
    )
    texts = list(base)
    # mutate a copy of doc 0 so true near-pairs exist
    s = list(base[0])
    for _ in range(data.draw(st.integers(min_value=0, max_value=T))):
        op = data.draw(st.sampled_from(["sub", "ins", "del"]))
        if op == "ins" or not s:
            s.insert(
                data.draw(st.integers(min_value=0, max_value=len(s))),
                data.draw(st.sampled_from(alphabet)),
            )
        elif op == "del":
            s.pop(data.draw(st.integers(min_value=0, max_value=len(s) - 1)))
        else:
            i = data.draw(st.integers(min_value=0, max_value=len(s) - 1))
            s[i] = data.draw(st.sampled_from(alphabet))
    texts.append("".join(s))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_edit_pairs(docs, max_dist=T).collect()
    }
    lowered = [t.lower() for t in texts]
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = _levenshtein_py(lowered[i], lowered[j])
            if d <= T:
                want[(i, j)] = d
    assert got == want


def test_mixture_sample_tok_len_col_equals_text_counts(spark):
    """The tok_len_col hook (round 14, the release endgame's mixing
    stage): budgeting by a precomputed count column must place exactly
    like budgeting by the whitespace count when the column holds those
    counts — and must be the ONLY thing read (no text column needed)."""
    import random

    from pyspark.sql import functions as F

    from hadoop_20_warehouse_spark.dedup.spans import mixture_sample

    rng = random.Random(77)
    rows = [
        (i, rng.choice(["a", "a", "b"]), " ".join("t" for _ in range(rng.randint(0, 7))))
        for i in range(80)
    ]
    budgets = {"a": 41, "b": 13}
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    via_text = {
        tuple(r)
        for r in mixture_sample(df, budgets, n_shards=4).collect()
    }
    # precompute the same whitespace counts (empty text -> split yields
    # [''] with size 1; mirror tokens()' empty-removal exactly)
    pre = df.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")).cast("long").alias("n"),
    )
    via_col = {
        tuple(r)
        for r in mixture_sample(
            pre, budgets, n_shards=4, tok_len_col="n"
        ).collect()
    }
    assert via_col == via_text


def test_mixture_with_epochs_matches_python_reference(spark):
    """dedup/spans.mixture_with_epochs vs a Python model of the full
    composition (VERDICT r14 #5): per-doc copy count = int(f) + one
    extra iff md5_int64(id) % 1000 < round(frac*1000); greedy fill
    ordered by (md5 shard, md5 hex, copy_key) OVER THE COPIES.  Also
    pins the two headline properties: (a) per-domain EXPANDED token
    mass tracks the requested repeat factor, (b) a domain whose budget
    exceeds its single-copy mass meets it through repetition."""
    import hashlib

    from hadoop_20_warehouse_spark.dedup.spans import mixture_with_epochs

    rng = random.Random(20260815)
    domains = ["web", "web", "web", "books", "code", "wiki"]
    rows = [
        (i, rng.choice(domains), " ".join("tok" for _ in range(rng.randint(0, 9))))
        for i in range(200)
    ]
    repeats = {"books": 2.5, "code": 0.4, "wiki": 3.0}
    # wiki's budget sits BETWEEN its single-copy mass and its 3-epoch
    # expanded mass, so it is meetable only through repetition
    wiki_base0 = sum(len(t.split()) for _i, d, t in rows if d == "wiki")
    budgets = {"web": 120, "books": 10_000, "code": 50, "wiki": 2 * wiki_base0}
    shards = 4

    def h(s):
        return hashlib.md5(str(s).encode()).hexdigest()

    def i64(s):
        return int(h(s)[:15], 16)

    # model: expand
    copies = []
    for doc_id, dom, text in rows:
        f = repeats.get(dom, 1.0)
        n = int(f) + (1 if i64(doc_id) % 1000 < round((f - int(f)) * 1000) else 0)
        for e in range(n):
            copies.append((doc_id, e, dom, len(text.split()), f"{doc_id}#{e}"))
    # model: per-domain expanded mass tracks the factor (loose band —
    # the md5 selection is deterministic per-id, exact in expectation)
    for dom, f in repeats.items():
        base = sum(len(t.split()) for _i, d, t in rows if d == dom)
        exp_mass = sum(c[3] for c in copies if c[2] == dom)
        assert abs(exp_mass - f * base) <= 0.25 * base + 10, (dom, exp_mass, f * base)
    # model: greedy fill over copies
    expected = {}
    for dom, budget in budgets.items():
        members = sorted(
            (c for c in copies if c[2] == dom),
            key=lambda c: (i64(c[4]) % shards, h(c[4]), c[4]),
        )
        used = 0
        for doc_id, epoch, d, w, _ck in members:
            if used < budget:
                expected[(doc_id, epoch)] = (d, w, used)
            used += w

    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["doc_id"], r["epoch"]): (r["source"], r["tok_len"], r["start_off"])
        for r in mixture_with_epochs(df, budgets, repeats, n_shards=shards).collect()
    }
    assert got == expected
    # (b) wiki's budget (420) exceeds its single-copy mass but is met
    # via its 3.0 epochs — the upsampling semantics under test
    wiki_base = sum(len(t.split()) for _i, d, t in rows if d == "wiki")
    assert wiki_base < budgets["wiki"]
    wiki_kept = sum(v[1] for v in expected.values() if v[0] == "wiki")
    assert wiki_kept >= budgets["wiki"]
    # (and the fill actually excluded something somewhere)
    assert len(got) < len(copies)


def test_split_assign_stable_disjoint_exhaustive(spark):
    """dedup/spans.split_assign: (a) every row gets exactly one split
    (disjoint + exhaustive by construction); (b) a doc's split is
    STABLE under corpus growth/shrink (the eval-contamination
    guarantee: hash-based, not rank-based); (c) matches a Python model
    of the salted per-mille thresholds; (d) a different salt re-rolls;
    (e) fractions that don't sum to 1 are rejected."""
    import hashlib

    import pytest as _pytest

    from hadoop_20_warehouse_spark.dedup.spans import split_assign

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    rows = [(i, f"d{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["doc_id"]: r["split"] for r in split_assign(df, fr, salt="s1").collect()}
    assert len(got) == 300  # exhaustive, one row each

    def model(i, salt):
        u = int(hashlib.md5((salt + str(i)).encode()).hexdigest()[:15], 16) % 1000
        return "train" if u < 800 else ("val" if u < 900 else "test")

    assert got == {i: model(i, "s1") for i, _s in rows}
    # stability: the first 50 docs keep their split in a shrunk corpus
    small = spark.createDataFrame(rows[:50], "doc_id long, source string")
    got_small = {
        r["doc_id"]: r["split"]
        for r in split_assign(small, fr, salt="s1").collect()
    }
    assert got_small == {i: got[i] for i in range(50)}
    # a different salt re-rolls (some assignment must differ over 300 ids)
    got2 = {r["doc_id"]: r["split"] for r in split_assign(df, fr, salt="s2").collect()}
    assert got2 != got
    with _pytest.raises(ValueError, match="sum to 1.0"):
        split_assign(df, {"train": 0.5, "val": 0.1})
    with _pytest.raises(ValueError, match=">= 0.001"):
        split_assign(df, {"train": 0.9999, "val": 0.0001})


def test_triangle_counts_matches_naive_reference(spark):
    """graph.triangle_counts (degree-oriented wedge counting) vs a
    pure-Python naive enumeration on random graphs including a hub
    (the skew case the orientation exists for) and a triangle-free
    star."""
    from itertools import combinations

    from hadoop_20_warehouse_spark.graph import triangle_counts

    rng = random.Random(1519)
    cases = []
    # random G(n, p)
    n = 40
    cases.append(
        [(a, b) for a, b in combinations(range(n), 2) if rng.random() < 0.15]
    )
    # hub: node 0 connected to everyone, plus a sparse rest
    cases.append(
        [(0, i) for i in range(1, 30)]
        + [(a, b) for a, b in combinations(range(1, 30), 2) if rng.random() < 0.1]
    )
    # star only — zero triangles
    cases.append([(0, i) for i in range(1, 12)])
    for edges in cases:
        eset = set(edges)
        want: dict[int, int] = {}
        nodes = {x for e in edges for x in e}
        for a, b, c in combinations(sorted(nodes), 3):
            if (a, b) in eset and (a, c) in eset and (b, c) in eset:
                for x in (a, b, c):
                    want[x] = want.get(x, 0) + 1
        df = spark.createDataFrame(edges or [(0, 1)], "a long, b long")
        if not edges:
            df = df.filter("a < 0")
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(df).collect()
        }
        assert got == want


def test_kcore_members_matches_naive_peel(spark):
    """graph.kcore_members (observe()-converged iterative peel) vs a
    pure-Python peel-to-fixpoint on random graphs, a hub-plus-fringe
    graph (fringe peels in waves — multi-round convergence), a clique
    (zero peel rounds beyond the confirm), and a tree (empty 2-core);
    also pins the engine's SQL twin (graph.kcore_sql) on the same
    graphs via DuckDB, and the rounds stat."""
    from itertools import combinations

    import duckdb

    from hadoop_20_warehouse_spark.graph import kcore_members, kcore_sql

    def naive_kcore(edges, k):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        while True:
            drop = [n for n, nb in adj.items() if len(nb) < k]
            if not drop:
                return {n: len(nb) for n, nb in adj.items()}
            for n in drop:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]

    rng = random.Random(1523)
    cases = []
    n = 40
    cases.append(
        [(a, b) for a, b in combinations(range(n), 2) if rng.random() < 0.12]
    )
    # hub 0 + chain fringe: chain nodes peel one wave per round
    cases.append(
        [(0, i) for i in range(1, 10)]
        + [(i, i + 1) for i in range(10, 20)]
        + [(0, 10)]
    )
    # clique: nothing peels at k=3
    cases.append(list(combinations(range(6), 2)))
    # tree: 2-core is empty
    cases.append([(i, 2 * i + 1) for i in range(8)] + [(i, 2 * i + 2) for i in range(8)])
    for k in (2, 3):
        for edges in cases:
            want = naive_kcore(edges, k)
            df = spark.createDataFrame(edges, "a long, b long")
            stats: dict = {}
            got = {
                r["node"]: r["core_deg"]
                for r in kcore_members(df, k=k, stats=stats).collect()
            }
            assert got == want
            assert stats["rounds"] >= 1
            vals = ", ".join(f"({a}, {b})" for a, b in edges)
            sql = kcore_sql(
                f"edges AS (SELECT * FROM (VALUES {vals}) t(a, b))",
                k=k,
                rounds=25,
            )
            oracle = {
                n: d for n, d in duckdb.connect().execute(sql).fetchall()
            }
            assert oracle == want


def test_kcore_multiround_convergence_and_empty(spark):
    """A long path peels from both ends one wave per round — rounds
    must exceed 2 and the 2-core must be empty; an empty edge frame
    converges in one confirm round."""
    from hadoop_20_warehouse_spark.graph import kcore_members

    path = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(path, "a long, b long")
    stats: dict = {}
    assert kcore_members(df, k=2, stats=stats).count() == 0
    assert stats["rounds"] > 2
    empty = df.filter("a < 0")
    stats2: dict = {}
    assert kcore_members(empty, k=2, stats=stats2).count() == 0
    assert stats2["rounds"] == 1
    # exhausting max_iterations mid-peel must RAISE, not silently
    # return the (supergraph) survivor set — the r15-advice gap: a
    # path needs one wave per end-pair, so a 3-round cap on the
    # 12-edge path exits with edges still being removed
    import pytest as _pytest

    stats3: dict = {}
    with _pytest.raises(RuntimeError, match="not converged"):
        kcore_members(df, k=2, max_iterations=3, stats=stats3)
    assert stats3["converged"] is False and stats3["rounds"] == 3


def test_label_propagation_matches_python_model(spark):
    """graph.label_propagation vs an exact Python replay of the
    synchronous most-frequent-neighbor/min-tiebreak rounds, over
    random sparse graphs (+ the SQL twin on the same edges)."""
    import random as _r

    import duckdb as _duck

    from hadoop_20_warehouse_spark.graph import (
        label_propagation,
        label_propagation_sql,
    )

    rng = _r.Random(17)
    for trial in range(3):
        n = rng.randint(6, 14)
        edges = sorted(
            {
                (a, b)
                for _ in range(rng.randint(n, 3 * n))
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        rounds = rng.randint(1, 4)
        nbrs: dict[int, list[int]] = {}
        for a, b in edges:
            nbrs.setdefault(a, []).append(b)
            nbrs.setdefault(b, []).append(a)
        labels = {u: u for u in nbrs}
        for _ in range(rounds):
            nxt = {}
            for u in nbrs:
                cnt: dict[int, int] = {}
                for v in nbrs[u]:
                    cnt[labels[v]] = cnt.get(labels[v], 0) + 1
                nxt[u] = min(cnt, key=lambda lb: (-cnt[lb], lb))
            labels = nxt
        df = spark.createDataFrame(edges, "a long, b long")
        got = {r.node: r.label for r in label_propagation(df, rounds).collect()}
        assert got == labels, (trial, edges, rounds)
        cte = "edges AS (SELECT * FROM (VALUES " + ",".join(
            f"({a},{b})" for a, b in edges
        ) + ") t(a,b))"
        sql_out = dict(
            _duck.connect().execute(
                label_propagation_sql(cte, rounds)
            ).fetchall()
        )
        assert sql_out == labels, (trial, "sql twin")


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_tfile_vlong_encode_decode_roundtrip(vals):
    """r18: encode_vlong is the exact inverse of read_vlong over the
    full signed-64 range (tfile/Utils.java's banded coding)."""
    from hadoop_20_warehouse_spark.sources.tfile import (
        encode_vlong,
        read_vlong,
    )

    blob = b"".join(encode_vlong(v) for v in vals)
    pos = 0
    for v in vals:
        got, pos = read_vlong(blob, pos)
        assert got == v
    assert pos == len(blob)


@given(
    st.lists(
        st.tuples(st.binary(max_size=40), st.binary(max_size=200)),
        max_size=40,
    ),
    st.sampled_from(["gz", "none"]),
)
@settings(max_examples=60, deadline=None)
def test_tfile_encode_parse_roundtrip(pairs, comp):
    """r18: any byte pairs survive encode_tfile -> parse_tfile (keys
    sorted first — memcmp files require it)."""
    from hadoop_20_warehouse_spark.sources.tfile import (
        encode_tfile,
        parse_tfile,
    )

    pairs = sorted(pairs)
    blob = encode_tfile(iter(pairs), compression=comp, min_block_size=64)
    meta, recs = parse_tfile(blob)
    assert list(recs) == pairs
    assert meta["record_count"] == len(pairs)


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="/\x00"
            ),
            min_size=1,
            max_size=25,
        ).map(lambda s: s.strip() or "x"),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
@settings(max_examples=80, deadline=None)
def test_har_entry_grammar_arbitrary_names(names):
    """r18: the har _index line grammar round-trips arbitrary unicode
    member names (spaces, '+', '%', non-ASCII — the URL-encoding is
    load-bearing, names with spaces would otherwise shift columns)."""
    from hadoop_20_warehouse_spark.sources.har import (
        HarEntry,
        _format_entry,
        _parse_entry,
    )

    for i, nm in enumerate(names):
        e = HarEntry(f"/d/{nm}", False, f"part-{i}", i * 7, i * 13 + 1)
        p = _parse_entry(_format_entry(e).rstrip())
        assert (p.name, p.part, p.start, p.length) == (
            e.name, e.part, e.start, e.length,
        )
    d = HarEntry("/d", True, "none", 0, 0, sorted(names))
    q = _parse_entry(_format_entry(d).rstrip())
    assert q.children == sorted(names) and q.is_dir
