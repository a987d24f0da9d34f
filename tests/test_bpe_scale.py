"""BPE training and application (functions/bpe.py, bpe_scale.py): the
driver-local sequential trainer, batched top-B training, and the
mapInPandas replay apply — pinned against each other and against two
test-side references kept here: the per-round Spark-aggregation trainer
and the nested-replace apply expression, the forms the DuckDB oracles
unroll."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.functions import bpe as B
from hadoop_20_warehouse_spark.functions import bpe_scale as BS

# tokens-from-seq over the ||-encoding: split on the literal double
# bar, drop the empty boundary artifacts ('\\|\\|' in SQL text is
# the regex \|\|).
_SPARK_TOKS = "filter(split(seq, '\\\\|\\\\|'), x -> x != '')"


def _train_merges_rounds(
    docs, text_col="text", n_merges=B.DEFAULT_N_MERGES,
    max_words=B.DEFAULT_MAX_WORDS,
):
    """Reference trainer: one Spark aggregation per round (adjacent
    pair counts weighted by word frequency, argmax by count DESC, pa,
    pb) over the capped word table, the merge applied as a ``replace``
    on the ||-encoding — the shape train_merges_sql unrolls."""
    wc = B.word_counts(docs, text_col, max_words).localCheckpoint(eager=True)
    merges = []
    for step in range(1, n_merges + 1):
        pairs = (
            wc.select("wf", F.expr(_SPARK_TOKS).alias("t"))
            # a one-symbol word contributes no pairs, and must go
            # BEFORE sequence(): Spark's sequence(1, 0) is [1, 0]
            .filter(F.expr("size(t) >= 2"))
            .select(
                "wf",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 1), "
                        "i -> struct(element_at(t, i) AS pa, "
                        "element_at(t, i + 1) AS pb))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p")["pa"].alias("pa"), F.col("p")["pb"].alias("pb"))
            .agg(F.sum("wf").cast("long").alias("cnt"))
        )
        best = pairs.orderBy(
            F.desc("cnt"), F.asc("pa"), F.asc("pb")
        ).limit(1).collect()
        if not best:
            break  # vocabulary exhausted — every word is one symbol
        pa, pb, cnt = best[0]["pa"], best[0]["pb"], best[0]["cnt"]
        merges.append((step, pa, pb, pa + pb, cnt))
        wc = wc.withColumn(
            "seq", F.expr(f"replace(seq, '|{pa}||{pb}|', '|{pa + pb}|')")
        )
        if step % 4 == 0:
            wc = wc.localCheckpoint(eager=True)
    return docs.sparkSession.createDataFrame(merges, schema=B._MERGE_SCHEMA)


def _nested_replace_tokenize(docs, merges, id_col="doc_id", text_col="text"):
    """Reference apply: the trained merges as N nested ``replace``
    literals per word inside one JVM expression, Java \\s+ split and
    Spark rlike word filter — the form tokenize_sql unrolls."""
    chain = B._seq0_spark("w")
    for _, pa, pb, merged, _ in merges:
        chain = f"replace({chain}, '|{pa}||{pb}|', '|{merged}|')"
    # a SQL string literal unescapes backslashes, so double them
    word_re = B._WORD_RE.replace("\\", "\\\\")
    flat = (
        f"flatten(transform("
        f"filter(filter(split(lower(coalesce({text_col}, '')), '\\\\s+'), "
        f"x -> x != ''), x -> x rlike '{word_re}'), "
        f"w -> filter(split({chain}, '\\\\|\\\\|'), x -> x != '')))"
    )
    return docs.select(
        F.col(id_col),
        F.expr(f"cast(size({flat}) as bigint)").alias("bpe_len"),
        F.expr(f"md5(array_join({flat}, ' '))").alias("tok_digest"),
    )


def _by_id(df):
    return {r["doc_id"]: (r["bpe_len"], r["tok_digest"]) for r in df.collect()}


def _assert_arrays_agree(docs, merges):
    """token_arrays runs the same per-document worker as
    tokenize_with_merges: size(toks) is bpe_len and the md5 of the
    space-joined array is tok_digest, document for document."""
    arrays = B.token_arrays(docs, merges).select(
        "doc_id",
        F.size("toks").cast("long").alias("bpe_len"),
        F.md5(F.array_join("toks", " ")).alias("tok_digest"),
    )
    assert _by_id(arrays) == _by_id(B.tokenize_with_merges(docs, merges))


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _collect_merges(df):
    return [tuple(r) for r in sorted(df.collect())]


def _wc_rows(spark, sf_dir, max_words=1000):
    wc = B.word_counts(_docs(spark, sf_dir), max_words=max_words)
    return [(r["w"], r["wf"]) for r in wc.select("w", "wf").collect()]


def test_replay_apply_equals_nested_replace(spark, sf_dir):
    """The mapInPandas replay worker must reproduce the nested-replace
    expression form token-exactly (same merge table, real corpus)."""
    docs = _docs(spark, sf_dir)
    merges = _collect_merges(_train_merges_rounds(docs, n_merges=12))
    ref = _by_id(_nested_replace_tokenize(docs, merges))
    assert _by_id(B.tokenize_with_merges(docs, merges)) == ref and len(ref) > 0


def test_local_trainer_equals_spark_round_trainer(spark, sf_dir):
    """Driver-local sequential training == the r11 per-round Spark
    aggregation trainer, row for row (same word table, same depth)."""
    docs = _docs(spark, sf_dir)
    spark_rows = _collect_merges(_train_merges_rounds(docs, n_merges=40))
    local = B.train_merges_local(_wc_rows(spark, sf_dir), 40)
    assert [tuple(m) for m in local] == spark_rows


def test_local_trainer_exhaustion_parity(spark):
    """Early stop on an exhausted vocabulary: both trainers must stop
    at the same step with identical tables (tiny corpus: one word)."""
    docs = spark.createDataFrame([(1, "ab ab ab")], ["doc_id", "text"])
    spark_rows = _collect_merges(_train_merges_rounds(docs, n_merges=10))
    wc = B.word_counts(docs)
    local = B.train_merges_local(
        [(r["w"], r["wf"]) for r in wc.select("w", "wf").collect()], 10
    )
    assert [tuple(m) for m in local] == spark_rows
    assert len(local) == 2  # (a,b) -> ab, (ab,</w>) -> ab</w>, then done


def test_word_counts_drops_words_ending_in_a_line_terminator(spark):
    """The [a-z0-9]+ word filter anchors at the true end of the word:
    Java's ``$`` also matches before a final U+2028, which would keep
    'ab\\u2028' in the trainer's vocabulary while the DuckDB oracles
    (RE2) and the replay apply drop it."""
    docs = spark.createDataFrame(
        [(1, "ab\u2028 cd ab\u2028 ab")], ["doc_id", "text"]
    )
    wc = B.word_counts(docs)
    assert {r["w"]: r["wf"] for r in wc.collect()} == {"ab": 1, "cd": 1}


def test_local_trainer_exhausts_cleanly_at_depth(spark, sf_dir):
    """Full exhaustion run: the 31-word documents vocabulary dies at
    ~106 merges; the trainer must stop, every word must be a single
    token, and the applied-mass identity must hold to the end."""
    wc = _wc_rows(spark, sf_dir)
    applied, state = [], []
    merges = B.train_merges_local(
        wc, 10_000, applied_out=applied, state_out=state
    )
    assert 0 < len(merges) < 10_000
    assert all(len(toks) == 1 for toks, _ in state)
    initial = sum(wf * (len(w) + 1) for w, wf in wc)
    assert sum(wf * len(t) for t, wf in state) == initial - sum(applied)


def test_batched_b1_equals_sequential(spark, sf_dir):
    """batch=1 batched training IS the sequential trainer (the
    property the seq_prefix oracle relies on)."""
    docs = _docs(spark, sf_dir)
    batched = _collect_merges(
        BS.train_merges_batched(docs, rounds=20, batch=1)
    )
    local = B.train_merges_local(_wc_rows(spark, sf_dir), 20)
    assert [tuple(m) for m in local] == batched


def test_dispatch_thresholds(spark, sf_dir, monkeypatch):
    """No merge-count threshold is left: at 70 merges train_merges is
    the driver trainer and tokenize_with_merges still equals the
    nested-replace reference.  The one threshold is the driver's
    word-table cap: above DRIVER_VOCAB_MAX train_merges raises and
    names the batched trainer instead of switching paths."""
    docs = _docs(spark, sf_dir)
    n = 70
    trained = _collect_merges(B.train_merges(docs, n_merges=n))
    local = B.train_merges_local(_wc_rows(spark, sf_dir), n)
    assert [tuple(m) for m in local] == trained
    assert _by_id(B.tokenize_with_merges(docs, trained)) == _by_id(
        _nested_replace_tokenize(docs, trained)
    )
    monkeypatch.setattr(B, "DRIVER_VOCAB_MAX", 4)
    assert B.train_merges(docs, n_merges=2, max_words=4).count() == 2
    with pytest.raises(ValueError, match="train_merges_batched"):
        B.train_merges(docs, max_words=B.DRIVER_VOCAB_MAX + 1)


def test_tokenize_large_null_and_empty_text(spark):
    """NULL / empty / non-word documents tokenize to the empty stream
    (bpe_len 0, md5('') digest) — the r11 ADVICE contract."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "!!! ???"), (4, "ab")], schema=schema
    )
    merges = [(1, "a", "b", "ab", 1)]
    rows = _by_id(B.tokenize_with_merges(docs, merges))
    empty_digest = hashlib.md5(b"").hexdigest()
    for did in (1, 2, 3):
        assert rows[did] == (0, empty_digest)
    assert rows[4] == (2, hashlib.md5(b"ab </w>").hexdigest())
    # the nested-replace reference agrees on the same frame
    assert _by_id(_nested_replace_tokenize(docs, merges)) == rows
    _assert_arrays_agree(docs, merges)


def test_invariants_all_green_on_synth(spark, sf_dir):
    """The full-depth invariant package holds on the synthetic corpus
    (driver-local 2048-round run at sf0.001)."""
    from hadoop_20_warehouse_spark.inventory_analytics import _bpe_synth_docs

    docs = _bpe_synth_docs(spark, sf_dir)
    rows = {
        r["metric"]: r["val"]
        for r in BS.train_large_invariants(docs, n_merges=2048).collect()
    }
    assert rows["n_merges"] == 2048
    for k in (
        "applied_mass_ok",
        "replay_matches_training",
        "counts_nonincreasing",
        "merged_concat_ok",
        "steps_contiguous",
        "vocab_closure_ok",
    ):
        assert rows[k] == 1, k
    assert rows["initial_symbols"] > 0


def test_replay_word_overlap_semantics():
    """Runs merge non-overlapping left-to-right, exactly like
    replace('|a||a|', '|aa|'): 'aaaa' -> [aa, aa, </w>],
    'aaa' -> [aa, a, </w>]."""
    m = [("a", "a", "aa")]
    assert B.replay_word("aaaa", m) == ["aa", "aa", "</w>"]
    assert B.replay_word("aaa", m) == ["aa", "a", "</w>"]
    # chained merges replay in order
    m2 = [("a", "a", "aa"), ("aa", "aa", "aaaa")]
    assert B.replay_word("aaaa", m2) == ["aaaa", "</w>"]


def test_replay_indexed_equals_plain():
    """The substring-prefiltered replay must equal the full-scan
    replay on adversarial inputs: duplicate merged strings with
    different splits, runs, EOW-suffix merges, merges that never fire,
    and random hex words under a trained-at-depth table."""
    import random

    rng = random.Random(12)
    # hand-built adversarial table: ("a","bc") and ("ab","c") both
    # produce "abc"; EOW merges; dead merges
    merges3 = [
        ("a", "b", "ab"),
        ("b", "c", "bc"),
        ("a", "bc", "abc"),
        ("ab", "c", "abc"),
        ("abc", "</w>", "abc</w>"),
        ("z", "z", "zz"),
        ("zz", "zz", "zzzz"),
        ("q", "x", "qx"),  # never fires below
    ]
    idx = B.build_merge_index(merges3)
    for w in ["abc", "abcabc", "aabbcc", "zzzzz", "abca", "cab", "a", "zzz"]:
        assert B.replay_word_indexed(w, idx) == B.replay_word(w, merges3), w
    # random words under a table trained on them
    words = [
        "".join(rng.choice("0123456789abcdef") for _ in range(rng.randint(1, 24)))
        for _ in range(200)
    ]
    wc = [(w, 1) for w in sorted(set(words))]
    trained = B.train_merges_local(wc, 300)
    t3 = [(m[1], m[2], m[3]) for m in trained]
    tidx = B.build_merge_index(t3)
    for w in words:
        assert B.replay_word_indexed(w, tidx) == B.replay_word(w, t3), w


def test_batched_short_round_strict_and_warn(spark):
    """ADVICE r12: a round yielding fewer than ``batch`` pairs makes
    the fixed rounds*batch SQL oracle silently diverge — strict=True
    must raise, and the default must warn loudly while still
    returning the partial table."""
    import warnings

    # one word 'ab' -> exactly 2 merges possible; rounds*batch = 40
    docs = spark.createDataFrame([(1, "ab ab ab")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="near exhaustion"):
        BS.train_merges_batched(docs, rounds=4, batch=10, strict=True)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = BS.train_merges_batched(docs, rounds=4, batch=10)
    assert any("short round" in str(w.message) for w in caught)
    assert out.count() == 2  # (a,b)->ab, (ab,</w>)->ab</w>
    # full batches raise nothing even under strict
    full = BS.train_merges_batched(docs, rounds=2, batch=1, strict=True)
    assert full.count() == 2


def test_tokenize_large_unicode_whitespace_matches_small(spark):
    """ADVICE r12 (medium): the replay apply must split on JAVA \\s
    (ASCII [ \\t\\n\\x0b\\f\\r]) like the nested-replace reference
    and the trainer's word_counts — python re \\s also matches
    U+00A0/U+2028 etc., which would tokenize the same (docs, merges)
    input differently from the vocabulary it was trained on."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = spark.createDataFrame(
        [
            (1, "ab ab"),       # NBSP: NOT whitespace in Java \s
            (2, "ab ab"),       # LINE SEPARATOR: same
            (3, "ab ab"),       # OGHAM SPACE MARK: same
            (4, "ab\tab\nab\x0bab\fab\rab ab"),  # all Java \s chars
            (5, "ab  ab"),      # NBSP adjacent to real space
        ],
        schema=schema,
    )
    merges = [(1, "a", "b", "ab", 1)]
    large = _by_id(B.tokenize_with_merges(docs, merges))
    assert _by_id(_nested_replace_tokenize(docs, merges)) == large
    _assert_arrays_agree(docs, merges)
    # the NBSP-glued token fails the [a-z0-9]+ filter on BOTH sides ->
    # empty stream; the Java-\s doc yields 7 'ab' words -> 14 tokens
    empty_digest = hashlib.md5(b"").hexdigest()
    assert large[1] == (0, empty_digest)
    assert large[4][0] == 14
    # NBSP glues to the first word, second survives the space split
    assert large[5][0] == 2
