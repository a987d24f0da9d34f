"""Tokenizer artifact store (functions/bpe_store.py): round-trip,
version resolution, and the concurrency contract — an auto-assigned
version must never silently replace a committed directory (VERDICT
r13 #5 / ADVICE r13), and explicit-version overwrite swaps via
rename-aside rather than rmtree-then-rename."""

from __future__ import annotations

import os

import pytest

from hadoop_20_warehouse_spark.functions import bpe_store as BST
from hadoop_20_warehouse_spark.functions.bpe import _MERGE_SCHEMA


def _merges_df(spark, rows):
    return spark.createDataFrame(rows, schema=_MERGE_SCHEMA)


def _vocab_df(spark, rows):
    return spark.createDataFrame(rows, "token string, freq long, n_words long")


MERGES_A = [(1, "a", "b", "ab", 10), (2, "ab", "c", "abc", 7)]
MERGES_B = [(1, "x", "y", "xy", 3)]
VOCAB = [("ab", 10, 2), ("c", 7, 1)]


def test_roundtrip_and_latest_resolution(spark, tmp_path):
    store = str(tmp_path / "store")
    v1 = BST.write_tokenizer(
        _merges_df(spark, MERGES_A), _vocab_df(spark, VOCAB), store
    )
    assert v1 == 1
    v2 = BST.write_tokenizer(
        _merges_df(spark, MERGES_B), _vocab_df(spark, VOCAB), store
    )
    assert v2 == 2
    assert BST.list_versions(store) == [1, 2]
    art = BST.read_tokenizer(spark, store)  # latest
    assert art["version"] == 2
    assert BST.load_merges(art) == MERGES_B
    art1 = BST.read_tokenizer(spark, store, version=1)
    assert BST.load_merges(art1) == MERGES_A
    assert art1["manifest"]["n_merges"] == 2


def test_auto_version_race_raises_instead_of_clobbering(
    spark, tmp_path, monkeypatch
):
    """Two writers both resolve version=None to the same number: the
    loser must raise FileExistsError, and the winner's committed
    artifact must survive untouched (simulated by making the loser's
    list_versions read stale)."""
    store = str(tmp_path / "store")
    BST.write_tokenizer(_merges_df(spark, MERGES_A), _vocab_df(spark, VOCAB), store)
    monkeypatch.setattr(BST, "list_versions", lambda p: [])  # stale read
    with pytest.raises(FileExistsError):
        BST.write_tokenizer(
            _merges_df(spark, MERGES_B), _vocab_df(spark, VOCAB), store
        )
    monkeypatch.undo()
    # winner untouched, and no _tmp litter left behind
    art = BST.read_tokenizer(spark, store, version=1)
    assert BST.load_merges(art) == MERGES_A
    assert [n for n in os.listdir(store) if n.startswith("_tmp")] == []


def test_explicit_version_overwrite_swaps_cleanly(spark, tmp_path):
    store = str(tmp_path / "store")
    BST.write_tokenizer(
        _merges_df(spark, MERGES_A), _vocab_df(spark, VOCAB), store, version=7
    )
    BST.write_tokenizer(
        _merges_df(spark, MERGES_B), _vocab_df(spark, VOCAB), store, version=7
    )
    assert BST.list_versions(store) == [7]
    art = BST.read_tokenizer(spark, store, version=7)
    assert BST.load_merges(art) == MERGES_B
    assert [n for n in os.listdir(store) if n.startswith("_old")] == []


def test_version_sequences_match_dict_model(spark, tmp_path):
    """Randomized write sequences (auto + explicit + explicit
    overwrite) against a dict model: list_versions, latest resolution,
    and per-version reload must all match the model after every step.
    Deterministic seed — spinning a Spark write per step is too slow
    for hypothesis' example budget, so this is a fixed 16-step walk
    over the same operation space."""
    import random

    rng = random.Random(20260815)
    store = str(tmp_path / "walk")
    model: dict[int, list] = {}
    tables = {i: [(1, "a", "b", "ab", i)] for i in range(1, 6)}
    for step in range(16):
        tbl = rng.choice(list(tables))
        rows = tables[tbl]
        if rng.random() < 0.5 or not model:
            v = BST.write_tokenizer(
                _merges_df(spark, rows), _vocab_df(spark, VOCAB), store
            )
            assert v == (max(model) + 1 if model else 1)  # auto = next
        else:
            v = rng.choice([rng.choice(list(model)), max(model) + 2])
            BST.write_tokenizer(
                _merges_df(spark, rows), _vocab_df(spark, VOCAB), store,
                version=v,
            )
        model[v] = rows
        assert BST.list_versions(store) == sorted(model)
        latest = BST.read_tokenizer(spark, store)
        assert latest["version"] == max(model)
        probe = rng.choice(list(model))
        art = BST.read_tokenizer(spark, store, version=probe)
        assert BST.load_merges(art) == model[probe]


def test_auto_rename_window_race_raises_file_exists(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14: a winner committing `final` INSIDE the window
    between the isdir pre-check and os.rename makes the loser's rename
    fail with ENOTEMPTY — that outcome must surface as the documented
    retryable FileExistsError, not a bare OSError."""
    store = str(tmp_path / "store")
    BST.write_tokenizer(_merges_df(spark, MERGES_A), _vocab_df(spark, VOCAB), store)
    # The "winner": v2 committed on disk (non-empty so rename can't
    # replace it), but invisible to the loser's pre-check.
    final = os.path.join(store, "v00002")
    os.makedirs(final)
    with open(os.path.join(final, "winner"), "w") as fh:
        fh.write("x")
    monkeypatch.setattr(BST, "list_versions", lambda p: [1])  # auto -> 2
    real_isdir = os.path.isdir
    seen = {"precheck": False}

    def stale_isdir(p):
        if os.path.abspath(str(p)) == os.path.abspath(final) and not seen["precheck"]:
            seen["precheck"] = True  # pre-check misses the winner once
            return False
        return real_isdir(p)

    monkeypatch.setattr(BST.os.path, "isdir", stale_isdir)
    with pytest.raises(FileExistsError, match="retry"):
        BST.write_tokenizer(
            _merges_df(spark, MERGES_B), _vocab_df(spark, VOCAB), store
        )
    monkeypatch.undo()
    # winner untouched, no staging litter
    with open(os.path.join(final, "winner")) as fh:
        assert fh.read() == "x"
    assert [n for n in os.listdir(store) if n.startswith("_tmp")] == []


def test_failed_staging_write_cleans_tmp(spark, tmp_path, monkeypatch):
    """ADVICE r14: if a staged parquet write throws, the partial
    `_tmp_v*` directory must be removed before the error propagates."""
    store = str(tmp_path / "store")
    merges = _merges_df(spark, MERGES_A)
    vocab = _vocab_df(spark, VOCAB)
    orig_parquet = type(vocab.write).parquet

    def boom(self, path, *a, **kw):
        if path.rstrip("/").endswith("vocab"):
            raise RuntimeError("staged write failed")
        return orig_parquet(self, path, *a, **kw)

    monkeypatch.setattr(type(vocab.write), "parquet", boom)
    with pytest.raises(RuntimeError, match="staged write failed"):
        BST.write_tokenizer(merges, vocab, store)
    monkeypatch.undo()
    assert [n for n in os.listdir(store) if n.startswith("_tmp")] == []
    assert BST.list_versions(store) == []
