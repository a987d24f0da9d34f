"""Byte-pair-encoding tokenizer induction and application (Sennrich,
Haddow, Birch, "Neural Machine Translation of Rare Words with Subword
Units", ACL 2016 — the BPE vocabulary every modern pretraining
pipeline trains between curation and packing).

The repo already had the single merge-STEP statistic
(text_bpe_pair_stats); this module adds the trainer and the
vocab-apply tokenizer, so the pack_token_* family can count REAL
subword tokens instead of whitespace words.

Spark shape (100 TB posture):

- Training: the corpus contributes exactly ONE shuffle, the
  word-frequency partial agg (the BPE trick — pair statistics run over
  the DISTINCT-WORD table weighted by frequency, never over raw corpus
  positions).  The word table is capped to the ``max_words`` most
  frequent words (TakeOrdered, the standard practice — top ~1M words
  carry ~all the mass of a web corpus), so it is bounded metadata:
  :func:`train_merges` collects it once and runs the exact sequential
  rounds on the driver with an incremental pair-count index — zero
  Spark jobs per round, whatever the merge count.  Vocabularies capped
  above ``DRIVER_VOCAB_MAX`` train with
  bpe_scale.train_merges_batched instead.
- Applying a trained vocabulary is ONE Arrow-batched ``mapInPandas``
  corpus pass — the Streaming contract of one external worker per
  input partition (PipeMapRed.java): the merge table is broadcast,
  each worker REPLAYS it per distinct word (memoized) and emits
  per-document results.  Replay gives each merge one left-to-right
  non-overlapping pass, exactly the oracle's replace chain, including
  where two merges produce the same token string (rank-greedy heaps
  diverge there).  No shuffle; the cost is flat in merge count, and
  the same pass runs on batch and streaming frames.

Cross-engine determinism (the repo's oracle discipline): BPE is
all-integer — pair counts are exact longs, ties break lexicographically
on (pair_a, pair_b), and the merged-token strings are byte-exact — so
the DuckDB oracle reproduces the ENTIRE merge sequence bit-for-bit by
unrolling the N rounds as generated CTE stages.  No floats anywhere.

Token-sequence encoding (the oracle's and the word-table chain's): a
word's symbol sequence is carried as a ``||``-delimited string with
DOUBLE delimiters at every boundary (``||h||e||y||</w>||``).  Applying
merge (a, b) is then ``replace(seq, '|a||b|', '|ab|')``: the pattern
consumes ONE bar from each side's pair, so the surviving bars still
mark the boundary for the next non-overlapping left-to-right match —
exactly BPE's greedy single-pass semantics, including runs (``a a a
a`` with merge (a,a) → ``aa aa``), in plain (non-regex) ``replace``.
The replay worker's :func:`_one_pass` is the same pass over a token
list.  Words are restricted to ``[a-z0-9]+`` so the delimiter can
never collide (normalization is standard; the filter is explicit and
documented in the word-count stage).

Reference lineage: the reference has no tokenizer induction; the
iterate-a-small-state-table shape is its AggregateWordCount /
iterative-job chaining pattern (examples/AggregateWordCount.java,
jobcontrol chaining) applied to a vocabulary state.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hadoop_20_warehouse_spark.functions import text as T

DEFAULT_N_MERGES = 12
DEFAULT_MAX_WORDS = 1000

# Word-table size up to which train_merges collects the capped table
# to the driver: the collect is max_words rows of short strings — a few
# MB at this bound, far under spark.driver.maxResultSize.  Larger caps
# train with bpe_scale.train_merges_batched (O(merges/batch) bounded
# Spark jobs, the word table never leaves the cluster).
DRIVER_VOCAB_MAX = 262_144

# end-of-word marker (Sennrich et al. §3) — lets merges learn
# word-final subwords; contains no delimiter bars and cannot collide
# with [a-z0-9]+ word characters.
_EOW = "</w>"

# \z, not $: Java's $ also matches before a final line terminator
# (U+2028, U+0085, ...), which RE2 (the DuckDB oracles) and the
# replay apply's \Z do not.  Both Java rlike and RE2 accept \z.
_WORD_RE = r"^[a-z0-9]+\z"

# Worker-side normalization for the replay apply.  The whitespace
# split is an ASCII-explicit class, NOT python \s: the trainer's
# word_counts and the DuckDB oracles split on Java/ASCII whitespace
# ([ \t\n\x0B\f\r]), while python re \s also matches
# U+00A0/U+1680/U+2028/... — on text carrying Unicode whitespace the
# apply would tokenize differently from the trainer (ADVICE r12).
# lower() is likewise python-vs-JVM; the [a-z0-9]+ word filter confines
# the surviving vocabulary to ASCII, and the documented contract is
# ASCII-text corpora (non-ASCII WORDS are filtered identically because
# neither engine's lower() maps non-ASCII into [a-z0-9]).
_WORD_APPLY_RE = re.compile(r"[a-z0-9]+\Z")
_WS_APPLY_RE = re.compile(r"[ \t\n\x0b\f\r]+")

_MERGE_SCHEMA = StructType(
    [
        StructField("step", LongType()),
        StructField("pair_a", StringType()),
        StructField("pair_b", StringType()),
        StructField("merged", StringType()),
        StructField("pair_count", LongType()),
    ]
)


def _seq0_spark(w: str) -> str:
    """SQL text: the initial ||-encoded char sequence + marker for
    word column ``w``."""
    return (
        f"concat('||', array_join(transform(sequence(1, length({w})), "
        f"i -> substring({w}, i, 1)), '||'), '||{_EOW}||')"
    )


def _seq0_duck(w: str) -> str:
    return (
        f"'||' || array_to_string(list_transform(generate_series(1, length({w})), "
        f"i -> substr({w}, i, 1)), '||') || '||{_EOW}||'"
    )


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int = DEFAULT_MAX_WORDS,
) -> DataFrame:
    """(w, wf, seq): the ``max_words`` most frequent [a-z0-9]+ words
    (count DESC, word ASC — deterministic cap) with their initial
    symbol-sequence encoding.  One corpus shuffle (word-count partial
    agg), then a TakeOrdered cap."""
    words = docs.select(
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w")
    ).filter(F.col("w").rlike(_WORD_RE))
    wc = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
        .orderBy(F.desc("wf"), F.asc("w"))
        .limit(max_words)
    )
    return wc.withColumn("seq", F.expr(_seq0_spark("w")))


# ---------------------------------------------------------------------------
# pure-python kernel (driver trainer + worker apply share it)
# ---------------------------------------------------------------------------


def _one_pass(toks: list, pa: str, pb: str, merged: str) -> list:
    """One left-to-right NON-OVERLAPPING merge pass — exactly
    ``replace(seq, '|pa||pb|', '|merged|')`` on the delimited
    encoding (module docstring)."""
    out: list = []
    i, n = 0, len(toks)
    while i < n:
        if i + 1 < n and toks[i] == pa and toks[i + 1] == pb:
            out.append(merged)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def replay_word(word: str, merges3: list) -> list:
    """Tokenize one word by REPLAYING the merge sequence in training
    order (``merges3`` = [(pa, pb, merged), ...]): each merge that has
    an adjacent occurrence gets one non-overlapping pass.  A
    present-pair set makes skipping absent merges O(1), so the scan
    over a 32k-merge table costs 32k set probes per DISTINCT word
    (memoized per worker by the callers)."""
    toks = list(word) + [_EOW]
    if len(toks) < 2:
        return toks
    present = set(zip(toks, toks[1:]))
    for pa, pb, merged in merges3:
        if (pa, pb) not in present:
            continue
        toks = _one_pass(toks, pa, pb, merged)
        if len(toks) < 2:
            break
        present = set(zip(toks, toks[1:]))
    return toks


def build_merge_index(merges3: list) -> dict:
    """merged-string → list of (rank, pa, pb, merged) in rank order —
    the apply-side prefilter: a merge can only ever fire on a word if
    its MERGED string is a contiguous region of word+EOW (every token
    is one), so a word's relevant merges are found by enumerating its
    O(L²) substrings instead of scanning the whole table (32k probes →
    ~L² lookups per distinct word; measured 18-63x at 32k merges,
    PLANS.md r12).  Duplicate merged strings (two merges with
    different splits producing the same token) keep ALL their entries,
    preserving exact replay order."""
    idx: dict = {}
    for rank, (pa, pb, merged) in enumerate(merges3):
        idx.setdefault(merged, []).append((rank, pa, pb, merged))
    return idx


def replay_word_indexed(word: str, merge_index: dict) -> list:
    """:func:`replay_word` through the substring prefilter — identical
    output (property-tested), O(L² + |relevant| log) per distinct
    word instead of O(n_merges)."""
    relevant: list = []
    L = len(word)
    seen: set = set()
    for i in range(L):
        for j in range(i + 1, L + 1):
            s = word[i:j]
            if s not in seen:
                seen.add(s)
                hit = merge_index.get(s)
                if hit:
                    relevant.extend(hit)
        s = word[i:] + _EOW
        hit = merge_index.get(s)
        if hit:
            relevant.extend(hit)
    hit = merge_index.get(_EOW)
    if hit:
        relevant.extend(hit)
    if not relevant:
        return list(word) + [_EOW]
    relevant.sort()
    return replay_word(word, [(pa, pb, m) for _r, pa, pb, m in relevant])


def train_merges_local(
    wc_rows: list,
    n_merges: int,
    applied_out: list | None = None,
    state_out: list | None = None,
) -> list:
    """The exact sequential BPE trainer over a COLLECTED word table
    (``wc_rows`` = [(word, freq), ...], bounded by the word_counts
    cap).  Incremental pair-count maintenance (only words containing
    the merged pair are touched per round — the standard Sennrich
    indexing), zero Spark jobs.  Returns [(step, pair_a, pair_b,
    merged, pair_count), ...]; stops early when the vocabulary
    exhausts — identical semantics to the per-round Spark aggregation
    the DuckDB oracle unrolls, verified cross-engine to depth 128 by
    bpe_scale.seq_prefix_sql and to exhaustion by the
    trainer-equivalence tests (tests/test_bpe_scale.py).

    ``applied_out`` (optional list) receives the frequency-weighted
    number of merges ACTUALLY APPLIED per round — distinct from the
    selected pair_count when occurrences overlap (a run ``aaa`` counts
    pair (a,a) at two positions but a non-overlapping pass merges only
    one); the invariant package checks final mass against Σ applied.
    ``state_out`` (optional list) receives the trainer's final
    incrementally-evolved (tokens, freq) word states, for the
    replay-equivalence invariant."""
    import heapq
    from collections import Counter, defaultdict

    words: list = [
        [list(w) + [_EOW], int(wf)] for w, wf in wc_rows
    ]
    counts: Counter = Counter()
    where: defaultdict = defaultdict(set)
    for idx, (toks, wf) in enumerate(words):
        for a, b in zip(toks, toks[1:]):
            counts[(a, b)] += wf
            where[(a, b)].add(idx)
    # lazy max-heap over (-cnt, pa, pb): entries go stale when counts
    # change; pops validate against the live Counter.  The argmax was
    # a full O(|pairs|) scan per round, which dominated a 32k-round
    # run (490s → 21s on the 6k-word rehearsal, PLANS.md r12);
    # heap order (cnt DESC, pa ASC, pb ASC) is exactly the scan's.
    heap: list = [(-c, p[0], p[1]) for p, c in counts.items()]
    heapq.heapify(heap)
    merges: list = []
    for step in range(1, n_merges + 1):
        pa = None
        while heap:
            negc, a, b = heapq.heappop(heap)
            if counts.get((a, b)) == -negc:
                pa, pb, cnt = a, b, -negc
                break
        if pa is None:
            break
        merged = pa + pb
        merges.append((step, pa, pb, merged, cnt))
        touched = where.pop((pa, pb), set())
        applied = 0
        changed: set = set()
        for idx in touched:
            toks, wf = words[idx]
            pairs_old = list(zip(toks, toks[1:]))
            if (pa, pb) not in set(pairs_old):
                continue  # stale index entry — word changed earlier
            for a, b in pairs_old:
                counts[(a, b)] -= wf
                changed.add((a, b))
                if counts[(a, b)] <= 0:
                    del counts[(a, b)]
            new = _one_pass(toks, pa, pb, merged)
            applied += (len(toks) - len(new)) * wf
            words[idx][0] = new
            for a, b in zip(new, new[1:]):
                counts[(a, b)] += wf
                changed.add((a, b))
                where[(a, b)].add(idx)
        # re-arm the heap with every pair whose count changed this
        # round (including DECREASES — a pair whose only heap entries
        # carry stale higher counts would otherwise become unreachable)
        for p in changed:
            c = counts.get(p)
            if c:
                heapq.heappush(heap, (-c, p[0], p[1]))
        if applied_out is not None:
            applied_out.append(applied)
    if state_out is not None:
        state_out.extend((toks, wf) for toks, wf in words)
    return merges


def train_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = DEFAULT_N_MERGES,
    max_words: int = DEFAULT_MAX_WORDS,
) -> DataFrame:
    """The BPE trainer: ``n_merges`` rounds of (count adjacent symbol
    pairs weighted by word frequency → merge the most frequent pair,
    ties lexicographic).  Returns the merge TABLE — (step, pair_a,
    pair_b, merged, pair_count) in training order — which IS the
    tokenizer model (apply with :func:`tokenize_with_merges`).

    ONE corpus shuffle (the capped word-count agg), one bounded collect
    (≤ ``max_words`` rows), then :func:`train_merges_local` on the
    driver — no Spark job per round (r18: the per-round aggregation
    form took 2.93 s against 0.59 s at 12 merges / sf0.1, identical
    output; tests/test_bpe_scale.py keeps it as the reference).  Stops
    early if the vocabulary exhausts (every word one symbol); the
    oracle's CASE-guarded stages reproduce the early stop.

    Raises ValueError when ``max_words`` exceeds ``DRIVER_VOCAB_MAX``:
    a word table that large does not belong on the driver, and
    bpe_scale.train_merges_batched is the trainer for it."""
    if max_words > DRIVER_VOCAB_MAX:
        raise ValueError(
            f"train_merges: max_words={max_words} exceeds "
            f"DRIVER_VOCAB_MAX={DRIVER_VOCAB_MAX}, the largest word table "
            f"it collects to the driver; train a vocabulary this large "
            f"with bpe_scale.train_merges_batched"
        )
    wc = word_counts(docs, text_col, max_words).select("w", "wf").collect()
    merges = train_merges_local([(r["w"], r["wf"]) for r in wc], n_merges)
    return docs.sparkSession.createDataFrame(merges, schema=_MERGE_SCHEMA)


def _train_ctes_duck(
    table: str,
    text_col: str,
    n_merges: int,
    max_words: int,
) -> str:
    """The unrolled training CTE chain: w0 (capped word counts with
    initial encodings), then per round i: p{i} pair counts, m{i} the
    1-row argmax, w{i} the merged re-encoding.  CASE-guarded so an
    exhausted vocabulary (empty m{i}) passes seq through unchanged —
    matching the Spark trainer's early stop."""
    stages = [
        f"""w0 AS MATERIALIZED (
  SELECT w, wf, {_seq0_duck("w")} AS seq FROM (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS wf FROM (
      SELECT unnest(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0b\\f\\r]+'),
                    t -> t <> '')) AS w
      FROM {table}
    ) WHERE regexp_matches(w, '{_WORD_RE}')
    GROUP BY w ORDER BY wf DESC, w ASC LIMIT {max_words}
  )
)"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        stages.append(
            f"""p{i} AS MATERIALIZED (
  SELECT t[i] AS pa, t[i + 1] AS pb, CAST(SUM(wf) AS BIGINT) AS cnt
  FROM (SELECT wf, list_filter(string_split(seq, '||'), x -> x <> '') AS t
        FROM {prev}),
       UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  GROUP BY 1, 2
),
m{i} AS MATERIALIZED (
  SELECT CAST({i} AS BIGINT) AS step, pa, pb, pa || pb AS merged, cnt
  FROM p{i} ORDER BY cnt DESC, pa ASC, pb ASC LIMIT 1
),
w{i} AS MATERIALIZED (
  SELECT w, wf,
         CASE WHEN EXISTS (SELECT 1 FROM m{i})
              THEN replace(seq,
                           '|' || (SELECT pa FROM m{i}) || '||' ||
                                  (SELECT pb FROM m{i}) || '|',
                           '|' || (SELECT merged FROM m{i}) || '|')
              ELSE seq END AS seq
  FROM {prev}
)"""
        )
    return ",\n".join(stages)


def train_merges_sql(
    table: str,
    text_col: str = "text",
    n_merges: int = DEFAULT_N_MERGES,
    max_words: int = DEFAULT_MAX_WORDS,
) -> str:
    """DuckDB oracle for :func:`train_merges` — the full merge sequence
    reproduced exactly (integer counts, lexicographic ties)."""
    ctes = _train_ctes_duck(table, text_col, n_merges, max_words)
    union = "\nUNION ALL\n".join(
        f"SELECT step, pa AS pair_a, pb AS pair_b, merged, cnt AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"WITH {ctes}\n{union}".strip()


def _doc_tokens(text, merge_index: dict, memo: dict) -> list:
    """One document's subword tokens in word order — the per-document
    worker of both apply entry points: lower-case, split on ASCII
    whitespace, keep ``[a-z0-9]+`` words (the trainer's normalization),
    replay each distinct word once (``memo`` lives as long as the
    worker's partition).  NULL text is the empty stream."""
    toks: list = []
    if text is None:
        return toks
    for w in _WS_APPLY_RE.split(str(text).lower()):
        if not w or not _WORD_APPLY_RE.match(w):
            continue
        t = memo.get(w)
        if t is None:
            t = memo[w] = replay_word_indexed(w, merge_index)
        toks.extend(t)
    return toks


def _replay_docs(
    docs: DataFrame,
    merges: list,
    id_col: str,
    text_col: str,
    fields: list,
    emit,
) -> DataFrame:
    """The apply pass: one Arrow-batched mapInPandas over (id, text)
    with the merge table broadcast and indexed once per worker.
    ``emit`` turns a batch's per-document token lists into the
    ``fields`` columns.  A pure projection, so it runs on batch and
    streaming frames alike."""
    bc = docs.sparkSession.sparkContext.broadcast(
        [(m[1], m[2], m[3]) for m in merges]
    )
    sel = docs.select(F.col(id_col), F.col(text_col))
    schema = StructType(
        [StructField(id_col, sel.schema[0].dataType), *fields]
    )

    def gen(batches):
        import pandas as pd

        midx = build_merge_index(bc.value)
        memo: dict = {}
        for pdf in batches:
            toks = [_doc_tokens(t, midx, memo) for t in pdf[text_col]]
            yield pd.DataFrame({id_col: pdf[id_col], **emit(toks)})

    return sel.mapInPandas(gen, schema=schema)


def _len_and_digest(toks: list) -> dict:
    import hashlib

    import pandas as pd

    return {
        "bpe_len": pd.array([len(t) for t in toks], dtype="int64"),
        "tok_digest": [
            hashlib.md5(" ".join(t).encode("utf-8")).hexdigest() for t in toks
        ],
    }


def tokenize_with_merges(
    docs: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_len, tok_digest): per-document subword-token count and
    an md5 digest of the space-joined token stream — the corpus
    tokenized with a trained merge table in ONE mapInPandas pass, at
    any merge count.  NULL/empty text → 0 tokens, md5('').

    The digest is computed in the worker: moving it to the JVM as
    ``md5(array_join(toks))`` over :func:`token_arrays` measured
    slower (4-core host, local[4]: 0.41 → 0.70 s at 12 merges, 2.76 →
    4.30 s at 2048).  This pass also beat the nested-replace
    expression it replaced at 12 merges, where that form was
    shortest: 0.37 s against 0.65 s with its input scattered (sf0.1,
    same host)."""
    fields = [
        StructField("bpe_len", LongType()),
        StructField("tok_digest", StringType()),
    ]
    return _replay_docs(docs, merges, id_col, text_col, fields, _len_and_digest)


def token_arrays(
    docs: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, toks array<string>): each document's full subword-token
    array under the trained merges — the same pass as
    :func:`tokenize_with_merges`, emitting the tokens themselves for
    consumers that slice them (dedup/spans.chunk_sliding_windows with
    ``tokens_expr=F.col("toks")``)."""
    fields = [StructField("toks", ArrayType(StringType()))]
    return _replay_docs(
        docs, merges, id_col, text_col, fields, lambda toks: {"toks": toks}
    )


def tokenize_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = DEFAULT_N_MERGES,
    max_words: int = DEFAULT_MAX_WORDS,
) -> str:
    """DuckDB oracle for train→tokenize: the training CTE chain plus a
    per-(doc, word) unroll of the same N replaces (scalar subqueries —
    lambdas can't host subqueries, so words unnest to rows first),
    re-aggregated in word order."""
    ctes = _tokenize_ctes_duck(table, id_col, text_col, n_merges, max_words)
    return f"""
WITH {ctes}
SELECT d.{id_col},
       COALESCE(a.bpe_len, 0) AS bpe_len,
       md5(COALESCE(a.joined, '')) AS tok_digest
FROM {table} d LEFT JOIN docagg a ON a.did = d.{id_col}
""".strip()


def _tokenize_ctes_duck(
    table: str,
    id_col: str,
    text_col: str,
    n_merges: int,
    max_words: int,
) -> str:
    """Training chain + per-(doc, word) merge application, ending at
    ``docagg`` (did, bpe_len, joined) — shared by the tokenize and the
    BPE-driven packing oracles."""
    ctes = _train_ctes_duck(table, text_col, n_merges, max_words)
    stages = [
        f"""wordrows AS MATERIALIZED (
  SELECT {id_col} AS did, u.i AS widx, ws[u.i] AS w
  FROM (SELECT {id_col},
               list_filter(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0b\\f\\r]+'),
                           t -> t <> ''), t -> regexp_matches(t, '{_WORD_RE}')) AS ws
        FROM {table}),
       UNNEST(generate_series(1, len(ws))) AS u(i)
),
s0 AS MATERIALIZED (SELECT did, widx, {_seq0_duck("w")} AS seq FROM wordrows)"""
    ]
    for i in range(1, n_merges + 1):
        stages.append(
            f"""s{i} AS MATERIALIZED (
  SELECT did, widx,
         CASE WHEN EXISTS (SELECT 1 FROM m{i})
              THEN replace(seq,
                           '|' || (SELECT pa FROM m{i}) || '||' ||
                                  (SELECT pb FROM m{i}) || '|',
                           '|' || (SELECT merged FROM m{i}) || '|')
              ELSE seq END AS seq
  FROM s{i - 1}
)"""
        )
    body = ",\n".join(stages)
    return f"""{ctes},
{body},
tokrows AS (
  SELECT did, widx,
         list_filter(string_split(seq, '||'), x -> x <> '') AS ts
  FROM s{n_merges}
),
docagg AS (
  SELECT did,
         CAST(SUM(len(ts)) AS BIGINT) AS bpe_len,
         string_agg(array_to_string(ts, ' '), ' ' ORDER BY widx) AS joined,
         flatten(list(ts ORDER BY widx)) AS toks
  FROM tokrows GROUP BY did
)"""


def pack_bpe_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = DEFAULT_N_MERGES,
    max_words: int = DEFAULT_MAX_WORDS,
    budget: int = 512,
    n_shards: int = 8,
) -> str:
    """DuckDB oracle for BPE-driven token-budget packing: the
    train→tokenize chain supplies per-doc SUBWORD counts, then the
    same md5-shard cumulative-sum placement as pack_token_budget."""
    ctes = _tokenize_ctes_duck(table, id_col, text_col, n_merges, max_words)
    return f"""
WITH {ctes},
d AS (
  SELECT t.{id_col},
         COALESCE(a.bpe_len, 0) AS tok_len,
         CAST(CAST('0x' || substring(md5(CAST(t.{id_col} AS VARCHAR)), 1, 15) AS BIGINT)
              % {n_shards} AS BIGINT) AS shard,
         md5(CAST(t.{id_col} AS VARCHAR)) AS h
  FROM {table} t LEFT JOIN docagg a ON a.did = t.{id_col}
),
c AS (
  SELECT {id_col}, shard, tok_len,
         SUM(tok_len) OVER (PARTITION BY shard ORDER BY h, {id_col}
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM d
)
SELECT {id_col}, shard, tok_len,
       CAST(start_off // {budget} AS BIGINT) AS batch_id,
       CAST(start_off % {budget} AS BIGINT) AS batch_offset
FROM c
""".strip()


def vocab_after_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = DEFAULT_N_MERGES,
    max_words: int = DEFAULT_MAX_WORDS,
) -> DataFrame:
    """(token, freq, n_words) — the SUBWORD VOCABULARY after training:
    every symbol surviving in the capped word table's segmentations,
    with its frequency-weighted occurrence count and the number of
    distinct words containing it.  This is the artifact a tokenizer
    ships (merge table + symbol inventory); cost = the trainer plus
    one vocab-sized explode/agg.

    The merges apply here as a JVM ``replace`` chain over the capped
    word table (≤ ``max_words`` rows), not through the replay worker:
    over a table that small the replay form measured slower (4-core
    host, local[4]: 1.432 against 1.337 s at sf0.1, 1.091 against
    1.023 s at sf0.01).
    bpe_scale.vocab_after_merges_large is the replay form for merge
    tables too long for an expression chain."""
    spark = docs.sparkSession
    merges = [
        tuple(r)
        for r in sorted(
            train_merges(docs, text_col, n_merges, max_words).collect()
        )
    ]
    wc = word_counts(docs, text_col, max_words)
    chain = "seq"
    for _, pa, pb, merged, _ in merges:
        chain = f"replace({chain}, '|{pa}||{pb}|', '|{merged}|')"
    toks = wc.select(
        "w",
        "wf",
        F.explode(
            F.expr(f"filter(split({chain}, '\\\\|\\\\|'), x -> x != '')")
        ).alias("token"),
    )
    return toks.groupBy("token").agg(
        F.sum("wf").cast("long").alias("freq"),
        F.countDistinct("w").cast("long").alias("n_words"),
    )


def vocab_sql(
    table: str,
    text_col: str = "text",
    n_merges: int = DEFAULT_N_MERGES,
    max_words: int = DEFAULT_MAX_WORDS,
) -> str:
    """DuckDB oracle for :func:`vocab_after_merges` — the training
    chain's final word table, exploded and re-aggregated."""
    ctes = _train_ctes_duck(table, text_col, n_merges, max_words)
    return f"""
WITH {ctes},
toks AS (
  SELECT w, wf, unnest(list_filter(string_split(seq, '||'), x -> x <> '')) AS token
  FROM w{n_merges}
)
SELECT token, CAST(SUM(wf) AS BIGINT) AS freq,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
FROM toks GROUP BY token
""".strip()


def chunk_bpe_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = DEFAULT_N_MERGES,
    max_words: int = DEFAULT_MAX_WORDS,
    window: int = 48,
    stride: int = 32,
) -> str:
    """DuckDB oracle for sliding-window chunking over the BPE SUBWORD
    stream: the tokenize chain supplies each doc's token array, then
    the same integer-ceil window/stride/slice/digest rule as
    dedup/spans.chunk_sliding_windows_sql."""
    ctes = _tokenize_ctes_duck(table, id_col, text_col, n_merges, max_words)
    return f"""
WITH {ctes},
staged AS (
  SELECT did AS {id_col}, toks, CAST(len(toks) AS BIGINT) AS n
  FROM docagg
),
counted AS (
  SELECT {id_col}, toks, n,
         CASE WHEN n <= {window} THEN 1
              ELSE 1 + (n - {window} + {stride} - 1) // {stride}
         END AS nc
  FROM staged WHERE n > 0
),
chunks AS (
  SELECT {id_col}, toks, n, CAST(i AS BIGINT) AS chunk_idx,
         toks[CAST(i * {stride} + 1 AS BIGINT) :
              CAST(least(i * {stride} + {window}, n) AS BIGINT)] AS sl
  FROM counted, LATERAL unnest(generate_series(0, nc - 1)) t(i)
)
SELECT {id_col}, chunk_idx,
       CAST(chunk_idx * {stride} + 1 AS BIGINT) AS start_tok,
       CAST(len(sl) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(sl, ' ')) AS chunk_digest
FROM chunks
""".strip()
