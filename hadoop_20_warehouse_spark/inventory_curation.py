"""Inventory: corpus-curation operators — the data-quality stages a
pretraining pipeline runs between raw scrape and shard export:
repetition-based quality filtering, train/eval n-gram decontamination,
stopword scrubbing, deterministic fixed-k sampling, int8 embedding
quantization, a trained-quantizer ANN, PII redaction, C4-style exact
span dedup, and token-budget sequence packing (the last two backed by
dedup/spans.py library functions).

Design rules shared with inventory_llm.py: every computed value is
either an exact integer, a boolean derived from integer comparisons,
a digest, or a division of exact integers in double — so every query
(except the iterative k-means one) has a bit-exact DuckDB oracle.
All per-document statistics are row-local array expressions in
whole-stage codegen (no explode, no shuffle) — at 100 TB each stage
is a pure map over the scan except where a join is the semantics
(decontamination's gram join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.functions import text as T
from hadoop_20_warehouse_spark.registry import register

# ===========================================================================
# Repetition-based quality filtering (the Gopher-style repetition gates:
# most-frequent-token fraction and repeated-bigram count, reduced to
# integer thresholds so the flag is bit-reproducible)
# ===========================================================================


def _top_freq(arr) -> F.Column:
    """Highest multiplicity of any element in ``arr`` (0 for empty),
    computed row-locally: sort the array once, then ONE aggregate pass
    tracking (prev, current-run, best-run) — equal elements are
    adjacent after the sort, so the longest run IS the top
    multiplicity.  O(n log n) per row; the r2 version's nested
    distinct×filter scan was O(distinct·n) per row — 10^8+ comparisons
    on a 10^4-token web document, a single-row straggler hazard at
    100 TB even with a shuffle-free plan (VERDICT r2).  Still no
    explode, no shuffle.  The whole aggregate is coalesced to 0 so a
    NULL input array yields 0, matching the oracle's COALESCE(...,0)
    contract (F.aggregate over NULL returns NULL)."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
    )

    def step(acc, x):
        run = (
            F.when(acc["prev"].eqNullSafe(x), acc["run"] + F.lit(1))
            .otherwise(F.lit(1))
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.coalesce(
        F.aggregate(F.array_sort(arr), init, step, lambda acc: acc["best"]),
        F.lit(0).cast("long"),
    )


def _bigrams(arr) -> F.Column:
    """Adjacent-token bigram array (empty when < 2 tokens)."""
    return F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.concat(
                F.element_at(arr, i), F.lit(" "), F.element_at(arr, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bg
  FROM t
),
tok_top AS (
  SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_token_n FROM (
    SELECT doc_id, tk, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(toks) AS tk FROM b)
    GROUP BY doc_id, tk)
  GROUP BY doc_id
),
bg_top AS (
  SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_bigram_n FROM (
    SELECT doc_id, g, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(bg) AS g FROM b)
    GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CAST(COALESCE(tt.top_token_n, 0) AS BIGINT) AS top_token_n,
       CAST(len(bg) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(bt.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
       (COALESCE(tt.top_token_n, 0) * 8 >= len(toks)
        OR COALESCE(bt.top_bigram_n, 0) >= 2) AS is_repetitive
FROM b
LEFT JOIN tok_top tt USING (doc_id)
LEFT JOIN bg_top bt USING (doc_id)
"""


@register("text_repetition_stats", oracle=_REPETITION_SQL)
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality gates (the Gopher-report family of filters,
    public literature — PAPERS.md): per-document most-frequent-token
    multiplicity and most-repeated-bigram multiplicity, flagged with
    integer-threshold rules (top token >= 1/8 of tokens, any bigram
    repeated).  Entirely row-local array math — one pass over the
    scan, no explode: at 100 TB this is a pure map.  ``scatter``
    spreads a single-split local input across cores before the
    CPU-dense sort+run-length work; a production scan that already
    plans enough tasks passes through with no shuffle."""
    from hadoop_20_warehouse_spark.session import scatter

    docs = scatter(load_table(spark, sf_dir, "documents"))
    stage = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    ).withColumn("bg", _bigrams(F.col("toks")))
    stats = stage.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        _top_freq(F.col("toks")).alias("top_token_n"),
        F.size("bg").cast("long").alias("n_bigrams"),
        _top_freq(F.col("bg")).alias("top_bigram_n"),
    )
    return stats.withColumn(
        "is_repetitive",
        (F.col("top_token_n") * 8 >= F.col("n_tokens"))
        | (F.col("top_bigram_n") >= 2),
    )


# ===========================================================================
# Train/eval decontamination (n-gram overlap)
# ===========================================================================

_DECONTAMINATE_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '') AS toks
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM t WHERE len(toks) >= 3)
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM tr GROUP BY doc_id),
hits AS (
  SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM tr JOIN ev USING (gram)
  GROUP BY tr.doc_id
)
SELECT h.doc_id, s.n_grams, h.n_overlap,
       CAST(h.n_overlap AS DOUBLE) / s.n_grams AS frac_contaminated
FROM hits h JOIN sizes s USING (doc_id)
"""


@register("decontaminate_ngram", oracle=_DECONTAMINATE_SQL)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag train documents sharing any
    word trigram with the held-out eval slice (doc_id % 20 == 0 — the
    stand-in for a benchmark suite).  Shape at 100 TB: distinct grams
    per doc are built row-locally then exploded straight into a
    partial-aggregated distinct; the overlap is a gram equi-join with
    the eval gram set broadcast WHEN ITS SIZE ESTIMATE FITS (real
    benchmark suites are structurally small — PLANS.md), guarded by
    hint_broadcast_if_small so a corpus-proportional eval slice falls
    back to an AQE-chosen join instead of OOMing the driver — the
    train corpus is never shuffled on anything wider than its own gram
    output."""
    from hadoop_20_warehouse_spark.session import hint_broadcast_if_small

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    grams = (
        toks.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + 1),
                        F.element_at(F.col("toks"), i + 2),
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    ev = grams.filter(F.col("doc_id") % 20 == 0).select("gram").distinct()
    tr = grams.filter(F.col("doc_id") % 20 != 0)
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        tr.join(hint_broadcast_if_small(ev), on="gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hits.join(sizes, on="doc_id").select(
        "doc_id",
        "n_grams",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.col("n_grams")).alias(
            "frac_contaminated"
        ),
    )


# ===========================================================================
# Normalization: stopword scrubbing
# ===========================================================================

_SCRUB_STOPS = ", ".join(f"'{s}'" for s in T.STOPWORD_PROFILES["en"])

_SCRUB_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '') AS toks
  FROM documents
),
k AS (
  SELECT doc_id, toks,
         list_filter(toks, t -> NOT list_contains([{_SCRUB_STOPS}], lower(t))) AS kept
  FROM t
)
SELECT doc_id,
       CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       CAST(len(kept) AS BIGINT) AS n_kept,
       md5(array_to_string(kept, ' ')) AS clean_digest
FROM k
"""


@register("text_stopword_scrub", oracle=_SCRUB_SQL)
def q_text_stopword_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level normalization: drop english stopwords, report the
    removal count and an md5 digest of the cleaned text (the digest is
    what a downstream exact-dedup stage would key on — scrub-then-dedup
    composes).  Row-local filter + join, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in T.STOPWORD_PROFILES["en"]])
    stage = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    ).withColumn(
        "kept",
        F.filter(
            F.col("toks"), lambda t: ~F.array_contains(stop_arr, F.lower(t))
        ),
    )
    return stage.select(
        "doc_id",
        (F.size("toks") - F.size("kept")).cast("long").alias("n_removed"),
        F.size("kept").cast("long").alias("n_kept"),
        F.md5(F.array_join("kept", " ")).alias("clean_digest"),
    )


# ===========================================================================
# Deterministic fixed-k sampling
# ===========================================================================

_SAMPLE_K = 100

_SAMPLE_SQL = f"""
SELECT doc_id, lang, source
FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT {_SAMPLE_K}
"""


@register("sample_fixed_k", oracle=_SAMPLE_SQL)
def q_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sample: the k documents with the smallest
    (md5(doc_id), doc_id) — reservoir-sampling semantics made
    engine-portable and re-runnable (same k docs every run, any
    parallelism).  Spark plans TakeOrdered: per-partition partial
    top-k then a k-row shuffle — O(n log k) scan work, never a full
    sort; the percent-sampling sibling is scan_filter_sample
    (SequenceFileInputFilter.PercentFilter lineage)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.md5(F.col("doc_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "doc_id")
        .limit(_SAMPLE_K)
        .drop("_h")
    )


# ===========================================================================
# Embedding int8 quantization
# ===========================================================================

_QUANTIZE_SQL = """
WITH m AS (
  SELECT vec_id, embedding,
         list_aggregate(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))), 'max') AS mx
  FROM embeddings
),
q AS (
  SELECT vec_id, mx,
         CASE WHEN mx > 0
              THEN list_transform(embedding,
                     v -> CAST(floor(CAST(v AS DOUBLE) * 127 / mx) AS BIGINT))
              ELSE list_transform(embedding, v -> CAST(0 AS BIGINT)) END AS qs,
         CAST(len(embedding) AS BIGINT) AS n_dims
  FROM m
)
SELECT vec_id, n_dims,
       CAST(list_aggregate(qs, 'min') AS BIGINT) AS q_min,
       CAST(list_aggregate(qs, 'max') AS BIGINT) AS q_max,
       CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_sum
FROM q
"""


@register("embedding_quantize_int8", oracle=_QUANTIZE_SQL)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = max |v|, code =
    floor(v·127/scale)) with integer summary stats — the compression
    step before shipping embeddings to an ANN index.  floor (not
    round) keeps the codes engine-exact; all outputs are integers.
    Row-local array math, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    stage = emb.withColumn(
        "mx",
        F.array_max(F.transform("embedding", lambda v: F.abs(v.cast("double")))),
    ).withColumn(
        "qs",
        F.when(
            F.col("mx") > 0,
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * 127 / F.col("mx")).cast("long"),
            ),
        ).otherwise(
            F.transform("embedding", lambda v: F.lit(0).cast("long"))
        ),
    )
    return stage.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.array_min("qs").cast("long").alias("q_min"),
        F.array_max("qs").cast("long").alias("q_max"),
        F.aggregate(
            "qs", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
    )


# ===========================================================================
# Trained-quantizer ANN (iterative k-means). Float means aren't
# SQL-reproducible — cluster occupancies can shift at the 6-decimal
# rounding boundary between runs — so the registered query outputs the
# pipeline's EXACT invariants instead of the float-dependent histogram
# (VERDICT r2: upgrade from rows-only to a checkable oracle):
#   k_requested  — the quantizer size asked of train_centroids;
#   n_vectors    — rows surviving the rank-1 assignment == corpus count
#                  (every vector gets exactly one nearest centroid, no
#                  matter where the float means landed), computed FROM
#                  the assignment so the whole train+assign pipeline
#                  must actually run;
#   seed_digest  — md5 over the k init-seed vec_ids (smallest-k by
#                  md5(id), similarity/ivf.py centroids()), proving the
#                  deterministic init picked exactly the right seeds.
# ===========================================================================

_IVF_TRAINED_K = 16

_IVF_TRAINED_SQL = f"""
WITH seeds AS (
  SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM embeddings ORDER BY h, vec_id LIMIT {_IVF_TRAINED_K}
)
SELECT CAST({_IVF_TRAINED_K} AS BIGINT) AS k_requested,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
       (SELECT md5(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY h, vec_id))
        FROM seeds) AS seed_digest
"""


@register("knn_ivf_trained", oracle=_IVF_TRAINED_SQL)
def q_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a Lloyd-trained quantizer (similarity/ivf.py
    train_centroids): 3 k-means rounds from a deterministic md5 seed,
    a broadcast rank-1 assignment of the corpus, then the invariant
    row the oracle can verify exactly (see block comment above).  The
    *search* path the trained table feeds (ivf_topk(cents=...)) reuses
    the oracle-checked knn_ivf plan unchanged."""
    from hadoop_20_warehouse_spark.similarity.ivf import _cells, train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(
        emb, "vec_id", "embedding", k=_IVF_TRAINED_K, iters=3
    )
    # row-local rank-1 assignment against the trained table (no shuffle)
    assign = _cells(emb, "vec_id", "embedding", _IVF_TRAINED_K, 1, cents=cents)
    n_vec = assign.agg(F.count(F.lit(1)).alias("n_vectors"))
    seeds = (
        emb.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(_IVF_TRAINED_K)
    )
    seed_digest = seeds.agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("h", "vec_id"))),
                    lambda s: s["vec_id"].cast("string"),
                ),
                ",",
            )
        ).alias("seed_digest")
    )
    return n_vec.crossJoin(F.broadcast(seed_digest)).select(
        F.lit(_IVF_TRAINED_K).cast("long").alias("k_requested"),
        "n_vectors",
        "seed_digest",
    )


# ===========================================================================
# Corpus-frequency scoring (two-pass: corpus stats -> per-doc score)
# ===========================================================================

_RARE_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '')) AS token
  FROM documents
),
vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_corpus FROM tok GROUP BY token),
total AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS total_tokens FROM vocab)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.n_corpus * 200 < t.total_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN v.n_corpus * 200 < t.total_tokens THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS rare_ratio
FROM tok JOIN vocab v USING (token) CROSS JOIN total t
GROUP BY tok.doc_id
"""


@register("text_rare_token_ratio", oracle=_RARE_SQL)
def q_text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity score — the two-pass shape every
    statistical quality filter shares (build corpus stats, score each
    document against them): a token is 'rare' when its corpus count is
    under 1/200 of all tokens (integer rule, bit-reproducible).  Pass 1
    is wordcount (partial agg absorbs the explode); pass 2 re-joins
    tokens to the vocab on the token key — an equi-join AQE will
    broadcast while the vocab fits and shuffle-join beyond that, both
    correct at 100 TB.  The scalar corpus total rides along as a
    broadcast single-row cross join, never a collect."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_corpus"))
    total = vocab.agg(F.sum("n_corpus").alias("total_tokens"))
    rare = F.col("n_corpus") * 200 < F.col("total_tokens")
    return (
        tok.join(vocab, on="token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(rare, 1).otherwise(0)).alias("n_rare"),
            (
                F.sum(F.when(rare, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("rare_ratio"),
        )
    )


_TFIDF_K = 3

_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY token
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tf, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token) AS rk
  FROM scored
)
SELECT doc_id, token, tf, score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_TFIDF_K}
"""


@register("text_tfidf_topk", oracle=_TFIDF_SQL)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-{k} terms by TF-IDF —
    the classic two-pass corpus-statistics shape (term frequency per
    doc, document frequency per term, score = tf × ln(N/df)).  IDF is
    rounded to 6 decimals before the product (the repo's cross-engine
    float discipline) and ties break on the term, so both engines rank
    identically.

    Scale shape: tf and df are wordcount-style partial aggs (the
    explode is absorbed map-side); scoring is one token-keyed
    equi-join (AQE broadcasts the vocab while it fits) plus the scalar
    N as a broadcast single-row cross join; the final top-{k} window
    partitions on doc_id — high cardinality, so no single task
    inherits more than one doc's terms (bounded by doc length)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    n = tok.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            (
                F.col("tf")
                * F.round(
                    F.log(F.col("n_docs").cast("double") / F.col("df")), 6
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "token", "tf", "score", "rk")
    )


_NLL_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS token FROM documents
),
vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_corpus FROM tok GROUP BY token
),
total AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS total_tokens FROM vocab)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(round(ln(CAST(t.total_tokens AS DOUBLE) / v.n_corpus)
                           * 1000) AS BIGINT)) AS BIGINT) AS nll_milli,
       CAST(SUM(CAST(round(ln(CAST(t.total_tokens AS DOUBLE) / v.n_corpus)
                           * 1000) AS BIGINT)) AS DOUBLE)
         / (1000.0 * COUNT(*)) AS avg_nll
FROM tok JOIN vocab v USING (token) CROSS JOIN total t
GROUP BY tok.doc_id
"""


@register("text_unigram_nll", oracle=_NLL_SQL)
def q_text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score — the statistical-LM
    filter of CCNet (Wenzek et al. 2020 §3.2: rank documents by LM
    negative log-likelihood; low-probability gibberish scores high):
    per-doc average of -ln p(token) under the corpus's own unigram
    model, p(token) = corpus_count/total.

    Cross-engine exactness: each token's -ln p is rounded to INTEGER
    milli-nats BEFORE summing, so the per-doc sum is integer
    (order-independent — a raw double sum would drift between Spark's
    partition-ordered and DuckDB's sequential accumulation) and the
    average divides exact integers.  Same two-pass shape as
    text_rare_token_ratio: wordcount, then one token-keyed equi-join
    + broadcast scalar total, then a doc-keyed agg."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_corpus"))
    total = vocab.agg(F.sum("n_corpus").alias("total_tokens"))
    milli = F.round(
        F.log(F.col("total_tokens").cast("double") / F.col("n_corpus")) * 1000,
        0,
    ).cast("long")
    return (
        tok.join(vocab, on="token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", milli.alias("m"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("m").cast("long").alias("nll_milli"),
            (
                F.sum("m").cast("double") / (F.count(F.lit(1)) * 1000.0)
            ).alias("avg_nll"),
        )
    )


_CLS_SQL = f"""
WITH w AS (
  SELECT i,
         CAST('0x' || substring(md5('{T.CLS_SALT}' || CAST(i AS VARCHAR)), 1, 15)
              AS BIGINT) % 2001 - 1000 AS wm
  FROM generate_series(0, {T.CLS_DIM - 1}) t(i)
),
tok AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS token FROM documents
),
feat AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(token), 1, 15) AS BIGINT) % {T.CLS_DIM} AS i
  FROM tok
),
agg AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(w.wm) AS BIGINT) AS raw_milli
  FROM feat f JOIN w ON w.i = f.i
  GROUP BY f.doc_id
)
SELECT doc_id, n_tokens, raw_milli,
       round(1.0 / (1.0 + exp(-(CAST(raw_milli AS DOUBLE)
                                / (1000.0 * n_tokens)))), 6) AS score,
       (round(1.0 / (1.0 + exp(-(CAST(raw_milli AS DOUBLE)
                                 / (1000.0 * n_tokens)))), 6) >= 0.5) AS keep
FROM agg WHERE n_tokens > 0
""".strip()


@register("text_quality_classifier", oracle=_CLS_SQL)
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, fastText-shaped (Joulin et al.
    2017; the classifier filters of GPT-3/LLaMA data work): per-doc
    logistic score over HASHED bag-of-words features — each token
    indexes w[md5(token) % 256] in a broadcast milli-unit weight
    vector, the doc's raw score is the integer sum (order-independent
    — the repo's cross-engine sum rule), and score =
    sigmoid(raw / (1000·n_tokens)) rounded to 6; keep = score ≥ 0.5
    computed on the ROUNDED value so the cut is engine-stable.

    The scorer is functions/text.classifier_scores, shared with the
    pipeline gates and the stream path.  The weight vector here is
    md5-derived (functions/text.py hashed_weight_array) so the oracle
    can reproduce it; a TRAINED model drops in as the same one-row
    broadcast array.  Scale shape: zero WIDE shuffle — tokenize, hash,
    and sum are one projection against the broadcast weight row; at
    100 TB this is the cheapest possible classifier inference (no
    Python, no explode, no feature join — the explode+join twin is
    what the oracle runs).  r19 optimization
    round (guide §2.5): the projection is CPU-dense (one md5 per
    token, interpreted HOFs) and a single-row-group scan plans ONE
    task, so the input is scattered first (no-op on well-split
    production scans; interleaved A/B at sf0.1: 0.63 → 0.37 s)."""
    from hadoop_20_warehouse_spark.session import scatter

    return T.classifier_scores(
        scatter(load_table(spark, sf_dir, "documents")), "doc_id"
    )


# ===========================================================================
# Per-group quota sampling
# ===========================================================================

_QUOTA_K = 20

_QUOTA_SQL = f"""
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= {_QUOTA_K}
"""


# Salt fan-out for the two-phase quota: phase-1 windows partition on
# (group, salt) so the largest window partition is ~n_group/SALT rows.
# Size ~cluster cores at scale; 32 matches the local harness.
_QUOTA_SALT = 32


@register("sample_per_group", oracle=_QUOTA_SQL)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-group sampling: an exact quota of K documents per
    language, chosen by (md5(doc_id), doc_id) rank — how a pipeline
    rebalances a skewed corpus into a capped per-language mix.

    Scale shape (two-phase exact top-K, VERDICT r2): a window
    partitioned by a low-cardinality key alone routes the entire corpus
    into |langs| partitions — a single-task sort of most of the corpus
    at 100 TB, and AQE cannot split a window partition.  Instead:

    1. Partial top-K within ``(lang, salt)`` subgroups, salt derived
       from the same md5 (deterministic, no rand()).  Every true
       global top-K row is in the top-K of its own subgroup, so no
       candidate is lost; each window partition holds ~n_g/SALT rows.
    2. Re-rank the surviving ≤ K·SALT rows per group — a sliver — with
       the original window to assign the exact global rank.

    Exact-K semantics and the oracle are unchanged."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(_QUOTA_SALT)
    )
    staged = docs.select(
        "doc_id", "lang", h.alias("_h"), salt.alias("_salt")
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy("_h", "doc_id")
    cand = (
        staged.withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= _QUOTA_K)
    )
    w2 = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        cand.select(
            "doc_id", "lang", "_h", F.row_number().over(w2).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= _QUOTA_K)
        .drop("_h")
    )


# ===========================================================================
# Exact corpus summary (scale-safe percentiles: aggregate first, then a
# tiny window over the distinct-value histogram)
# ===========================================================================

_SUMMARY_SQL = """
WITH tc AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '')) AS BIGINT) AS n
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens FROM tc),
hist AS (SELECT n, COUNT(*) AS cnt FROM tc GROUP BY n),
cum AS (SELECT n, SUM(cnt) OVER (ORDER BY n) AS cum FROM hist)
SELECT t.n_docs, t.total_tokens,
       (SELECT MIN(n) FROM cum WHERE cum * 2 >= t.n_docs) AS p50_tokens,
       (SELECT MIN(n) FROM cum WHERE cum * 10 >= t.n_docs * 9) AS p90_tokens,
       (SELECT MIN(n) FROM cum WHERE cum * 100 >= t.n_docs * 99) AS p99_tokens
FROM tot t
"""


@register("corpus_token_summary", oracle=_SUMMARY_SQL)
def q_corpus_token_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-level token statistics with scale-safe exact
    percentiles: per-doc counts collapse into a distinct-count
    histogram FIRST (bounded rows), then the percentile is the
    smallest count whose cumulative frequency crosses the quantile —
    integer percentile_disc semantics, identical in both engines.  No
    global sort of the corpus, no single-partition window over data:
    the only window runs over the tiny histogram."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tc = docs.select(T.token_count(F.col("text")).alias("n"))
    tot = tc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("total_tokens")
    )
    hist = tc.groupBy("n").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).select("n", "cum")
    joined = cum.crossJoin(F.broadcast(tot))
    def pick(pred, name):
        return (
            joined.filter(pred)
            .agg(F.min("n").alias(name))
        )
    p50 = pick(F.col("cum") * 2 >= F.col("n_docs"), "p50_tokens")
    p90 = pick(F.col("cum") * 10 >= F.col("n_docs") * 9, "p90_tokens")
    p99 = pick(F.col("cum") * 100 >= F.col("n_docs") * 99, "p99_tokens")
    return (
        tot.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p90))
        .crossJoin(F.broadcast(p99))
    )


# ===========================================================================
# PII redaction
# ===========================================================================

# Patterns + placeholders live in functions/text.py (PII_PATTERNS);
# redact_pii / pii_counts are the library forms and *_sql their DuckDB
# twins — this query adds only the synthetic augmentation.

# The synthetic corpus contains no PII (word-salad, zero digits), so
# both programs append identical deterministic PII derived from doc_id
# before redacting — the oracle then genuinely checks the regexes and
# the replace-ALL semantics (doc_id % 3 / % 5 rows carry a second
# email/phone, so a first-match-only replace or count diverges).
_PII_AUG_SQL = """
text || ' contact user' || CAST(doc_id AS VARCHAR)
     || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
     || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
     || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
     || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END
     || CASE WHEN doc_id % 5 = 0 THEN ' or 555-0000' ELSE '' END
"""

def _pii_augment() -> F.Column:
    """Spark twin of _PII_AUG_SQL (expects columns text, doc_id)."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        F.expr("(doc_id div 7) % 256").cast("string"),
        F.lit(" call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@corp.io")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" or 555-0000")).otherwise(F.lit("")),
    )


_PII_SQL = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
SELECT doc_id,
       {", ".join(T.pii_counts_sql("t"))},
       md5({T.redact_pii_sql("t")}) AS redacted_digest
FROM aug
"""


@register("pii_redact", oracle=_PII_SQL)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction stage every training-data pipeline
    runs before anything else ships.  Email / IPv4 / phone patterns are
    counted then replaced with typed placeholders; the digest of the
    fully-redacted text is what downstream stages (dedup, sharding) key
    on.  Library forms: functions/text.redact_pii + pii_counts — pure
    JVM ``regexp_replace``/``regexp_count`` expressions: row-local,
    zero shuffles, scales linearly to 100 TB.  (Reference analog:
    RegexMapper's match machinery,
    src/mapred/org/apache/hadoop/mapred/lib/RegexMapper.java:36, turned
    from extraction to redaction.)"""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _pii_augment().alias("t"))
    return aug.select(
        "doc_id",
        *T.pii_counts("t"),
        F.md5(T.redact_pii("t")).alias("redacted_digest"),
    )


# ===========================================================================
# Exact paragraph-level corpus dedup (C4-style)
# ===========================================================================

# Chunk width in tokens. The C4 pipeline (Raffel et al. 2020,
# "Exploring the Limits of Transfer Learning", §2.2) deduplicates
# exact three-sentence spans corpus-wide; the synthetic corpus has no
# sentence boundaries, so fixed 4-token chunks play that role (small
# enough that the ~30-word vocabulary yields real cross-doc duplicate
# chunks to remove).
_PARA_W = 4

_PARA_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[(i*{_PARA_W}+1):(i*{_PARA_W}+{_PARA_W})], ' ') AS chunk
  FROM toks, UNNEST(range(CAST(ceil(len(t) / {_PARA_W}.0) AS BIGINT))) AS u(i)
),
ranked AS (
  SELECT doc_id, pos, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos),
                    '')) AS kept_digest
FROM ranked
GROUP BY doc_id
"""


@register("dedup_paragraph_exact", oracle=_PARA_SQL)
def q_dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact span-level corpus dedup, the C4 recipe: split every
    document into fixed token chunks, keep only the GLOBALLY first
    occurrence of each distinct chunk (ordered by doc_id, then
    position), and reassemble.  Distinct from near-dup (MinHash/SimHash
    drop whole similar DOCUMENTS; this removes repeated SPANS —
    boilerplate, licenses, navigation — from otherwise-unique docs).

    Scale shape: first-occurrence is ``min(struct(doc_id, pos))`` per
    chunk — a partial-aggregable min, so a boilerplate chunk appearing
    in 10M docs is combined map-side instead of sorting one giant
    window partition (deliberately NOT row_number-over-chunk, which has
    no skew escape).  Then one chunk-keyed equi-join marks keepers and
    one doc-keyed agg reassembles.  All shuffles are keyed, no
    all-pairs anywhere.  Library form: dedup/spans.exact_span_dedup
    (property-tested against a pure-Python reference on synthetic
    corpora)."""
    from hadoop_20_warehouse_spark.dedup.spans import exact_span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_span_dedup(docs, chunk_w=_PARA_W)


# ===========================================================================
# Token-budget sequence packing
# ===========================================================================

# Training batches pack documents until a token budget is hit (T5 /
# GPT-style "sequence packing" — Raffel et al. 2020 §3.1.2 pack their
# 512-token inputs the same way).  Deterministic variant: shard by
# portable hash, order within the shard by (md5, doc_id), and cut
# batches at every _PACK_BUDGET tokens of running offset.  The window
# runs PER SHARD — the shard count is the scale knob (thousands at
# 100 TB, each window partition executor-sized), never a corpus-wide
# window.
_PACK_BUDGET = 512
_PACK_SHARDS = 8

_PACK_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '')) AS BIGINT) AS tok_len,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {_PACK_SHARDS} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, shard, tok_len,
         SUM(tok_len) OVER (PARTITION BY shard ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM d
)
SELECT doc_id, shard, tok_len,
       CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS batch_id,
       CAST(start_off % {_PACK_BUDGET} AS BIGINT) AS batch_offset
FROM c
"""


@register("pack_token_budget", oracle=_PACK_SQL)
def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget sequence packing: every document gets
    a (shard, batch_id, batch_offset) placement such that each batch
    carries ~_PACK_BUDGET tokens of consecutive running offset within
    its shard.  The cumulative-sum window is partitioned by the
    portable md5 shard (functions/hashing.md5_bucket — the
    HashPartitioner analog, lib/HashPartitioner.java:36), so partition
    sizes are corpus/shards and the shard count scales the op to any
    corpus; ordering by (md5, doc_id) makes placement reproducible
    across runs and engines.  All integer arithmetic — exact
    cross-engine.  Library form: dedup/spans.pack_token_budget
    (property-tested: contiguous global offsets per shard)."""
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget

    docs = load_table(spark, sf_dir, "documents")
    return pack_token_budget(docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


# ===========================================================================
# Composed curation pipeline: redact -> span-dedup -> quality gate -> pack
# ===========================================================================

# Minimum surviving tokens for a doc to stay in the corpus after span
# dedup; paired with an integer removal-ratio gate (less than half the
# chunks removed). Both all-integer so the gate is bit-reproducible.
_CURATE_MIN_TOKENS = 8

# Shared CTE chain: raw documents -> PII-redacted -> C4 span-dedup ->
# integer quality gate. Ends at ``gated`` (doc_id, n_chunks, n_removed,
# tok_len). Both the curate-pack oracle and the corpus-export oracle
# chain from this prefix so the two queries pin the SAME curated corpus.
_CURATE_GATED_CTES = f"""aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents
),
red AS (
  SELECT doc_id, {T.redact_pii_sql("t")} AS text FROM aug
),
toks AS (
  SELECT doc_id, {T.tokens_sql("text")} AS t FROM red
),
chunks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[(i*{_PARA_W}+1):(i*{_PARA_W}+{_PARA_W})], ' ') AS chunk
  FROM toks, UNNEST(range(CAST(ceil(len(t) / {_PARA_W}.0) AS BIGINT))) AS u(i)
),
ranked AS (
  SELECT doc_id, pos, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM chunks
),
deduped AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos),
                  '') AS kept_text
  FROM ranked
  GROUP BY doc_id
),
gated AS (
  SELECT doc_id, n_chunks, n_removed,
         {T.token_count_sql("kept_text")} AS tok_len
  FROM deduped
  WHERE {T.token_count_sql("kept_text")} >= {_CURATE_MIN_TOKENS}
    AND n_removed * 2 < n_chunks
)"""

_CURATE_SQL = f"""
WITH {_CURATE_GATED_CTES},
sharded AS (
  SELECT doc_id, n_chunks, n_removed, tok_len,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {_PACK_SHARDS} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM gated
),
packed AS (
  SELECT doc_id, n_chunks, n_removed, tok_len, shard,
         SUM(tok_len) OVER (PARTITION BY shard ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM sharded
)
SELECT doc_id, n_chunks, n_removed, shard, tok_len,
       CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS batch_id,
       CAST(start_off % {_PACK_BUDGET} AS BIGINT) AS batch_offset
FROM packed
"""


def _curated_gated(spark: SparkSession, sf_dir: str, keep_stats: bool = False) -> DataFrame:
    """Engine-side twin of _CURATE_GATED_CTES: redact -> C4 span-dedup
    -> integer quality gate.  BOTH composed pipelines (curate_pack,
    export_roundtrip) build their curated corpus HERE, so a gate or
    dedup change provably reaches both (their oracles already share
    the CTE text).  Returns (doc_id, [n_chunks, n_removed,] text)."""
    from hadoop_20_warehouse_spark.dedup.spans import exact_span_dedup
    from hadoop_20_warehouse_spark.session import scatter

    # r18 optimization round: scatter ahead of the redact regex chain
    # so the whole CPU-dense curation head parallelizes (single-file
    # scans plan one task); exact_span_dedup's own scatter then sees
    # the repartition under the projection and passes the input
    # through.  Measured curate_pack 2.35 → 1.72 s / export 3.60 →
    # 2.79 s at sf0.1, hash-identical.
    docs = scatter(load_table(spark, sf_dir, "documents"))
    red = docs.select("doc_id", T.redact_pii(_pii_augment()).alias("text"))
    deduped = exact_span_dedup(red, chunk_w=_PARA_W, keep_text=True)
    gated = deduped.filter(
        (T.token_count(F.col("kept_text")) >= _CURATE_MIN_TOKENS)
        & (F.col("n_removed") * 2 < F.col("n_chunks"))
    )
    cols = ["doc_id"]
    if keep_stats:
        cols += ["n_chunks", "n_removed"]
    return gated.select(*cols, F.col("kept_text").alias("text"))


@register("pipeline_curate_pack", oracle=_CURATE_SQL)
def q_pipeline_curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline as ONE query, chained through the
    library forms a real pipeline would call: redact PII
    (functions/text.redact_pii) -> exact span dedup
    (dedup/spans.exact_span_dedup, keep_text=True) -> all-integer
    quality gate (min surviving tokens + removal-ratio) -> token-budget
    packing (dedup/spans.pack_token_budget with stats passthrough).

    Every stage is individually driver-checked (pii_redact,
    dedup_paragraph_exact, pack_token_budget); this row proves the
    library CONTRACTS COMPOSE — column names, empty-doc handling, and
    text round-tripping between stages — the way the reference chains
    jobs (examples/Grep.java:48-84 two-job pipeline; GridMix
    MONSTERQUERY, benchmarks/gridmix2/.../GridMixRunner.java:230).

    Scale shape is the union of the stages' shapes: redaction and the
    gate are row-local map work; dedup is keyed shuffles only
    (partial-agg min, no windows over unbounded partitions); packing
    windows per md5 shard.  The stats passthrough in pack avoids a
    second corpus-sized join — the pipeline adds ZERO operators beyond
    its stages."""
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget

    gated = _curated_gated(spark, sf_dir, keep_stats=True)
    return pack_token_budget(
        gated,
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
        passthrough=("n_chunks", "n_removed"),
    )


# ===========================================================================
# Deterministic global training-order shuffle
# ===========================================================================

_SHUFFLE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {_PACK_SHARDS} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (ORDER BY shard, h, doc_id) - 1 AS BIGINT) AS global_pos
FROM d
"""


@register("corpus_global_shuffle", oracle=_SHUFFLE_SQL)
def q_corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle — every training run
    starts by enumerating the corpus in pseudo-random order.  The
    oracle states the semantics as one global ROW_NUMBER; the engine
    computes the identical positions with per-shard ranks plus an
    O(shards) prefix-offset broadcast (dedup/spans.global_shuffle_order)
    — the corpus never passes through a single sort partition.  The
    hash-match against the oracle proves the decomposition is exact."""
    from hadoop_20_warehouse_spark.dedup.spans import global_shuffle_order

    docs = load_table(spark, sf_dir, "documents")
    return global_shuffle_order(docs, n_shards=_PACK_SHARDS)


# ===========================================================================
# Token-budget packing WITH splitting (strict-budget variant)
# ===========================================================================

def _split_pack_ctes(src: str) -> str:
    """The strict-budget split CTE chain over ``src`` (must provide
    doc_id, shard, tok_len, h) -> defines ``slices`` (doc_id, shard,
    tok_len, batch_id, slice_id, batch_offset, slice_len).  The
    boundary arithmetic (tok_len=0 degenerate batch, floor-div
    crossing computation) must stay in lockstep with
    dedup/spans.pack_token_budget_split, so every oracle that needs it
    builds it HERE — the same single-source rule _CURATE_GATED_CTES
    applies to the curation prefix."""
    return f"""c_split AS (
  SELECT doc_id, shard, tok_len,
         SUM(tok_len) OVER (PARTITION BY shard ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM {src}
),
s_split AS (
  SELECT doc_id, shard, tok_len, start_off,
         CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS first_b,
         CAST(CASE WHEN tok_len = 0 THEN start_off // {_PACK_BUDGET}
              ELSE (start_off + tok_len - 1) // {_PACK_BUDGET} END AS BIGINT) AS last_b
  FROM c_split
),
slices AS (
  SELECT doc_id, shard, tok_len,
         CAST(i AS BIGINT) AS batch_id,
         CAST(i - first_b AS BIGINT) AS slice_id,
         CAST(GREATEST(start_off, i*{_PACK_BUDGET}) - i*{_PACK_BUDGET} AS BIGINT) AS batch_offset,
         CAST(LEAST(start_off + tok_len, (i+1)*{_PACK_BUDGET})
              - GREATEST(start_off, i*{_PACK_BUDGET}) AS BIGINT) AS slice_len
  FROM s_split, UNNEST(generate_series(first_b, last_b)) AS u(i)
)"""


_PACK_SPLIT_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '')) AS BIGINT) AS tok_len,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {_PACK_SHARDS} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
{_split_pack_ctes("d")}
SELECT doc_id, shard, tok_len, batch_id, slice_id, batch_offset, slice_len
FROM slices
"""


@register("pack_token_split", oracle=_PACK_SPLIT_SQL)
def q_pack_token_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-budget sequence packing: boundary-straddling documents
    are SPLIT into per-batch slices so every batch carries exactly
    _PACK_BUDGET tokens (last batch per shard partial) — the
    counterpart of pack_token_budget's pack-without-splitting
    semantics.  Library form: dedup/spans.pack_token_budget_split
    (property-tested: slices reassemble to tok_len, full batches fill
    exactly)."""
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget_split

    docs = load_table(spark, sf_dir, "documents")
    return pack_token_budget_split(docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


def _chunk_sliding_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.spans import chunk_sliding_windows_sql

    return chunk_sliding_windows_sql("documents")


def _classifier_gate(docs: DataFrame, *cols: str) -> DataFrame:
    """The quality-classifier gate as a reusable stage: ``docs`` kept
    where functions/text.classifier_scores says keep (the scorer of
    q_text_quality_classifier, inline on the scan with zero shuffle),
    projected to ``cols``.  Shared by the classifier->SemDeDup->chunk
    pipeline and the release endgames so every composition pins the
    SAME gate."""
    return T.classifier_scores(docs, *cols).filter("keep").select(*cols)


def _cls_sem_chunk_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.semantic import (
        semantic_dedup_removed_sql,
    )
    from hadoop_20_warehouse_spark.dedup.spans import chunk_sliding_windows_sql

    return f"""
WITH cls AS (
  SELECT doc_id FROM ( {_CLS_SQL} ) WHERE keep
),
rem AS (
  SELECT vec_id FROM ( {semantic_dedup_removed_sql('embeddings')} )
),
surv AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN cls USING (doc_id)
  LEFT JOIN rem ON rem.vec_id = d.doc_id
  WHERE rem.vec_id IS NULL
)
SELECT * FROM ( {chunk_sliding_windows_sql('surv')} )
""".strip()


@register("pipeline_classifier_semantic_chunk", oracle=_cls_sem_chunk_oracle())
def q_pipeline_classifier_semantic_chunk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The round-10 curation endgame composed: (1) fastText-shaped
    classifier gate computed INLINE on the document scan (a projection
    + filter — no join, the zero-shuffle inference shape), (2)
    SemDeDup removal over the embeddings table anti-joined on doc id,
    (3) sliding-window chunking of the survivors.  One id-keyed
    anti-join is the only corpus-vs-corpus shuffle the composition
    adds to its parts; the oracle is the three stages' SQL composed
    verbatim, so stage wiring (filter direction, anti-join side,
    chunking the survivor set only) is hash-checked end-to-end."""
    from hadoop_20_warehouse_spark.dedup.semantic import semantic_dedup_removed
    from hadoop_20_warehouse_spark.dedup.spans import chunk_sliding_windows

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    gated = _classifier_gate(docs, "doc_id", "text")
    removed = semantic_dedup_removed(emb).select(
        F.col("vec_id").alias("doc_id")
    )
    surv = gated.join(removed, on="doc_id", how="left_anti")
    return chunk_sliding_windows(surv)


@register("doc_chunk_sliding", oracle=_chunk_sliding_oracle())
def q_doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (dedup/spans.py
    chunk_sliding_windows): 32-token windows at stride 24 (8-token
    overlap), tail window always reaching the last token — the
    context-window layout of pretraining corpora and RAG indexes,
    complementing pack_token_split's non-overlapping strict-budget
    slices.  Map-only: tokenize once, explode chunk ordinals, slice +
    digest in the projection; no shuffle, no window function.  Chunk
    counts use exact integer ceil in both engines."""
    from hadoop_20_warehouse_spark.dedup.spans import chunk_sliding_windows

    docs = load_table(spark, sf_dir, "documents")
    return chunk_sliding_windows(docs)


# ===========================================================================
# Corpus-export endgame: curate -> global shuffle -> split-pack ->
# partitioned shard write -> readback digest
# ===========================================================================

from hadoop_20_warehouse_spark.functions.hashing import (  # noqa: E402
    es_sample_key_sql,
    md5_bucket_sql,
    md5_int64_sql,
)

_EXPORT_ROW_SQL = md5_int64_sql(
    "concat_ws('|', doc_id, batch_id, slice_id, batch_offset, "
    "slice_len, global_pos)"
)

_EXPORT_SQL = f"""
WITH {_CURATE_GATED_CTES},
sharded AS (
  SELECT doc_id, tok_len,
         CAST({md5_bucket_sql("CAST(doc_id AS VARCHAR)", _PACK_SHARDS)} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM gated
),
shuffled AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY shard, h, doc_id) - 1 AS BIGINT) AS global_pos
  FROM sharded
),
{_split_pack_ctes("sharded")},
export AS (
  SELECT sl.doc_id, sl.shard, sl.batch_id, sl.slice_id, sl.batch_offset,
         sl.slice_len, sh.global_pos
  FROM slices sl JOIN shuffled sh ON sl.doc_id = sh.doc_id
)
SELECT shard,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_slices,
       CAST(SUM(slice_len) AS BIGINT) AS total_tokens,
       CAST(MIN(global_pos) AS BIGINT) AS first_pos,
       CAST(MAX(global_pos) AS BIGINT) AS last_pos,
       CAST(bit_xor({_EXPORT_ROW_SQL}) AS BIGINT) AS digest
FROM export
GROUP BY shard
"""


@register("corpus_export_roundtrip", oracle=_EXPORT_SQL)
def q_corpus_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-scrape -> training-shards endgame as ONE pipeline:
    redact PII -> C4 span-dedup -> integer quality gate (the
    pipeline_curate_pack stages) -> deterministic global training-order
    shuffle (dedup/spans.global_shuffle_order) -> strict-budget split
    packing (dedup/spans.pack_token_budget_split) -> PHYSICAL
    partitioned shard write (MultipleOutputFormat fan-out analog,
    mapred/lib/MultipleOutputFormat.java:47) -> readback of the written
    shards reduced to one audit row per shard (doc/slice counts, token
    totals, global-position range, and an order-insensitive bit_xor
    content digest over every slice tuple).

    The oracle rebuilds the same corpus with chained CTEs and digests
    it the same way — a hash-match proves the full export path
    (compose, place, split, WRITE, read back) is bit-faithful, the way
    the reference chains jobs into a materialized output dir
    (examples/Grep.java:48-84 two-job temp-dir handoff; GridMix
    MONSTERQUERY GridMixRunner.java:230).

    Scale shape: the curated frame is persisted once (at 100 TB this
    is the staging checkpoint every export job materializes) because
    BOTH the order branch and the pack branch consume it; everything
    else is the stages' own shapes — per-md5-shard cumsum windows,
    O(shards) offset broadcast, row-local boundary explode, one
    doc_id equi-join to attach global_pos, and a partitionBy(shard)
    write whose fan-out is exactly n_shards dirs.  The readback digest
    is one keyed agg over the written files."""
    from hadoop_20_warehouse_spark.dedup.spans import (
        global_shuffle_order,
        pack_token_budget_split,
    )
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    gated = _curated_gated(spark, sf_dir).persist()
    try:
        order = global_shuffle_order(gated, n_shards=_PACK_SHARDS).select(
            "doc_id", "global_pos"
        )
        packed = pack_token_budget_split(
            gated, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
        )
        export = packed.join(order, "doc_id").select(
            "doc_id", "shard", "batch_id", "slice_id", "batch_offset",
            "slice_len", "global_pos",
        )
        path = _fresh_subdir(_scratch_dir("corpus_export"), "shards")
        export.write.partitionBy("shard").parquet(path)
    finally:
        gated.unpersist()
    # explicit readback schema: an all-filtered corpus writes ZERO part
    # files (only _SUCCESS), and schema inference on that dir throws —
    # with the written schema pinned, an empty export reads back as an
    # empty frame and the audit agg returns 0 rows (as the oracle does)
    back = spark.read.schema(export.schema).parquet(path)
    row_fp = md5_int64(
        F.concat_ws(
            "|",
            *[
                F.col(c).cast("string")
                for c in (
                    "doc_id", "batch_id", "slice_id", "batch_offset",
                    "slice_len", "global_pos",
                )
            ],
        )
    )
    return back.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_slices"),
        F.sum("slice_len").cast("long").alias("total_tokens"),
        F.min("global_pos").cast("long").alias("first_pos"),
        F.max("global_pos").cast("long").alias("last_pos"),
        F.bit_xor(row_fp).cast("long").alias("digest"),
    )


# ===========================================================================
# Domain-mixture sampling (training-corpus data mixing)
# ===========================================================================

# Uneven weights over a few sources: src0 partially filled, src1/src2
# smaller cuts, src3 budget exceeds the domain's total (everything
# kept) — covers partial fill, tiny fill, and budget-overflow.
_MIX_BUDGETS = {"src0": 700, "src1": 300, "src2": 150, "src3": 100_000}
_MIX_SHARDS = 8

_MIX_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_BUDGETS.items()
)

from hadoop_20_warehouse_spark.functions.text import token_count_sql  # noqa: E402

_MIX_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         {token_count_sql('text')} AS tok_len,
         CAST({md5_bucket_sql("CAST(doc_id AS VARCHAR)", _MIX_SHARDS)} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE source IN ({", ".join("'" + k + "'" for k in _MIX_BUDGETS)})
),
c AS (
  SELECT doc_id, source, tok_len,
         SUM(tok_len) OVER (PARTITION BY source ORDER BY shard, h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM d
)
SELECT doc_id, source, tok_len, CAST(start_off AS BIGINT) AS start_off
FROM c
WHERE start_off < CASE source {_MIX_CASE} END
"""


@register("corpus_mixture_sample", oracle=_MIX_SQL)
def q_corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: fill per-source token budgets in a
    deterministic pseudo-random order — the data-mixing stage between
    curation and packing (the Pile's weighted source composition, Gao
    et al. 2020 §1; T5 proportional mixing, Raffel et al. 2020
    §3.5.2).  Library form: dedup/spans.mixture_sample.

    The oracle replays the same greedy fill with a domain-wide cumsum
    window; the engine computes identical offsets WITHOUT a per-domain
    window — per-(domain, shard) cumsum plus a broadcast domains x
    shards offset lift — because at 100 TB the dominant domain of a
    web corpus would otherwise sort through one partition.  Exact
    integer arithmetic, bit-equal across engines."""
    from hadoop_20_warehouse_spark.dedup.spans import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(docs, _MIX_BUDGETS, n_shards=_MIX_SHARDS)


# ===========================================================================
# Per-domain epoch expansion (upsampling / fractional repeats)
# ===========================================================================

# 2.4 epochs of src0 (rare-domain over-weighting), 40% subsample of
# src1, explicit 1.0 on src2, every other source defaults to 1 epoch.
_EPOCH_REPEATS = {"src0": 2.4, "src1": 0.4, "src2": 1.0}

_EPOCH_WHOLE_CASE = " ".join(
    f"WHEN '{k}' THEN {int(v)}" for k, v in _EPOCH_REPEATS.items()
)
_EPOCH_MILLE_CASE = " ".join(
    f"WHEN '{k}' THEN {int(round((v - int(v)) * 1000))}"
    for k, v in _EPOCH_REPEATS.items()
)

_EPOCH_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CASE source {_EPOCH_WHOLE_CASE} ELSE 1 END
           + CASE WHEN (CASE source {_EPOCH_MILLE_CASE} ELSE 0 END)
                  > {md5_int64_sql("CAST(doc_id AS VARCHAR)")} % 1000
             THEN 1 ELSE 0 END AS n_copies
  FROM documents
)
SELECT doc_id, source, CAST(i AS BIGINT) AS epoch
FROM d, UNNEST(generate_series(0, n_copies - 1)) AS u(i)
"""


@register("corpus_epoch_expand", oracle=_EPOCH_SQL)
def q_corpus_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain epoch expansion — the upsampling half of data mixing
    (fractional epoch counts per source, the Pile's table-1 recipe;
    Gao et al. 2020): integer part repeats every doc, fractional part
    keeps an extra copy for a deterministic md5-fraction, factors < 1
    subsample.  Library form: dedup/spans.epoch_expand — one row-local
    sequence explode, ZERO shuffles (the oracle replays it with
    generate_series).  Downstream placement of the emitted (doc,
    epoch) copies is global_shuffle_order's job."""
    from hadoop_20_warehouse_spark.dedup.spans import epoch_expand

    docs = load_table(spark, sf_dir, "documents")
    return epoch_expand(docs, _EPOCH_REPEATS)


# ===========================================================================
# Composed mixing recipe: budget-fill -> epoch copies -> global placement
# ===========================================================================

_MIX_PLACE_SHARDS = 8

_MIX_PLACE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         {token_count_sql('text')} AS tok_len,
         CAST({md5_bucket_sql("CAST(doc_id AS VARCHAR)", _MIX_SHARDS)} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE source IN ({", ".join("'" + k + "'" for k in _MIX_BUDGETS)})
),
c AS (
  SELECT doc_id, source, tok_len,
         SUM(tok_len) OVER (PARTITION BY source ORDER BY shard, h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM d
),
mix AS (
  SELECT doc_id, source, tok_len FROM c
  WHERE start_off < CASE source {_MIX_CASE} END
),
sized AS (
  SELECT doc_id, source, tok_len,
         CASE source {_EPOCH_WHOLE_CASE} ELSE 1 END
           + CASE WHEN (CASE source {_EPOCH_MILLE_CASE} ELSE 0 END)
                  > {md5_int64_sql("CAST(doc_id AS VARCHAR)")} % 1000
             THEN 1 ELSE 0 END AS n_copies
  FROM mix
),
keyed AS (
  SELECT doc_id, source, tok_len, CAST(i AS BIGINT) AS epoch,
         CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR) AS copy_key
  FROM sized, UNNEST(generate_series(0, n_copies - 1)) AS u(i)
)
SELECT doc_id, source, epoch, tok_len,
       CAST(ROW_NUMBER() OVER (
         ORDER BY {md5_bucket_sql("copy_key", _MIX_PLACE_SHARDS)},
                  md5(copy_key), copy_key) - 1 AS BIGINT) AS global_pos
FROM keyed
"""


@register("pipeline_mix_place", oracle=_MIX_PLACE_SQL)
def q_pipeline_mix_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixing recipe composed end to end: exact token-budget
    selection per source (mixture_sample) -> fractional epoch copies
    (epoch_expand, on the SURVIVORS — rare kept domains get 2.4
    epochs, one gets 40% subsampled) -> deterministic global training
    order over the (doc, epoch) copies (global_shuffle_order keyed on
    the composite copy key).  This is the "weight and place" half of
    corpus assembly; corpus_export_roundtrip covers the "curate and
    write" half with the same library forms.

    Scale shape: composition adds ZERO joins — every stage carries
    the next stage's payload via passthrough columns (tok_len through
    the epoch explode, everything through the placement rank) — plus
    ONE parquet staging checkpoint before placement
    (global_shuffle_order's rank and counts passes would otherwise
    each re-run the mixture subtree; column pruning gives them
    different projections, so exchange reuse cannot deduplicate).
    The naive composition (re-join tok_len onto the copies, re-join
    positions onto the payload, no staging) re-evaluated the mixture
    pipeline once per reference — 23 exchanges and four raw-table
    scans; now the staged parquet feeds both placement passes, with
    no raw-table re-scan and <=5 exchanges downstream (the plan test
    pins all three).  No stage sees a corpus-wide window or an
    unkeyed shuffle; every intermediate is rows-proportional to the
    RECIPE's output, not the raw corpus."""
    from hadoop_20_warehouse_spark.dedup.spans import (
        epoch_expand,
        global_shuffle_order,
        mixture_sample,
    )

    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    mix = mixture_sample(docs, _MIX_BUDGETS, n_shards=_MIX_SHARDS)
    copies = epoch_expand(mix, _EPOCH_REPEATS, passthrough=("tok_len",))
    # Staging checkpoint: global_shuffle_order necessarily consumes
    # its input twice (rank pass + per-shard counts — dense positions
    # need the counts), and without staging each consumer would re-run
    # the whole mixture subtree (column pruning gives the two
    # consumers different projections, so exchange reuse cannot kick
    # in; the naive form re-ran the mixture per consumer — 23
    # exchanges, 4 raw-table scans).  Materialized to PARQUET, not
    # persist(): this is exactly the staging checkpoint a 100 TB
    # placement job writes (executor memory holds no corpus-sized
    # cache), and unlike a persist there is nothing to leak — r6 held
    # the cache past return because the lazy consumer still needed it,
    # accumulating cached frames across invocations in a long-lived
    # session (ADVICE r6).  Disk is bounded: _fresh_subdir keeps the
    # newest TWO per-invocation-unique generations (so concurrent
    # tenants don't clobber each other mid-read) and deletes older
    # ones — size scratch space for 2 copies per tag (r7 ADVICE).
    keyed = copies.withColumn(
        "copy_key",
        F.concat_ws(
            "#", F.col("doc_id").cast("string"), F.col("epoch").cast("string")
        ),
    )
    staged = _fresh_subdir(_scratch_dir("mix_place"), "staged")
    keyed.write.parquet(staged)
    placed = global_shuffle_order(
        spark.read.parquet(staged),
        id_col="copy_key",
        n_shards=_MIX_PLACE_SHARDS,
        passthrough=("doc_id", "source", "epoch", "tok_len"),
    )
    return placed.select("doc_id", "source", "epoch", "tok_len", "global_pos")


# ===========================================================================
# Upsampled mixing: epoch copies FIRST, budget fill over the copies
# ===========================================================================

# Fractional repeat factors (src2 defaults to 1 epoch) + budgets that
# exercise every fill regime ON THE EXPANDED STREAM: src1's budget
# (2600) exceeds its single-copy mass (~1540 at sf0.01) and is met
# only through its 2.5 epochs — the upsampling semantics under test;
# src8 never binds (all 3 epochs kept); src5 (0.4 subsample) binds
# only at sf0.1 (~5.7k expanded vs 900); src9/src2 always bind.
_MIXE_REPEATS = {"src1": 2.5, "src5": 0.4, "src8": 3.0, "src9": 1.25}
_MIXE_BUDGETS = {
    "src1": 2600,
    "src2": 1200,
    "src5": 900,
    "src8": 1_000_000,
    "src9": 600,
}
_MIXE_SHARDS = 8

_MIXE_WHOLE_CASE = " ".join(
    f"WHEN '{k}' THEN {int(v)}" for k, v in _MIXE_REPEATS.items()
)
_MIXE_MILLE_CASE = " ".join(
    f"WHEN '{k}' THEN {int(round((v - int(v)) * 1000))}"
    for k, v in _MIXE_REPEATS.items()
)
_MIXE_BUDGET_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIXE_BUDGETS.items()
)

_MIXE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         {token_count_sql('text')} AS tok_len,
         CASE source {_MIXE_WHOLE_CASE} ELSE 1 END
           + CASE WHEN (CASE source {_MIXE_MILLE_CASE} ELSE 0 END)
                  > {md5_int64_sql("CAST(doc_id AS VARCHAR)")} % 1000
             THEN 1 ELSE 0 END AS n_copies
  FROM documents
  WHERE source IN ({", ".join("'" + k + "'" for k in _MIXE_BUDGETS)})
),
ex AS (
  SELECT doc_id, source, tok_len, CAST(i AS BIGINT) AS epoch,
         CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR) AS copy_key
  FROM d, UNNEST(generate_series(0, n_copies - 1)) AS u(i)
),
c AS (
  SELECT doc_id, epoch, source, tok_len,
         SUM(tok_len) OVER (
           PARTITION BY source
           ORDER BY {md5_bucket_sql("copy_key", _MIXE_SHARDS)}, md5(copy_key), copy_key
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM ex
)
SELECT doc_id, epoch, source, tok_len, CAST(start_off AS BIGINT) AS start_off
FROM c
WHERE start_off < CASE source {_MIXE_BUDGET_CASE} END
"""


@register("corpus_mixture_epochs", oracle=_MIXE_SQL)
def q_corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsampled domain mixing (VERDICT r14 #5): epoch_expand FIRST
    (fractional per-domain repeats), then mixture_sample's greedy
    budget fill over the EXPANDED copies — so src1 meets a budget
    LARGER than its single-copy token mass through its 2.5 epochs
    (T5's mixing with artificial dataset sizes, Raffel et al. 2020
    §3.5.2; the Pile's fractional-epoch recipe, Gao et al. 2020
    table 1).  ``pipeline_mix_place`` composes the same two stages the
    OTHER way (budget on single-copy mass, then epochs); a recipe
    stated as "N tokens of D at E epochs" needs this ordering.
    Library form: dedup/spans.mixture_with_epochs.

    Scale shape: the explode is row-local (zero shuffles); the fill is
    the per-(domain, md5-shard) cumsum + broadcast offset lift — the
    copy multiplier scales rows, never the window width.  The oracle
    replays the fill as one domain-wide window over the same
    (shard, md5(copy_key), copy_key) order."""
    from hadoop_20_warehouse_spark.dedup.spans import mixture_with_epochs

    docs = load_table(spark, sf_dir, "documents")
    return mixture_with_epochs(
        docs, _MIXE_BUDGETS, _MIXE_REPEATS, n_shards=_MIXE_SHARDS
    )


# ===========================================================================
# Boilerplate scrubbing (frequency-threshold chunk removal, CCNet-style)
# ===========================================================================

_BOILER_W = 4
_BOILER_MAX_DOCS = 2

_BOILER_SQL = f"""
WITH toks AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
  WHERE len({T.tokens_sql('text')}) > 0
),
chunks AS (
  SELECT doc_id,
         CAST(ceil(len(t) / {_BOILER_W}.0) AS BIGINT) AS n_chunks,
         CAST(i AS BIGINT) AS pos,
         array_to_string(t[(i*{_BOILER_W}+1):(i*{_BOILER_W}+{_BOILER_W})], ' ') AS chunk
  FROM toks, UNNEST(range(CAST(ceil(len(t) / {_BOILER_W}.0) AS BIGINT))) AS u(i)
),
freq AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk
),
marked AS (
  SELECT c.doc_id, c.n_chunks, c.pos, c.chunk,
         (f.nd > {_BOILER_MAX_DOCS}) AS is_boiler
  FROM chunks c JOIN freq f ON c.chunk = f.chunk
)
SELECT doc_id,
       CAST(MIN(n_chunks) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN chunk END,
                               ' ' ORDER BY pos), '')) AS clean_digest
FROM marked
GROUP BY doc_id
"""


# ===========================================================================
# Time-series gap-fill / resample
# ===========================================================================

_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
),
spine AS (
  SELECT t.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
),
filled AS (
  SELECT s.event_type, s.h,
         COALESCE(hourly.n, 0) AS n_events,
         CAST(COALESCE(hourly.s, 0) AS DOUBLE) AS hour_sum,
         CASE WHEN hourly.n IS NOT NULL
              THEN CAST(hourly.s AS DOUBLE) / hourly.n END AS avg_v
  FROM spine s LEFT JOIN hourly ON s.event_type = hourly.event_type
                               AND s.h = hourly.h
)
SELECT event_type, strftime(h, '%Y-%m-%d %H') AS hour,
       n_events, hour_sum,
       last_value(avg_v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_avg
FROM filled
"""


@register("events_gapfill_hourly", oracle=_GAPFILL_SQL)
def q_events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill and resample — the dense-grid form every
    monitoring/attribution pipeline feeds downstream models: hourly
    buckets per event type over the observed range, with empty hours
    materialized (count 0, sum 0) and the last observed hourly average
    CARRIED FORWARD across gaps (leading hours before first data stay
    NULL).  Sums ride DECIMAL so both engines accumulate exactly;
    averages divide exact values.

    Scale shape: the hourly rollup is one partial-aggregable groupBy
    over events; the SPINE (types × hours) is generated row-local from
    a broadcast 1-row bounds frame — its size is grid-proportional,
    not event-proportional, so the left join and the carry-forward
    window run over the small dense grid (the window partitions on
    event_type ORDER BY hour — bounded by grid length, never by event
    volume)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
        )
    )
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce(F.col("s").cast("double"), F.lit(0.0)).alias("hour_sum"),
        F.when(
            F.col("n").isNotNull(), F.col("s").cast("double") / F.col("n")
        ).alias("avg_v"),
    )
    # The carry-forward window partitions on event_type alone, so one
    # partition holds the TYPE'S WHOLE GRID — bounded by grid length
    # (hours in the data's time span), not by event count, which is
    # fine for any hourly grid a driver SF produces.  At a 100 TB
    # shape where the grid itself is huge (years at minute grain,
    # millions of spine rows per type), this window would need a
    # coarser spine or range-keyed SEGMENTS (carry within
    # (type, day)-segments, then stitch segment boundaries with one
    # per-segment pass — the sharded-cumsum trick pack_token_budget
    # uses) (r7 VERDICT note).
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
        "n_events",
        "hour_sum",
        F.last("avg_v", ignorenulls=True).over(w).alias("carry_avg"),
    )


# ===========================================================================
# Corpus version diff (dataset-versioning audit)
# ===========================================================================

_DIFF_SQL = """
WITH v1 AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS digest FROM documents
  WHERE doc_id % 7 <> 0
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN COALESCE(text, '') || ' v2'
                  ELSE COALESCE(text, '') END) AS digest
  FROM documents
  WHERE doc_id % 11 <> 0
)
SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN v1.digest <> v2.digest THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(v2.doc_id, v1.doc_id)) AS BIGINT) AS id_sum
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
GROUP BY 1
"""


@register("corpus_diff_versions", oracle=_DIFF_SQL)
def q_corpus_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version diff — the audit every dataset release runs:
    given two corpus versions, classify every doc as added / removed /
    changed / unchanged by content digest and report per-status counts.
    (Versions here are deterministic slices of the documents table:
    v1 drops doc_id % 7 == 0, v2 drops % 11 == 0 and rewrites % 5 ==
    0 — so all four statuses occur.)

    Scale shape: ONE digest projection per version (row-local md5 —
    never shipping text into the join) and ONE doc_id-keyed FULL OUTER
    join; statuses are case expressions over null-ness, the rollup a
    single partial-aggregable count.  At 100 TB this is the same
    digest-join a snapshot-diff of two table versions costs — no
    text comparison, no all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("id1"),
        F.md5(F.coalesce("text", F.lit("")).cast("binary")).alias("d1"),
    )
    v2 = docs.filter(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("id2"),
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.coalesce("text", F.lit("")), F.lit(" v2")),
            )
            .otherwise(F.coalesce("text", F.lit("")))
            .cast("binary")
        ).alias("d2"),
    )
    joined = v1.join(v2, v1.id1 == v2.id2, "full_outer")
    status = (
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("d1") != F.col("d2"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce("id2", "id1")).cast("long").alias("id_sum"),
    )


_INCR_SQL = f"""
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN COALESCE(text, '') || ' v2'
              ELSE COALESCE(text, '') END AS text
  FROM documents WHERE doc_id % 11 <> 0
),
red AS (SELECT doc_id, {T.redact_pii_sql('text')} AS r FROM v2)
SELECT doc_id,
       {T.token_count_sql('r')} AS tok_len,
       {T.token_count_sql('r')} >= 5 AS passed,
       md5(r) AS curated_digest
FROM red
"""


@register("pipeline_incremental_curate", oracle=_INCR_SQL)
def q_pipeline_incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL curation — the operating mode a 100 TB pipeline
    actually runs between dataset releases: the previous version's
    curated output is a stored artifact; the new version is processed
    by (1) classifying docs against the prior version by raw-content
    digest, (2) re-curating ONLY the added/changed delta, and (3)
    stitching the result from the STORED rows for unchanged docs plus
    the freshly curated delta.  The curation stage here is strictly
    per-doc (PII redaction -> token stats -> integer quality gate), the
    precondition for incremental == full.

    THE ORACLE IS THE FULL RECOMPUTE over the new version: a hash
    match proves the incremental plan — prior-store reuse, digest
    classification, delta-only processing — produces byte-for-byte the
    same corpus a from-scratch run would, which is the equivalence
    every incremental pipeline must establish before it can replace
    its full-refresh job.

    Scale shape: the delta classification is one id-keyed join of the
    new version's digest projection against the store's raw_digest
    (text never ships); stored rows come back from parquet (real
    artifact reuse, not lineage); only |delta| docs pay
    redaction+stats.  Versions are the corpus_diff_versions slices
    (v1 drops id%7==0; v2 drops id%11==0 and rewrites id%5==0), so
    added, removed, changed, and unchanged paths all execute.

    Library form: incremental.build_curated_store / apply_incremental_
    curate — split (r7 VERDICT) so the bench can time the delta path
    ALONE with the store prebuilt; this registered query runs both
    halves each invocation because the driver contract is
    self-contained, so it measures equivalence, while the delta-only
    economics are measured by bench.py's incremental probe
    (PLANS.md)."""

    def _version(df, drop_mod: int, rewrite: bool):
        out = df.filter(F.col("doc_id") % drop_mod != 0).select(
            "doc_id", F.coalesce("text", F.lit("")).alias("text")
        )
        if rewrite:
            out = out.select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" v2"))
                ).otherwise(F.col("text")).alias("text"),
            )
        return out

    from hadoop_20_warehouse_spark.incremental import (
        apply_incremental_curate,
        build_curated_store,
    )
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    v1 = _version(docs, 7, rewrite=False)
    v2 = _version(docs, 11, rewrite=True)

    # the "previous release" run: curated v1, materialized to a store
    store_path = _fresh_subdir(_scratch_dir("incr_curate"), "v1")
    build_curated_store(v1, store_path)
    store = spark.read.parquet(store_path)
    return apply_incremental_curate(v2, store)


# ===========================================================================
# Exact substring dedup, overlapping windows (ExactSubstr-style)
# ===========================================================================

# Window width in tokens.  Wider than the aligned-chunk width (4) so
# stride-1 matches mean a genuinely repeated run, but narrow enough
# that the synthetic corpus contains real cross-doc repeats to remove.
_SUBSTR_W = 6

_SUBSTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
  WHERE len({T.tokens_sql('text')}) > 0
),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(t[(i+1):(i+{_SUBSTR_W})], ' ')) AS wk
  FROM toks, UNNEST(range(len(t) - {_SUBSTR_W} + 1)) AS u(i)
  WHERE len(t) >= {_SUBSTR_W}
),
ranked AS (
  SELECT doc_id, pos, wk,
         ROW_NUMBER() OVER (PARTITION BY wk ORDER BY doc_id, pos) AS rn
  FROM wins
),
removed AS (
  SELECT DISTINCT doc_id, pos + CAST(j AS BIGINT) AS rp
  FROM ranked, UNNEST(range({_SUBSTR_W})) AS v(j)
  WHERE rn > 1
),
tokrows AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i+1] AS tok
  FROM toks, UNNEST(range(len(t))) AS u(i)
)
SELECT k.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN r.rp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       md5(COALESCE(string_agg(CASE WHEN r.rp IS NULL THEN k.tok END,
                               ' ' ORDER BY k.pos), '')) AS kept_digest
FROM tokrows k LEFT JOIN removed r ON k.doc_id = r.doc_id AND k.pos = r.rp
GROUP BY k.doc_id
"""


@register("dedup_substring_exact", oracle=_SUBSTR_SQL)
def q_dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup with OVERLAPPING stride-1 windows — the
    unaligned counterpart of dedup_paragraph_exact: a repeated
    {w}-token run is caught and removed at ANY offset, not only on
    chunk boundaries (the distributed approximation of Lee et al.
    2022's suffix-array ExactSubstr dedup).  Library form:
    dedup/spans.substring_dedup_overlapping — see its docstring for
    the shuffle budget (window-keyed partial-agg first-occurrence,
    one window-keyed join, W-fan-out on duplicates only, doc-keyed
    removal and reassembly)."""
    from hadoop_20_warehouse_spark.dedup.spans import (
        substring_dedup_overlapping,
    )

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup_overlapping(docs, window_w=_SUBSTR_W)


# ===========================================================================
# Weighted sampling without replacement (Efraimidis-Spirakis)
# ===========================================================================

# Sample size; 200 of the sf0.01 corpus's 500 docs, so selection
# genuinely discriminates by weight.
_WSAMPLE_K = 200

_WSAMPLE_SQL = f"""
WITH w AS (
  SELECT doc_id, source,
         GREATEST({token_count_sql('text')}, 1) AS wt
  FROM documents
)
SELECT doc_id, source, CAST(wt AS BIGINT) AS wt,
       {es_sample_key_sql("CAST(doc_id AS VARCHAR)", "wt")} AS skey
FROM w
ORDER BY skey DESC, doc_id
LIMIT {_WSAMPLE_K}
"""


@register("corpus_weighted_sample", oracle=_WSAMPLE_SQL)
def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement — pick K docs with
    inclusion probability proportional to a per-doc weight (here token
    count: longer docs more likely), the standard way a pipeline draws
    a quality- or length-weighted subset for evals or mixture tuning.

    Algorithm: Efraimidis & Spirakis 2006 ("Weighted random sampling
    with a reservoir", Inf. Proc. Letters — public literature): give
    each item the key u^(1/w) with u ~ U(0,1) and keep the K largest;
    equivalently (one monotone transform, used here because it divides
    instead of exponentiating) keep the K largest ln(u)/w.  u is the
    usual md5-derived deterministic uniform (functions/hashing.py), so
    both engines draw the SAME sample; keys are rounded to 6 decimals
    with a doc_id tiebreak, the repo's standard cross-engine float
    discipline (similarity/knn.py docstring).

    Scale shape: the weight and key are row-local expressions, and
    top-K-by-key compiles to TakeOrderedAndProject — per-partition
    partial top-K merged on the driver, no corpus-wide sort and NO
    shuffle at all (plan-pinned in tests/test_plans.py).  K rows cross
    the wire; this is the reference's sort-then-head idiom
    (examples/Grep.java:48-84 second job) done without the sort."""
    from hadoop_20_warehouse_spark.functions.hashing import es_sample_key

    docs = load_table(spark, sf_dir, "documents")
    wt = F.greatest(T.token_count(F.col("text")), F.lit(1))
    return (
        docs.select(
            "doc_id",
            "source",
            wt.cast("long").alias("wt"),
            es_sample_key("doc_id", wt).alias("skey"),
        )
        .orderBy(F.desc("skey"), "doc_id")
        .limit(_WSAMPLE_K)
    )


_WSG_K = 15

_WSG_SQL = f"""
WITH w AS (
  SELECT doc_id, lang,
         GREATEST({token_count_sql('text')}, 1) AS wt
  FROM documents
),
scored AS (
  SELECT doc_id, lang, CAST(wt AS BIGINT) AS wt,
         {es_sample_key_sql("CAST(doc_id AS VARCHAR)", "wt")} AS skey
  FROM w
)
SELECT doc_id, lang, wt, skey, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY skey DESC, doc_id) AS rk
  FROM scored
) WHERE rk <= {_WSG_K}
"""


@register("sample_weighted_per_group", oracle=_WSG_SQL)
def q_sample_weighted_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling: an exact Efraimidis-Spirakis
    weighted sample of K docs per language — how a pipeline draws a
    quality/length-weighted subset while holding per-stratum quotas
    (corpus_weighted_sample's keys + sample_per_group's strata).

    Scale shape is the two-phase exact top-K (VERDICT r2, same as
    sample_per_group): phase 1 takes the top-K within ``(lang,
    salt)`` subgroups — every true per-lang top-K row is in its own
    subgroup's top-K, so nothing is lost — and phase 2 re-ranks the
    ≤ K·SALT survivors per group.  A single window partitioned by the
    low-cardinality lang alone would sort most of the corpus in one
    task at 100 TB."""
    from pyspark.sql import Window

    from hadoop_20_warehouse_spark.functions.hashing import es_sample_key

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(_QUOTA_SALT)
    )
    wt = F.greatest(T.token_count(F.col("text")), F.lit(1))
    scored = docs.select(
        "doc_id",
        "lang",
        wt.cast("long").alias("wt"),
        es_sample_key("doc_id", wt).alias("skey"),
        salt.alias("_salt"),
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy(F.desc("skey"), "doc_id")
    cand = scored.withColumn("_rk1", F.row_number().over(w1)).filter(
        F.col("_rk1") <= _WSG_K
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("skey"), "doc_id")
    return (
        cand.withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= _WSG_K)
        .select("doc_id", "lang", "wt", "skey", "rk")
    )


@register("text_boilerplate_scrub", oracle=_BOILER_SQL)
def q_text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal (Wenzek et al. 2020 §3.1):
    chunks occurring in more than {max_docs} distinct docs are removed
    from EVERY doc — the keep-none counterpart of dedup_paragraph_
    exact's keep-first.  Library form: dedup/spans.boilerplate_scrub
    (keyed partial-aggregable doc-frequency + one chunk-keyed left
    join; totals ride the explode row-locally)."""
    docs = load_table(spark, sf_dir, "documents")
    from hadoop_20_warehouse_spark.dedup.spans import boilerplate_scrub

    return boilerplate_scrub(
        docs, chunk_w=_BOILER_W, max_docs=_BOILER_MAX_DOCS
    )


_BIGRAM_NLL_SQL = f"""
WITH toks AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
),
big AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN '<s>' ELSE t[i - 1] END AS prev,
         t[i] AS cur
  FROM toks, UNNEST(generate_series(1, len(t))) u(i)
),
bc AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c_big
  FROM big GROUP BY prev, cur
),
ctx AS (
  SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_ctx FROM big GROUP BY prev
),
voc AS (SELECT CAST(COUNT(DISTINCT cur) AS BIGINT) AS v FROM big)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(round(ln(CAST(c.c_ctx + voc.v AS DOUBLE)
                              / (bc.c_big + 1)) * 1000) AS BIGINT)) AS BIGINT)
         AS nll_milli,
       CAST(SUM(CAST(round(ln(CAST(c.c_ctx + voc.v AS DOUBLE)
                              / (bc.c_big + 1)) * 1000) AS BIGINT)) AS DOUBLE)
         / (1000.0 * COUNT(*)) AS avg_nll
FROM big b
JOIN bc ON bc.prev = b.prev AND bc.cur = b.cur
JOIN ctx c ON c.prev = b.prev
CROSS JOIN voc
GROUP BY b.doc_id
"""


@register("text_bigram_nll", oracle=_BIGRAM_NLL_SQL)
def q_text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score — the higher-order sibling
    of text_unigram_nll (CCNet's filter, Wenzek et al. 2020 §3.2, uses
    a real LM; a Laplace-smoothed bigram model is the smallest LM that
    sees word ORDER, so scrambled or templated text scores worse than
    its unigram mix suggests): per-doc average of
    -ln p(tᵢ | tᵢ₋₁) with p = (c(prev,cur)+1)/(c(prev)+V), a ``<s>``
    context scoring each document's first token.

    Bigram extraction is ROW-LOCAL (the pair list comes from the
    token array in one projection — no window over corpus positions);
    counts are wordcount-style partial aggs; scoring is one
    (prev,cur)-keyed join + one prev-keyed join + the broadcast scalar
    V.  Cross-engine exactness: integer counts everywhere, each
    term's -ln p rounded to INTEGER milli-nats before the
    order-independent sum (the text_unigram_nll discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    big = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("t")
    ).filter(F.size("t") > 0).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)), i -> struct("
                "IF(i = 1, '<s>', element_at(t, i - 1)) AS prev, "
                "element_at(t, i) AS cur))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    bc = big.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("long").alias("c_big")
    )
    ctx = big.groupBy("prev").agg(
        F.count(F.lit(1)).cast("long").alias("c_ctx")
    )
    voc = big.agg(F.countDistinct("cur").cast("long").alias("v"))
    milli = F.round(
        F.log(
            (F.col("c_ctx") + F.col("v")).cast("double")
            / (F.col("c_big") + 1)
        )
        * 1000,
        0,
    ).cast("long")
    return (
        big.join(bc, on=["prev", "cur"])
        .join(ctx, on="prev")
        .crossJoin(F.broadcast(voc))
        .select("doc_id", milli.alias("m"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("m").cast("long").alias("nll_milli"),
            (
                F.sum("m").cast("double") / (F.count(F.lit(1)) * 1000.0)
            ).alias("avg_nll"),
        )
    )


# ===========================================================================
# Release endgame: the WHOLE LLM-corpus surface composed in one
# hash-checked pipeline (VERDICT r12 #2 / r13 #1) — classifier gate ->
# SemDeDup anti-join -> ship-the-tokenizer (train, persist, reload) ->
# BPE tokenize survivors -> domain mixture on REAL subword counts ->
# token-budget packing -> global training-order shuffle -> partitioned
# shard export -> readback audit digest.
# ===========================================================================

# Per-source BPE-token budgets over the gated survivor corpus, chosen
# from measured sf0.01 survivor totals (src0 226, src1 643, src5 365,
# src6 409, src8 553, src9 411, src15 223 bpe tokens) to exercise
# every fill regime: partial fill (src1/src6/src8), tiny fill (src5),
# always-overflow (src0/src4), and budgets that overflow at sf0.01 but
# BIND at sf0.1 (src9/src15 — totals grow ~10x with SF, budgets don't).
_RE_BUDGETS = {
    "src0": 1_000_000,
    "src1": 400,
    "src4": 1_000_000,
    "src5": 150,
    "src6": 250,
    "src8": 300,
    "src9": 2000,
    "src15": 500,
}
_RE_PACK_BUDGET = 1024
_RE_SHARDS = 8


def _release_endgame_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.semantic import (
        semantic_dedup_removed_sql,
    )
    from hadoop_20_warehouse_spark.functions.bpe_scale import _batched_ctes
    from hadoop_20_warehouse_spark.inventory_analytics import (
        _BPEN_ART_VERSION,
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        _BPEN_ROUNDS,
        _BPEN_WORDROWS,
    )

    ctes = _batched_ctes(
        _BPEN_WORDROWS,
        _BPEN_ROUNDS,
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        all_words=True,
    )
    mix_case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _RE_BUDGETS.items()
    )
    srcs = ", ".join(f"'{k}'" for k in _RE_BUDGETS)
    row_fp = md5_int64_sql(
        "concat_ws('|', doc_id, source, tok_len, batch_id, batch_offset, "
        "global_pos)"
    )
    return f"""WITH RECURSIVE
{ctes},
wtok AS (
  SELECT w, in_cap,
         list_filter(string_split(seq, '||'), z -> z <> '') AS ts
  FROM ap{_BPEN_ROUNDS}
),
nv AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_vocab
  FROM (SELECT unnest(ts) AS t FROM wtok WHERE in_cap)
),
doclen AS (
  SELECT wr.did AS doc_id, CAST(SUM(len(t.ts)) AS BIGINT) AS bpe_len
  FROM wr JOIN wtok t ON t.w = wr.w
  GROUP BY wr.did
),
cls AS (
  SELECT doc_id FROM ( {_CLS_SQL} ) WHERE keep
),
rem AS (
  SELECT vec_id FROM ( {semantic_dedup_removed_sql('embeddings')} )
),
surv AS (
  SELECT d.doc_id, d.source, COALESCE(dl.bpe_len, 0) AS tok_len
  FROM documents d
  JOIN cls USING (doc_id)
  LEFT JOIN rem ON rem.vec_id = d.doc_id
  LEFT JOIN doclen dl ON dl.doc_id = d.doc_id
  WHERE rem.vec_id IS NULL
),
mixd AS (
  SELECT doc_id, source, tok_len,
         CAST({md5_bucket_sql("CAST(doc_id AS VARCHAR)", _RE_SHARDS)} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM surv WHERE source IN ({srcs})
),
kept AS (
  SELECT doc_id, source, tok_len, shard, h FROM (
    SELECT *, SUM(tok_len) OVER (PARTITION BY source ORDER BY shard, h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - tok_len AS m_off
    FROM mixd
  ) WHERE m_off < CASE source {mix_case} END
),
placed AS (
  SELECT doc_id, source, tok_len, shard,
         CAST((SUM(tok_len) OVER w - tok_len) // {_RE_PACK_BUDGET} AS BIGINT) AS batch_id,
         CAST((SUM(tok_len) OVER w - tok_len) % {_RE_PACK_BUDGET} AS BIGINT) AS batch_offset,
         CAST(ROW_NUMBER() OVER (ORDER BY shard, h, doc_id) - 1 AS BIGINT) AS global_pos
  FROM kept
  WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT shard,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
       CAST(SUM(tok_len) AS BIGINT) AS total_tokens,
       CAST(MIN(global_pos) AS BIGINT) AS first_pos,
       CAST(MAX(global_pos) AS BIGINT) AS last_pos,
       CAST(bit_xor({row_fp}) AS BIGINT) AS digest,
       CAST({_BPEN_ART_VERSION} AS BIGINT) AS artifact_version,
       CAST({_BPEN_ROUNDS * _BPEN_BATCH} AS BIGINT) AS artifact_n_merges,
       (SELECT n_vocab FROM nv) AS artifact_n_vocab
FROM placed
GROUP BY shard"""


@register("pipeline_release_endgame", oracle=_release_endgame_oracle())
def q_pipeline_release_endgame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release endgame: every stage of the LLM-corpus surface
    composed into ONE hash-checked pipeline (VERDICT r12 #2 / r13 #1).

    (1) fastText-shaped classifier gate inline on the document scan
    (_classifier_gate — zero-shuffle inference); (2) SemDeDup removal
    anti-joined on doc id (dedup/semantic.py); (3) SHIP THE TOKENIZER:
    train the 2048-merge natural-text BPE vocabulary on the full
    trigram-shingled corpus (functions/bpe_scale.train_merges_batched),
    persist it as a versioned parquet artifact, reload it fresh
    (functions/bpe_store — the DistributedCache contract), and
    tokenize the SURVIVORS with the reloaded merges in one Arrow
    mapInPandas pass; (4) domain-mixture sampling with budgets over
    REAL subword counts (dedup/spans.mixture_sample tok_len_col hook);
    (5) token-budget packing on the same counts (pack_token_budget);
    (6) deterministic global training-order shuffle carried by
    passthrough — no corpus re-join (global_shuffle_order); (7)
    PHYSICAL partitioned shard export and a readback audit digest per
    shard, with the artifact manifest fields pinned into the hashed
    output.

    The oracle is the stages' SQL composed verbatim (the
    q_pipeline_classifier_semantic_chunk / corpus_export_roundtrip
    precedents, plus the batched-BPE recursive chain from
    bpe_store.artifact_roundtrip_sql), so stage WIRING — gate
    direction, anti-join side, tokenizing survivors only, mixing then
    packing then placing the same kept set, exporting what was placed
    — is hash-checked end-to-end, and a match also proves the store
    restored the exact trained merge sequence (replay is
    order-sensitive).

    Scale shape: the only corpus-vs-corpus shuffle the composition
    adds to its parts is the id-keyed anti-join; the tokenized
    survivor frame (3 narrow columns) is persisted ONCE as the staging
    checkpoint every real export job materializes — mixture, packing,
    and placement are per-md5-shard cumsum windows + O(shards|domains)
    broadcast offset lifts over that checkpoint, the export is one
    partitionBy fan-out, and the audit is one keyed agg over the
    written files.  Docs with <3 words tokenize to 0 subwords via the
    LEFT JOIN + COALESCE on both sides (ADVICE r13 totality).

    Reference lineage: the chained-jobs-into-materialized-dir shape is
    examples/Grep.java:48-84's two-job temp-dir handoff at pipeline
    width; the artifact ship is filecache/DistributedCache.java:45."""
    from hadoop_20_warehouse_spark.dedup.semantic import semantic_dedup_removed
    from hadoop_20_warehouse_spark.dedup.spans import (
        global_shuffle_order,
        mixture_sample,
        pack_token_budget,
    )
    from hadoop_20_warehouse_spark.functions import bpe as B
    from hadoop_20_warehouse_spark.functions import bpe_scale as BS
    from hadoop_20_warehouse_spark.functions import bpe_store as BST
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64
    from hadoop_20_warehouse_spark.inventory_analytics import (
        _BPEN_ART_VERSION,
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        _BPEN_ROUNDS,
        _bpe_natural_docs,
        trigram_stream,
    )
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # (1) + (2): gate, then semantic dedup survivors
    gated = _classifier_gate(docs, "doc_id", "source", "text")
    removed = semantic_dedup_removed(emb).select(
        F.col("vec_id").alias("doc_id")
    )
    surv = gated.join(removed, on="doc_id", how="left_anti")

    # (3): train on the full natural corpus, persist, reload, apply
    trig_all = _bpe_natural_docs(spark, sf_dir)
    merges_df = BS.train_merges_batched(
        trig_all,
        rounds=_BPEN_ROUNDS,
        batch=_BPEN_BATCH,
        max_words=_BPEN_MAX_WORDS,
        strict=True,
    )
    trained = [tuple(r) for r in sorted(merges_df.collect())]
    vocab_df = BS.vocab_after_merges_large(
        trig_all, trained, max_words=_BPEN_MAX_WORDS
    )
    store = _fresh_subdir(_scratch_dir("release_endgame"), "store")
    BST.write_tokenizer(merges_df, vocab_df, store, version=_BPEN_ART_VERSION)
    art = BST.read_tokenizer(spark, store)
    reloaded = BST.load_merges(art)
    n_vocab = art["vocab"].count()
    tok = B.tokenize_with_merges(trigram_stream(surv), reloaded)
    survlen = (
        surv.select("doc_id", "source")
        .join(tok.select("doc_id", "bpe_len"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("bpe_len"), F.lit(0)).cast("long").alias("bpe_len"),
        )
        .persist()  # the staging checkpoint: every stage below re-reads it
    )
    try:
        # (4) mixture, (5) pack, (6) place — all on REAL subword counts
        kept = mixture_sample(
            survlen, _RE_BUDGETS, n_shards=_RE_SHARDS, tok_len_col="bpe_len"
        )
        packed = pack_token_budget(
            kept,
            budget=_RE_PACK_BUDGET,
            n_shards=_RE_SHARDS,
            tok_len_col="tok_len",
            passthrough=("source",),
        )
        placed = global_shuffle_order(
            packed,
            passthrough=("source", "tok_len", "batch_id", "batch_offset"),
        )
        # (7) physical shard export
        path = _fresh_subdir(_scratch_dir("release_endgame"), "shards")
        placed.write.partitionBy("shard").parquet(path)
    finally:
        survlen.unpersist()
    # explicit readback schema — see corpus_export_roundtrip: an empty
    # export must read back as an empty frame, not a schema-infer error
    back = spark.read.schema(placed.schema).parquet(path)
    row_fp = md5_int64(
        F.concat_ws(
            "|",
            *[
                F.col(c).cast("string")
                for c in (
                    "doc_id", "source", "tok_len", "batch_id",
                    "batch_offset", "global_pos",
                )
            ],
        )
    )
    return (
        back.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.countDistinct("batch_id").cast("long").alias("n_batches"),
            F.sum("tok_len").cast("long").alias("total_tokens"),
            F.min("global_pos").cast("long").alias("first_pos"),
            F.max("global_pos").cast("long").alias("last_pos"),
            F.bit_xor(row_fp).cast("long").alias("digest"),
        )
        .select(
            "*",
            F.lit(int(art["manifest"]["version"]))
            .cast("long")
            .alias("artifact_version"),
            F.lit(int(art["manifest"]["n_merges"]))
            .cast("long")
            .alias("artifact_n_merges"),
            F.lit(int(n_vocab)).cast("long").alias("artifact_n_vocab"),
        )
    )


# ===========================================================================
# FULL release endgame (VERDICT r14 #1): the dedup family + hygiene
# stages folded IN FRONT of the release endgame, one hash-checked plan —
# PII redact (fixture-augmented) -> exact dedup on the redacted prefix
# key -> MinHash-LSH near-dup with verified edges, the ITERATIVE
# connected-components loop, and per-cluster representative election ->
# train/eval n-gram decontamination -> classifier gate -> SemDeDup
# anti-join -> ship-the-tokenizer -> upsampled epoch mixture on REAL
# subword counts -> packing -> global shuffle -> partitioned export ->
# readback audit digest (with per-shard PII-hit totals pinned in).
# ===========================================================================

# Near-dup edge verification: keep candidate pairs whose signature
# agreement estimates Jaccard >= 1/2 (4 of 8 minhashes).  The raw LSH
# candidate set (2 rows/band at k=8) is deliberately permissive — on
# this corpus it collapses 483 exact-survivors to 60 docs; the verify
# threshold is the standard candidate->verify step and leaves a
# 386-doc (sf0.01) survivor set with real cluster structure.
_REF_JACCARD_MIN = 0.5
# Decontamination drop: train docs sharing >= 1/4 of their distinct
# word trigrams with the eval slice (doc_id % 20 == 0, which is itself
# withheld from the release).  Measured sf0.01: drops 4 of 59 train
# survivors at the 0.25 line; everything sits under 0.5.
_REF_TAU_DEN = 4
# Exact-dedup key: md5 of the first 32 normalized (lowercased,
# whitespace-split) tokens of the REDACTED text — the C4-style
# leading-span content key.  Full-text md5 finds zero duplicates at
# sf<=0.01 (the corpus has none); the leading-span key removes 17
# docs at sf0.01 / 180 at sf0.1, so the stage provably fires at every
# test SF.
_REF_PREFIX_W = 32

# Upsampled mixture over the FINAL survivor set (mixture_with_epochs:
# epoch copies first, budget fill over the expanded stream).  Chosen
# from measured sf0.01 survivor BPE totals (src1 606, src3 174, src4
# 271, src5 343, src8 309, src9 411, src11 430, src17 187):
#   src3  budget 300 > its single-copy mass 174 — met ONLY via its
#         2.5 epochs (the upsampling semantics under test);
#   src1/src11/src5 always bind (partial / tiny fills);
#   src4 is a 0.5 subsample, never binds;
#   src17 keeps all 3.0 epochs (never binds);
#   src8/src9 overflow at sf0.01 and bind at sf0.1 (~10x totals).
_REF_REPEATS = {"src3": 2.5, "src17": 3.0, "src5": 1.25, "src4": 0.5}
_REF_BUDGETS = {
    "src1": 400,
    "src3": 300,
    "src4": 1_000_000,
    "src5": 350,
    "src8": 2500,
    "src9": 600,
    "src11": 150,
    "src17": 1_000_000,
}


def _hygiene_chain(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    """The Spark-side dedup-family + hygiene chain shared by the full
    endgame and the funnel report (the exact stage construction the
    _hygiene_sql() oracle prefix replays): PII augment+redact ->
    exact dedup on the leading-span key (STAGED to parquet under
    ``tag`` so the redaction regexes and the key agg run one pass) ->
    verified LSH pairs -> iterative components -> representative
    election -> gram decontamination -> classifier keep-set ->
    SemDeDup removal set.  Returns the stage frames:
    {docs, emb, exs, nds, dec, gated_ids, removed, surv} where surv
    carries (doc_id, source, text, n_pii)."""
    from hadoop_20_warehouse_spark.dedup import minhash as MH
    from hadoop_20_warehouse_spark.dedup.components import (
        dedup_groups_from_pairs,
    )
    from hadoop_20_warehouse_spark.dedup.semantic import semantic_dedup_removed
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )
    from hadoop_20_warehouse_spark.session import hint_broadcast_if_small

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    aug = docs.select(
        "doc_id", "source", "text", _pii_augment().alias("t")
    )
    clean = aug.select(
        "doc_id",
        "source",
        "text",
        T.redact_pii("t").alias("ctext"),
        sum(
            [F.regexp_count(F.col("t"), F.lit(p)).cast("long")
             for _n, p, _ph in T.PII_PATTERNS],
            F.lit(0).cast("long"),
        ).alias("n_pii"),
    )
    key = F.md5(
        F.array_join(
            F.slice(T.tokens(F.lower(F.col("ctext"))), 1, _REF_PREFIX_W), " "
        )
    )
    exg = (
        clean.select(key.alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    exs_lazy = clean.join(exg.select("doc_id"), on="doc_id", how="left_semi")
    staged = _fresh_subdir(_scratch_dir(tag), "exs")
    exs_lazy.write.parquet(staged)
    exs = spark.read.schema(exs_lazy.schema).parquet(staged)

    pairs = (
        MH.minhash_lsh_pairs(exs, "doc_id", "ctext")
        .filter(F.col("est_jaccard") >= _REF_JACCARD_MIN)
        .select("id_a", "id_b")
    )
    comp = dedup_groups_from_pairs(exs, pairs, "doc_id")
    toks = exs.select("doc_id", T.token_count(F.col("ctext")).alias("tok"))
    reps = (
        comp.join(toks, on="doc_id")
        .groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("tok")).alias("nt"),
                    F.col("doc_id").alias("rid"),
                )
            ).alias("_r")
        )
        .select(F.col("_r.rid").alias("doc_id"))
    )
    nds = exs.join(reps, on="doc_id", how="left_semi")

    grams = (
        nds.select("doc_id", T.tokens(F.col("ctext")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + 1),
                        F.element_at(F.col("toks"), i + 2),
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    evg = grams.filter(F.col("doc_id") % 20 == 0).select("gram").distinct()
    tg = grams.filter(F.col("doc_id") % 20 != 0)
    gsz = tg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    ghit = (
        tg.join(hint_broadcast_if_small(evg), on="gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    dec = (
        nds.filter(F.col("doc_id") % 20 != 0)
        .join(gsz, on="doc_id", how="left")
        .join(ghit, on="doc_id", how="left")
        .filter(
            (F.coalesce(F.col("n_grams"), F.lit(0)) == 0)
            | (
                F.coalesce(F.col("n_overlap"), F.lit(0)) * _REF_TAU_DEN
                < F.col("n_grams")
            )
        )
        .select("doc_id", "source", "text", "n_pii")
    )

    gated_ids = _classifier_gate(docs, "doc_id")
    removed = semantic_dedup_removed(emb).select(
        F.col("vec_id").alias("doc_id")
    )
    surv = dec.join(gated_ids, on="doc_id").join(
        removed, on="doc_id", how="left_anti"
    )
    return {
        "docs": docs,
        "emb": emb,
        "exs": exs,
        "nds": nds,
        "dec": dec,
        "gated_ids": gated_ids,
        "removed": removed,
        "surv": surv,
    }


def _hygiene_sql() -> str:
    """The dedup-family + hygiene CTE chain shared by the full-endgame
    and funnel oracles: aug (PII fixture) -> clean (redacted) -> exg/
    exs (leading-span exact dedup) -> the minhash signature chain ->
    verified edges -> recursive components walk -> representative
    election (nds) -> gram decontamination (dec) -> classifier keep
    set (cls) -> SemDeDup removal set (rem).  Callers embed it in a
    WITH RECURSIVE list (walk is recursive) and chain their own
    final stages from dec/cls/rem."""
    from hadoop_20_warehouse_spark.dedup.minhash import (
        minhash_lsh_pairs_sql_parts,
    )
    from hadoop_20_warehouse_spark.dedup.semantic import (
        semantic_dedup_removed_sql,
    )

    mh_ctes, mh_final = minhash_lsh_pairs_sql_parts("exs", "doc_id", "ctext")
    red = T.redact_pii_sql("t")
    npii = " + ".join(
        f"CAST(len(regexp_extract_all(t, '{p}')) AS BIGINT)"
        for _n, p, _ph in T.PII_PATTERNS
    )
    norm32 = (
        f"md5(array_to_string(({T.tokens_sql('lower(ctext)')})"
        f"[1:{_REF_PREFIX_W}], ' '))"
    )
    return f"""aug AS (SELECT doc_id, source, {_PII_AUG_SQL} AS t FROM documents),
clean AS (
  SELECT doc_id, source, {red} AS ctext, {npii} AS n_pii FROM aug
),
exg AS (SELECT {norm32} AS k, MIN(doc_id) AS keep_id FROM clean GROUP BY 1),
exs AS (
  SELECT c.doc_id, c.source, c.ctext, c.n_pii
  FROM clean c JOIN exg ON exg.keep_id = c.doc_id
),
{mh_ctes},
alledges AS ({mh_final}),
edges AS (
  SELECT id_a, id_b FROM alledges WHERE est_jaccard >= {_REF_JACCARD_MIN}
),
und AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION
  SELECT id_b AS u, id_a AS v FROM edges
),
walk(node, component) AS (
  SELECT u, u FROM und
  UNION
  SELECT und.u, walk.component
  FROM und JOIN walk ON walk.node = und.v
  WHERE walk.component < und.u
),
best AS (SELECT node, MIN(component) AS component FROM walk GROUP BY node),
comp AS (
  SELECT e.doc_id, COALESCE(b.component, e.doc_id) AS component,
         {T.token_count_sql('e.ctext')} AS tok
  FROM exs e LEFT JOIN best b ON b.node = e.doc_id
),
rrank AS (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY component
                                    ORDER BY tok DESC, doc_id) AS rn
  FROM comp
),
nds AS (
  SELECT e.* FROM exs e JOIN rrank r ON r.doc_id = e.doc_id AND r.rn = 1
),
dtk AS (SELECT doc_id, {T.tokens_sql('ctext')} AS toks FROM nds),
dg AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM dtk WHERE len(toks) >= 3)
),
evg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 20 = 0),
tg AS (SELECT doc_id, gram FROM dg WHERE doc_id % 20 <> 0),
gsz AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM tg GROUP BY doc_id
),
ghit AS (
  SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM tg JOIN evg USING (gram)
  GROUP BY tg.doc_id
),
dec AS (
  SELECT n.doc_id, n.source, n.n_pii
  FROM nds n LEFT JOIN gsz s USING (doc_id) LEFT JOIN ghit h USING (doc_id)
  WHERE n.doc_id % 20 <> 0
    AND (COALESCE(s.n_grams, 0) = 0
         OR COALESCE(h.n_overlap, 0) * {_REF_TAU_DEN} < s.n_grams)
),
cls AS (
  SELECT doc_id FROM ( {_CLS_SQL} ) WHERE keep
),
rem AS (
  SELECT vec_id FROM ( {semantic_dedup_removed_sql('embeddings')} )
)"""


def _release_endgame_full_oracle() -> str:
    from hadoop_20_warehouse_spark.functions.bpe_scale import _batched_ctes
    from hadoop_20_warehouse_spark.inventory_analytics import (
        _BPEN_ART_VERSION,
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        _BPEN_ROUNDS,
        _BPEN_WORDROWS,
    )

    bpe = _batched_ctes(
        _BPEN_WORDROWS,
        _BPEN_ROUNDS,
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        all_words=True,
    )
    whole = " ".join(
        f"WHEN '{k}' THEN {int(v)}" for k, v in _REF_REPEATS.items()
    )
    mille = " ".join(
        f"WHEN '{k}' THEN {int(round((v - int(v)) * 1000))}"
        for k, v in _REF_REPEATS.items()
    )
    budget_case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _REF_BUDGETS.items()
    )
    srcs = ", ".join(f"'{k}'" for k in _REF_BUDGETS)
    row_fp = md5_int64_sql(
        "concat_ws('|', doc_id, epoch, source, tok_len, batch_id, "
        "batch_offset, global_pos)"
    )
    return f"""WITH RECURSIVE
{bpe},
wtok AS (
  SELECT w, in_cap,
         list_filter(string_split(seq, '||'), z -> z <> '') AS ts
  FROM ap{_BPEN_ROUNDS}
),
nv AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_vocab
  FROM (SELECT unnest(ts) AS t FROM wtok WHERE in_cap)
),
doclen AS (
  SELECT wr.did AS doc_id, CAST(SUM(len(t.ts)) AS BIGINT) AS bpe_len
  FROM wr JOIN wtok t ON t.w = wr.w
  GROUP BY wr.did
),
{_hygiene_sql()},
surv AS (
  SELECT d.doc_id, d.source, d.n_pii, COALESCE(dl.bpe_len, 0) AS tok_len
  FROM dec d
  JOIN cls USING (doc_id)
  LEFT JOIN rem ON rem.vec_id = d.doc_id
  LEFT JOIN doclen dl ON dl.doc_id = d.doc_id
  WHERE rem.vec_id IS NULL
),
cpd AS (
  SELECT doc_id, source, tok_len, n_pii,
         CASE source {whole} ELSE 1 END
           + CASE WHEN (CASE source {mille} ELSE 0 END)
                  > {md5_int64_sql("CAST(doc_id AS VARCHAR)")} % 1000
             THEN 1 ELSE 0 END AS n_copies
  FROM surv WHERE source IN ({srcs})
),
exd AS (
  SELECT doc_id, source, tok_len, n_pii, CAST(i AS BIGINT) AS epoch,
         CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR) AS copy_key
  FROM cpd, UNNEST(generate_series(0, n_copies - 1)) AS u(i)
),
mixd AS (
  SELECT doc_id, source, tok_len, n_pii, epoch, copy_key,
         CAST({md5_bucket_sql("copy_key", _RE_SHARDS)} AS BIGINT) AS shard,
         md5(copy_key) AS h
  FROM exd
),
kept AS (
  SELECT doc_id, source, tok_len, n_pii, epoch, copy_key, shard, h FROM (
    SELECT *, SUM(tok_len) OVER (PARTITION BY source ORDER BY shard, h, copy_key
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - tok_len AS m_off
    FROM mixd
  ) WHERE m_off < CASE source {budget_case} END
),
placed AS (
  SELECT doc_id, epoch, source, tok_len, n_pii, shard,
         CAST((SUM(tok_len) OVER w - tok_len) // {_RE_PACK_BUDGET} AS BIGINT) AS batch_id,
         CAST((SUM(tok_len) OVER w - tok_len) % {_RE_PACK_BUDGET} AS BIGINT) AS batch_offset,
         CAST(ROW_NUMBER() OVER (ORDER BY shard, h, copy_key) - 1 AS BIGINT) AS global_pos
  FROM kept
  WINDOW w AS (PARTITION BY shard ORDER BY h, copy_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT shard,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
       CAST(SUM(tok_len) AS BIGINT) AS total_tokens,
       CAST(SUM(n_pii) AS BIGINT) AS pii_redacted,
       CAST(MIN(global_pos) AS BIGINT) AS first_pos,
       CAST(MAX(global_pos) AS BIGINT) AS last_pos,
       CAST(bit_xor({row_fp}) AS BIGINT) AS digest,
       CAST({_BPEN_ART_VERSION} AS BIGINT) AS artifact_version,
       CAST({_BPEN_ROUNDS * _BPEN_BATCH} AS BIGINT) AS artifact_n_merges,
       (SELECT n_vocab FROM nv) AS artifact_n_vocab
FROM placed
GROUP BY shard"""


@register("pipeline_release_endgame_full", oracle=_release_endgame_full_oracle())
def q_pipeline_release_endgame_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL release endgame (VERDICT r14 #1): the dedup family and
    corpus-hygiene stages folded in front of the release endgame, ONE
    hash-checked plan — the last untested composition risk was an
    ITERATIVE algorithm (the connected-components loop) inside a
    hash-checked composed oracle; this query closes it.

    Stages, in production order:

    (1) PII redact: the corpus carries no PII, so documents are first
    augmented with deterministic doc_id-derived PII (the pii_redact
    fixture discipline, _PII_AUG_SQL) and then redacted
    (functions/text.redact_pii).  All CONTENT-KEYED stages downstream
    — the exact-dedup key, the LSH shingles, the decontamination grams
    — read the REDACTED text, so a skipped or broken redaction changes
    the dedup/decon survivor sets and the final hash catastrophically;
    per-shard PII-hit totals are additionally pinned into the output.
    (2) Exact dedup: md5 of the first 32 normalized tokens of the
    redacted text (the C4-style leading-span content key — full-text
    md5 finds no duplicates at sf<=0.01), min-doc_id election via
    partial-agg groupBy + semi-join (dedup/exact.py's plan shape).
    (3) Near-dup: MinHash-LSH candidate pairs over the redacted text
    (dedup/minhash.py, the rowlocal-signature path), VERIFIED at
    est_jaccard >= 0.5 (the standard candidate->verify step), the
    iterative min-label components loop (dedup/components.py — each
    round localCheckpointed, convergence carried by observe()), and
    per-cluster representative election by max redacted-token count
    with doc_id tiebreak (the dedup_cluster_representative
    min(struct(-tok, id)) partial agg — never a row_number window
    over corpus-sized clusters).
    (4) Decontamination: distinct word trigrams of the redacted text;
    the eval slice (doc_id % 20 == 0) is withheld from the release and
    train docs sharing >= 1/4 of their grams with it are dropped
    (decontaminate_ngram's broadcast-eval-grams join shape).
    (5) Classifier gate on the ORIGINAL text (_classifier_gate — the
    same zero-shuffle inference the base endgame pins; the PII fixture
    is a wiring proof, not corpus content, so its tokens must not
    perturb quality scores).  (6) SemDeDup anti-join on doc id.
    (7) Ship-the-tokenizer: train the 2048-merge natural-text BPE on
    the full trigram-shingled corpus, persist/reload via the versioned
    store, tokenize survivors with the reloaded merges (identical to
    the base endgame — a hash match proves the store restored the
    exact trained sequence).  (8) UPSAMPLED mixture on REAL subword
    counts (dedup/spans.mixture_with_epochs — epoch copies first,
    budget fill over the expanded stream: src3's budget exceeds its
    single-copy mass and is met only through its 2.5 epochs).
    (9) Token-budget packing and (10) deterministic global shuffle,
    both keyed on the composite copy key.  (11) Physical partitioned
    shard export + readback audit digest, with the artifact manifest
    fields and per-shard PII totals pinned into the hashed output.

    Scale shape: two corpus-sized staging checkpoints — the redacted
    exact-survivor frame (parquet, written once so the redaction
    regexes and the exact-key agg run ONE pass; LSH signatures, the
    rep election, and the gram stages all re-read the staged file)
    and the tokenized survivor frame (persist, the base endgame's
    checkpoint).  The components loop is O(diameter) keyed
    joins+aggs over the VERIFIED edge list (never the raw candidate
    set); every downstream window is per-md5-shard with O(domains x
    shards) broadcast offset lifts; the export is one partitionBy
    fan-out.  Measured at sf0.01 the chain carries 500 -> 483 (exact)
    -> 386 (near-dup) -> 331 (decon) -> ~30 (gate+SemDeDup) docs into
    the mixture.

    Reference lineage: monsterQuery's chained stages at production
    width (GridMixRunner.java:230); the two-job temp-dir handoff is
    examples/Grep.java:48-84; the artifact ship is
    filecache/DistributedCache.java:45."""
    from hadoop_20_warehouse_spark.dedup.spans import (
        global_shuffle_order,
        mixture_with_epochs,
        pack_token_budget,
    )
    from hadoop_20_warehouse_spark.functions import bpe as B
    from hadoop_20_warehouse_spark.functions import bpe_scale as BS
    from hadoop_20_warehouse_spark.functions import bpe_store as BST
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64
    from hadoop_20_warehouse_spark.inventory_analytics import (
        _BPEN_ART_VERSION,
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        _BPEN_ROUNDS,
        _bpe_natural_docs,
        trigram_stream,
    )
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    # (1)-(6): the shared hygiene chain (see _hygiene_chain — staged
    # exact-survivor parquet, verified LSH + components + rep
    # election, decontamination, gate, SemDeDup)
    chain = _hygiene_chain(spark, sf_dir, "release_endgame_full")
    surv = chain["surv"]

    # (7) ship the tokenizer (train on the full natural corpus,
    # persist, reload, apply to the survivors' ORIGINAL text — the
    # PII fixture is not corpus content, so subword budgets must not
    # count its tokens)
    trig_all = _bpe_natural_docs(spark, sf_dir)
    merges_df = BS.train_merges_batched(
        trig_all,
        rounds=_BPEN_ROUNDS,
        batch=_BPEN_BATCH,
        max_words=_BPEN_MAX_WORDS,
        strict=True,
    )
    trained = [tuple(r) for r in sorted(merges_df.collect())]
    vocab_df = BS.vocab_after_merges_large(
        trig_all, trained, max_words=_BPEN_MAX_WORDS
    )
    store = _fresh_subdir(_scratch_dir("release_endgame_full"), "store")
    BST.write_tokenizer(merges_df, vocab_df, store, version=_BPEN_ART_VERSION)
    art = BST.read_tokenizer(spark, store)
    reloaded = BST.load_merges(art)
    n_vocab = art["vocab"].count()
    tok = B.tokenize_with_merges(
        trigram_stream(surv.select("doc_id", "text")), reloaded
    )
    survlen = (
        surv.select("doc_id", "source", "n_pii")
        .join(tok.select("doc_id", "bpe_len"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_pii",
            F.coalesce(F.col("bpe_len"), F.lit(0)).cast("long").alias("bpe_len"),
        )
        .persist()  # the staging checkpoint: every stage below re-reads it
    )
    try:
        # (8) upsampled epoch mixture on REAL subword counts
        mixed = mixture_with_epochs(
            survlen,
            _REF_BUDGETS,
            _REF_REPEATS,
            n_shards=_RE_SHARDS,
            tok_len_col="bpe_len",
        )
        copies = mixed.join(
            survlen.select("doc_id", "n_pii"), on="doc_id"
        ).withColumn(
            "copy_key",
            F.concat_ws(
                "#",
                F.col("doc_id").cast("string"),
                F.col("epoch").cast("string"),
            ),
        )
        # (9) pack, (10) place — keyed on the composite copy key
        packed = pack_token_budget(
            copies,
            id_col="copy_key",
            budget=_RE_PACK_BUDGET,
            n_shards=_RE_SHARDS,
            tok_len_col="tok_len",
            passthrough=("doc_id", "epoch", "source", "n_pii"),
        )
        placed = global_shuffle_order(
            packed,
            id_col="copy_key",
            n_shards=_RE_SHARDS,
            passthrough=(
                "doc_id", "epoch", "source", "tok_len",
                "batch_id", "batch_offset", "n_pii",
            ),
        )
        # (11) physical shard export
        path = _fresh_subdir(_scratch_dir("release_endgame_full"), "shards")
        placed.write.partitionBy("shard").parquet(path)
    finally:
        survlen.unpersist()
    back = spark.read.schema(placed.schema).parquet(path)
    row_fp = md5_int64(
        F.concat_ws(
            "|",
            *[
                F.col(c).cast("string")
                for c in (
                    "doc_id", "epoch", "source", "tok_len", "batch_id",
                    "batch_offset", "global_pos",
                )
            ],
        )
    )
    return (
        back.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("batch_id").cast("long").alias("n_batches"),
            F.sum("tok_len").cast("long").alias("total_tokens"),
            F.sum("n_pii").cast("long").alias("pii_redacted"),
            F.min("global_pos").cast("long").alias("first_pos"),
            F.max("global_pos").cast("long").alias("last_pos"),
            F.bit_xor(row_fp).cast("long").alias("digest"),
        )
        .select(
            "*",
            F.lit(int(art["manifest"]["version"]))
            .cast("long")
            .alias("artifact_version"),
            F.lit(int(art["manifest"]["n_merges"]))
            .cast("long")
            .alias("artifact_n_merges"),
            F.lit(int(n_vocab)).cast("long").alias("artifact_n_vocab"),
        )
    )


# ===========================================================================
# Deterministic train/val/test split assignment
# ===========================================================================

# 90/5/5 with a named salt: the standard pretraining split.  Dict
# order defines the per-mille threshold layout (train: u<900, val:
# 900<=u<950, test: 950<=u<1000).
_SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}
_SPLIT_SALT = "r15"


def _split_assign_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.spans import split_assign_sql

    expr = split_assign_sql(_SPLIT_FRACTIONS, "doc_id", salt=_SPLIT_SALT)
    return f"""
WITH s AS (
  SELECT doc_id, source, {T.token_count_sql('text')} AS tok_len,
         {expr} AS split
  FROM documents
)
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok_len) AS BIGINT) AS total_tokens,
       CAST(bit_xor({md5_int64_sql("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS member_digest
FROM s
GROUP BY source, split
"""


@register("corpus_split_assign", oracle=_split_assign_oracle())
def q_corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment — the holdout
    step every training-data pipeline runs before export: each doc's
    salted md5 per-mille bucket maps to cumulative fraction
    thresholds (90/5/5 here), so splits are disjoint, exhaustive, and
    STABLE UNDER CORPUS GROWTH — a document keeps its split across
    corpus versions, which is what prevents eval contamination when
    the corpus is re-ingested (a rank-based split reassigns
    everything; the reference's analogous fixed-fraction holdout is
    the MD5 percent filter, SequenceFileInputFilter.java:195, turned
    from sampling into partitioning).  Library form:
    dedup/spans.split_assign (+ split_assign_sql twin).

    Output: per (source, split) counts, token mass, and an
    order-insensitive member-id XOR digest — the digest pins the
    exact assignment, not just its sizes.  Scale shape: one row-local
    md5 projection + one keyed agg; zero joins."""
    from hadoop_20_warehouse_spark.dedup.spans import split_assign
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64

    docs = load_table(spark, sf_dir, "documents")
    s = split_assign(docs, _SPLIT_FRACTIONS, salt=_SPLIT_SALT).select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).alias("tok_len"),
        "split",
    )
    return s.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok_len").cast("long").alias("total_tokens"),
        F.bit_xor(md5_int64(F.col("doc_id").cast("string")))
        .cast("long")
        .alias("member_digest"),
    )


def _split_export_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.spans import split_assign_sql

    sx = split_assign_sql(_SPLIT_FRACTIONS, "doc_id", salt=_SPLIT_SALT)
    row_fp = md5_int64_sql(
        "concat_ws('|', doc_id, source, split, tok_len, batch_id, batch_offset)"
    )
    return f"""
WITH s AS (
  SELECT doc_id, source, {T.token_count_sql('text')} AS tok_len,
         {sx} AS split,
         CAST({md5_bucket_sql("CAST(doc_id AS VARCHAR)", _PACK_SHARDS)} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, source, split, shard, tok_len,
         SUM(tok_len) OVER (PARTITION BY split, shard ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM s
),
placed AS (
  SELECT doc_id, source, split, shard, tok_len,
         CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS batch_id,
         CAST(start_off % {_PACK_BUDGET} AS BIGINT) AS batch_offset
  FROM c
)
SELECT split, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
       CAST(SUM(tok_len) AS BIGINT) AS total_tokens,
       CAST(bit_xor({row_fp}) AS BIGINT) AS digest
FROM placed
GROUP BY split, shard
"""


@register("corpus_split_export", oracle=_split_export_oracle())
def q_corpus_split_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-aware shard export — the artifact layout a training run
    actually consumes (a train/ val/ test/ shard tree): split_assign's
    stable holdout labels → SPLIT-PURE token packing (pack_token_budget
    partition_extra=("split",) — a batch never straddles the eval
    boundary; the cumsum window is per (split, md5-shard)) → physical
    two-level partitionBy(split, shard) export → pinned-schema
    readback → per-(split, shard) audit with batch placement in the
    row fingerprint.  The oracle replays assignment+packing on the
    original table, so the hash proves the split column survives the
    window, the fan-out write, and the directory-encoding round-trip.

    Scale shape: one row-local md5 projection, one per-(split, shard)
    cumsum (3 splits x n_shards partitions of |corpus|/(3*shards)...
    |corpus|*0.9/shards rows), one partitionBy fan-out; zero joins."""
    from hadoop_20_warehouse_spark.dedup.spans import (
        pack_token_budget,
        split_assign,
    )
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    s = split_assign(docs, _SPLIT_FRACTIONS, salt=_SPLIT_SALT)
    packed = pack_token_budget(
        s,
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
        passthrough=("source",),
        partition_extra=("split",),
    )
    path = _fresh_subdir(_scratch_dir("split_export"), "shards")
    packed.write.partitionBy("split", "shard").parquet(path)
    back = spark.read.schema(packed.schema).parquet(path)
    row_fp = md5_int64(
        F.concat_ws(
            "|",
            *[
                F.col(c).cast("string")
                for c in ("doc_id", "source", "split", "tok_len", "batch_id", "batch_offset")
            ],
        )
    )
    return back.groupBy(
        "split", F.col("shard").cast("long").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("batch_id").cast("long").alias("n_batches"),
        F.sum("tok_len").cast("long").alias("total_tokens"),
        F.bit_xor(row_fp).cast("long").alias("digest"),
    )


def _curation_funnel_oracle() -> str:
    return f"""WITH RECURSIVE
{_hygiene_sql()},
surv AS (
  SELECT d.doc_id, d.source, d.n_pii
  FROM dec d
  JOIN cls USING (doc_id)
  LEFT JOIN rem ON rem.vec_id = d.doc_id
  WHERE rem.vec_id IS NULL
),
survtok AS (
  SELECT s.doc_id, s.n_pii, {T.token_count_sql('d.text')} AS tok_len
  FROM surv s JOIN documents d USING (doc_id)
)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_raw,
       CAST((SELECT COUNT(*) FROM exs) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM nds) AS BIGINT) AS n_neardup,
       CAST((SELECT COUNT(*) FROM dec) AS BIGINT) AS n_decontaminated,
       CAST((SELECT COUNT(*) FROM dec JOIN cls USING (doc_id)) AS BIGINT) AS n_gated,
       CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_final,
       CAST((SELECT COALESCE(SUM(tok_len), 0) FROM survtok) AS BIGINT) AS final_tokens,
       CAST((SELECT COALESCE(SUM(n_pii), 0) FROM survtok) AS BIGINT) AS final_pii_redacted
"""


@register("pipeline_curation_funnel", oracle=_curation_funnel_oracle())
def q_pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report — the per-stage attrition summary a
    production corpus team reads after every ingest (how many docs the
    exact pass removed, how many the near-dup components collapsed,
    how many decontamination and the gate dropped, what survived):
    ONE row of exact stage counts over the SAME hygiene chain the
    full release endgame runs (_hygiene_chain — same staged
    exact-survivor parquet, same verified LSH + components +
    representative election, same gram decontamination, gate, and
    SemDeDup), plus the final corpus' whitespace-token mass and
    PII-hit total.  The oracle replays the chain from scratch
    (_hygiene_sql — including the recursive components walk), so the
    funnel numbers are hash-checked, not merely logged.

    Scale shape: ONE aggregation job over a labeled union of the
    stage frames — each stage subtree evaluates exactly once per
    funnel run (not once per counter: the naive one-count()-per-stage
    form re-ran the gram join ~4x).  The decontaminated frame is
    staged to parquet (with its token counts precomputed) so the
    three branches downstream of it read the staging file; the
    exact-survivor frame is the chain's own staged parquet.
    Reference analog: the per-job Counters every MapReduce pipeline
    printed between stages (mapred/Counters.java:61), turned into one
    auditable frame."""
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    chain = _hygiene_chain(spark, sf_dir, "curation_funnel")
    # stage dec once (narrow, with the final-stage token counts
    # precomputed) — the decon/gated/final branches all read it
    dec_lazy = chain["dec"].select(
        "doc_id",
        "n_pii",
        T.token_count(F.col("text")).alias("tok_len"),
    )
    staged = _fresh_subdir(_scratch_dir("curation_funnel"), "dec")
    dec_lazy.write.parquet(staged)
    dec = spark.read.schema(dec_lazy.schema).parquet(staged)
    gated = dec.join(chain["gated_ids"], on="doc_id")
    final = gated.join(chain["removed"], on="doc_id", how="left_anti")

    zero = F.lit(0).cast("long")

    def lab(df: DataFrame, name: str, tok=None, pii=None) -> DataFrame:
        return df.select(
            F.lit(name).alias("stage"),
            (tok if tok is not None else zero).cast("long").alias("tok"),
            (pii if pii is not None else zero).cast("long").alias("pii"),
        )

    u = (
        lab(chain["docs"], "raw")
        .unionByName(lab(chain["exs"], "exact"))
        .unionByName(lab(chain["nds"], "neardup"))
        .unionByName(lab(dec, "decon"))
        .unionByName(lab(gated, "gated"))
        .unionByName(
            lab(final, "final", tok=F.col("tok_len"), pii=F.col("n_pii"))
        )
    )

    def n(stage: str) -> F.Column:
        return F.sum(F.when(F.col("stage") == stage, 1).otherwise(0)).cast(
            "long"
        )

    return u.agg(
        n("raw").alias("n_raw"),
        n("exact").alias("n_exact"),
        n("neardup").alias("n_neardup"),
        n("decon").alias("n_decontaminated"),
        n("gated").alias("n_gated"),
        n("final").alias("n_final"),
        F.sum(F.when(F.col("stage") == "final", F.col("tok")).otherwise(0))
        .cast("long")
        .alias("final_tokens"),
        F.sum(F.when(F.col("stage") == "final", F.col("pii")).otherwise(0))
        .cast("long")
        .alias("final_pii_redacted"),
    )


_PMI_MIN_COUNT = 5
_PMI_TOP_K = 200
# ONE ln over a ratio assembled in a FIXED ieee-double op order, then
# milli-nat integer rounding (the text_*_nll discipline): identical
# text on both engines, so * and / are correctly-rounded IEEE steps
# and only ln crosses libm — rounded to 1e-3 it has been hash-stable
# across every NLL round.
_PMI_EXPR = (
    "CAST(round(ln(((CAST(c_ab AS DOUBLE) * n_uni) / c_a)"
    " * (CAST(n_uni AS DOUBLE) / c_b) / n_big) * 1000, 0) AS BIGINT)"
)

_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
),
big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
),
uni AS (
  SELECT t[i] AS w, CAST(COUNT(*) AS BIGINT) AS c_uni
  FROM toks, UNNEST(generate_series(1, len(t))) u(i)
  GROUP BY 1
),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM big GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}
),
tot AS (
  SELECT CAST((SELECT COUNT(*) FROM big) AS BIGINT) AS n_big,
         CAST((SELECT CAST(SUM(c_uni) AS BIGINT) FROM uni) AS BIGINT) AS n_uni
),
scored AS (
  SELECT bc.w1, bc.w2, bc.c_ab, {_PMI_EXPR} AS pmi_milli
  FROM bc
  JOIN (SELECT w, c_uni AS c_a FROM uni) a ON a.w = bc.w1
  JOIN (SELECT w, c_uni AS c_b FROM uni) b ON b.w = bc.w2
  CROSS JOIN tot
)
SELECT w1, w2, c_ab, pmi_milli,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi_milli DESC, w1, w2) AS BIGINT) AS rk
FROM scored
ORDER BY pmi_milli DESC, w1, w2
LIMIT {_PMI_TOP_K}
"""


@register("text_collocations_pmi", oracle=_PMI_SQL)
def q_text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} collocations by pointwise mutual information —
    PMI(a,b) = ln(p(a,b) / (p(a)p(b))) over adjacent-token bigrams,
    support-filtered at c_ab >= {mc} (unfiltered PMI is maximized by
    hapax pairs; the support floor is the standard Church & Hanks 1990
    fix).  The collocation list is the phrase-mining primitive of the
    text-analysis family (multi-word expressions for tokenizer vocab
    seeding, boilerplate phrase discovery) — NLL scores documents,
    PMI scores the PAIRS themselves.

    Bigram extraction is ROW-LOCAL (token-array transform, no corpus
    window — the text_bigram_nll shape); unigram/bigram counts are
    wordcount partial aggs; scoring is two vocab-keyed joins (the
    support filter shrinks the left side FIRST) + one broadcast
    scalar pair; the final top-k is orderBy+limit = TakeOrdered (a
    k-row driver result, never a corpus sort), with rank assigned
    AFTER the limit over the k survivors.

    Cross-engine exactness: integer counts; ONE ln over a ratio
    assembled in a fixed IEEE op order, milli-nat rounded (the NLL
    discipline); rank ties broken by the pair itself."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(T.tokens(F.col("text")).alias("t"))
    big = toks.filter(F.size("t") > 1).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i -> struct("
                "element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_uni"))
    )
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
    )
    tot = big.agg(
        F.count(F.lit(1)).cast("long").alias("n_big")
    ).crossJoin(
        uni.agg(F.sum("c_uni").cast("long").alias("n_uni"))
    )
    scored = (
        bc.join(uni.select(F.col("w").alias("w1"),
                           F.col("c_uni").alias("c_a")), on="w1")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c_uni").alias("c_b")), on="w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", F.expr(_PMI_EXPR).alias("pmi_milli"))
    )
    from pyspark.sql import Window

    topk = scored.orderBy(
        F.desc("pmi_milli"), "w1", "w2"
    ).limit(_PMI_TOP_K)
    return topk.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("pmi_milli"), "w1", "w2"))
        .cast("long"),
    )


q_text_collocations_pmi.__doc__ = q_text_collocations_pmi.__doc__.format(
    k=_PMI_TOP_K, mc=_PMI_MIN_COUNT
)


# per-token KL term, fixed IEEE op order, milli-nat rounded (the NLL
# discipline): token in source s, word w contributes
# ln(p_s(w)/p(w)) = ln((c_sw * n_tot) / (c_w * n_src)); summed over
# occurrences that is c_sw * term.
_KL_TERM = (
    "CAST(round(ln((CAST(c_sw AS DOUBLE) * n_tot) / "
    "(CAST(c_w AS DOUBLE) * n_src)) * 1000, 0) AS BIGINT)"
)

_KL_SQL = f"""
WITH toks AS (
  SELECT source, {T.tokens_sql('text')} AS t FROM documents
),
occ AS (
  SELECT source, t[i] AS w
  FROM toks, UNNEST(generate_series(1, len(t))) u(i)
),
sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
  FROM occ GROUP BY source, w
),
cw AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM occ GROUP BY w
),
ns AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM occ GROUP BY source
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM occ)
SELECT s.source,
       MIN(n.n_src) AS n_tokens,
       CAST(SUM(s.c_sw * {_KL_TERM}) AS BIGINT) AS kl_sum_milli,
       CAST(CASE WHEN SUM(s.c_sw * {_KL_TERM}) >= 0 THEN 1 ELSE -1 END
            * ((1000 * abs(SUM(s.c_sw * {_KL_TERM}))) // MIN(n.n_src)) AS BIGINT)
         AS kl_per_token_micro
FROM sw s
JOIN cw ON cw.w = s.w
JOIN ns n ON n.source = s.source
CROSS JOIN nt
GROUP BY s.source
""".strip()


@register("corpus_divergence_by_source", oracle=_KL_SQL)
def q_corpus_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source unigram distribution ‖
    corpus unigram distribution), in occurrence-summed milli-nats plus
    a per-token micro-nat rate.  THE domain-shift monitor of a corpus
    mixture: a source whose language drifts from the blend (template
    spam flooding in, a crawler trapped in one site section, a
    language flip) spikes here before any single-document quality
    score moves — document scores catch bad DOCUMENTS, divergence
    catches bad SOURCES.  KL is computed exactly (no smoothing
    needed: every source word IS a corpus word, so p(w) > 0 wherever
    p_s(w) > 0).

    Cross-engine exactness: each distinct (source, word)'s log-ratio
    is ONE ln over a ratio assembled in fixed IEEE order, milli-nat
    rounded, multiplied by the integer occurrence count, then
    order-independently summed (the NLL discipline lifted from
    per-document to per-source); the rate divides integers floored.

    Scale: tokenization is row-local; all four count frames are
    wordcount-shape partial aggs; the scoring join is keyed by word
    (vocab-sized) and the per-source totals broadcast; the final agg
    is keyed by source.  No window, no driver data; the whole plan is
    the wordcount family run four ways and joined."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("w")
    )
    sw = occ.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_sw")
    )
    cw = occ.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c_w")
    )
    ns = occ.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    nt = occ.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    term = F.expr(_KL_TERM.replace("//", "div"))
    return (
        sw.join(cw, on="w")
        .join(F.broadcast(ns), on="source")
        .crossJoin(F.broadcast(nt))
        .select("source", "n_src", (F.col("c_sw") * term).alias("k"))
        .groupBy("source")
        .agg(
            F.min("n_src").alias("n_tokens"),
            F.sum("k").cast("long").alias("kl_sum_milli"),
        )
        .select(
            "source",
            "n_tokens",
            "kl_sum_milli",
            # sign-split floored division: Gibbs makes the true KL >= 0,
            # but per-term milli rounding could push a near-zero source
            # negative, where Spark's div (trunc) and DuckDB's //
            # (floor) disagree — the spend_trend seam, pre-empted
            F.expr(
                "cast((case when kl_sum_milli >= 0 then 1 else -1 end)"
                " * ((1000 * abs(kl_sum_milli)) div n_tokens) as bigint)"
            ).alias("kl_per_token_micro"),
        )
    )


_ALLOC_BUDGET = 1000  # total sample quota apportioned across sources


_ALLOC_SQL = f"""
WITH mass AS (
  SELECT source, CAST(SUM({token_count_sql('text')}) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM mass),
base AS (
  SELECT m.source, m.tokens,
         ({_ALLOC_BUDGET} * m.tokens) // tot.t AS floor_q,
         ({_ALLOC_BUDGET} * m.tokens) % tot.t AS rem
  FROM mass m CROSS JOIN tot
),
leftover AS (
  SELECT CAST({_ALLOC_BUDGET} - SUM(floor_q) AS BIGINT) AS k FROM base
),
ranked AS (
  SELECT source, tokens, floor_q,
         CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rr
  FROM base
)
SELECT r.source, r.tokens,
       CAST(r.floor_q + CASE WHEN r.rr <= l.k THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM ranked r CROSS JOIN leftover l
""".strip()


@register("corpus_sample_allocation", oracle=_ALLOC_SQL)
def q_corpus_sample_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional BUDGET apportionment across sources —
    largest-remainder (Hamilton) allocation of a fixed {k}-sample
    quota by token mass: floor quotas from integer division, the
    undistributed remainder going to the largest fractional
    remainders (source-name tiebreak).  The allocator a fixed
    eval-set or annotation budget actually needs: quotas are
    integers, sum EXACTLY to the budget (floor-and-round-per-group
    does not), and never drift with float rounding — then
    sample_per_group executes the per-source draws.

    Exactness: pure integer div/mod on token masses (Spark ``div``/
    ``%`` vs DuckDB ``//``/``%`` agree on the non-negative operands
    here); the remainder ranking is a window over the SOURCE-count
    frame (O(sources) rows, post-agg — the rank-of-k-after-agg shape,
    never a corpus window).

    Scale: one wordcount-shaped partial agg to token masses, one
    broadcast scalar, one O(sources) window.  The corpus contributes
    exactly one scan."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    mass = docs.groupBy("source").agg(
        F.sum(T.token_count(F.col("text"))).cast("long").alias("tokens")
    )
    tot = mass.agg(F.sum("tokens").cast("long").alias("t"))
    base = mass.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"({_ALLOC_BUDGET} * tokens) div t").alias("floor_q"),
        F.expr(f"({_ALLOC_BUDGET} * tokens) % t").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(_ALLOC_BUDGET) - F.sum("floor_q")).cast("long").alias("k")
    )
    ranked = base.withColumn(
        "rr",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "source"))
        .cast("long"),
    )
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "source",
        "tokens",
        (
            F.col("floor_q")
            + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
        ).cast("long").alias("quota"),
    )


q_corpus_sample_allocation.__doc__ = q_corpus_sample_allocation.__doc__.format(
    k=_ALLOC_BUDGET
)


_VOCAB_SQL = f"""
WITH occ AS (
  SELECT source, t[i] AS w
  FROM (SELECT source, {T.tokens_sql('text')} AS t FROM documents),
       UNNEST(generate_series(1, len(t))) u(i)
),
wc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM occ GROUP BY source, w
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST((1000 * COUNT(*)) // SUM(c) AS BIGINT) AS type_token_milli,
       CAST((1000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS hapax_share_milli
FROM wc GROUP BY source
""".strip()


@register("corpus_vocab_stats", oracle=_VOCAB_SQL)
def q_corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source VOCABULARY health: token count, type (distinct
    word) count, hapax legomena count, and the floored per-mille
    type-token and hapax ratios — the corpus-linguistics dashboard
    row that separates template spam (tiny type-token ratio: the
    same words over and over) from OCR noise / mojibake (hapax share
    near 1000: almost every "word" occurs once) from healthy prose
    in between.  Complements corpus_divergence_by_source: KL needs a
    reference blend, these are absolute per-source signals.

    Shapes: wordcount partial agg to (source, word) counts, one
    source-keyed roll-up — two keyed shuffles total, no window, no
    join; the corpus contributes one scan.  Integer counts and
    non-negative floored ratios (`div` == `//` here) cross the
    hash."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("cast((1000 * n_types) div n_tokens as bigint)").alias(
                "type_token_milli"
            ),
            F.expr("cast((1000 * n_hapax) div n_types as bigint)").alias(
                "hapax_share_milli"
            ),
        )
    )
