"""Inventory: LLM-training-data pipeline operators (SURVEY.md §7
Phase 4 / BASELINE.json north star) — dedup, similarity search, text
analysis over the ``documents`` and ``embeddings`` tables.

Every query here has a full DuckDB oracle: all hashing is md5-derived
(functions/hashing.py), all ratios divide exact integers in double,
and cosine similarities are rounded before ranking (similarity/knn.py
docstring explains why that is cross-engine stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.dedup import embedding as EMB
from hadoop_20_warehouse_spark.dedup import exact as DX
from hadoop_20_warehouse_spark.dedup import minhash as MH
from hadoop_20_warehouse_spark.dedup import semantic as SEM
from hadoop_20_warehouse_spark.dedup import simhash as SH
from hadoop_20_warehouse_spark.functions import text as T
from hadoop_20_warehouse_spark.registry import register
from hadoop_20_warehouse_spark.similarity import ivf as IVF
from hadoop_20_warehouse_spark.similarity import knn as KNN
from hadoop_20_warehouse_spark.similarity import pq as PQ

# ===========================================================================
# Deduplication
# ===========================================================================


@register(
    "dedup_exact",
    oracle=DX.exact_dedup_groups_sql("documents", "doc_id", "text"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by md5(text), elect min doc_id
    (dedup/exact.py). One digest-keyed shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return DX.exact_dedup_groups(docs, "doc_id", "text")


@register(
    "dedup_minhash_lsh",
    oracle=MH.minhash_lsh_pairs_sql("documents", "doc_id", "text"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 hashes) + LSH(4 bands) near-dup candidate pairs with
    signature-estimated Jaccard (dedup/minhash.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return MH.minhash_lsh_pairs(docs, "doc_id", "text")


@register(
    "dedup_simhash",
    oracle=SH.simhash_sql("documents", "doc_id", "text"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (dedup/simhash.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return SH.simhash(docs, "doc_id", "text")


_NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, source, n_chars,
         list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM toks)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b
    ON a.source = b.source AND a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) <= 10
),
shared AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
  GROUP BY c.id_a, c.id_b
)
SELECT s.id_a, s.id_b,
       CAST(s.n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - s.n_shared) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE CAST(s.n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - s.n_shared) >= 0.2
"""


@register(
    "dedup_embedding_cosine",
    oracle=EMB.embedding_near_dup_pairs_sql("embeddings"),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup/embedding.py): banded
    sign-LSH candidates (4 tables × 8-bit signatures, OR-amplified,
    multi-probe over all 1-bit flips), exact cosine >= 0.4 on
    candidates only — the vector-space sibling of dedup_minhash_lsh;
    all-pairs cosine is never materialized."""
    emb = load_table(spark, sf_dir, "embeddings")
    return EMB.embedding_near_dup_pairs(emb)


@register("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_SQL)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard over blocked candidate pairs (same
    source, |Δ n_chars| ≤ 10) — the verify stage a MinHash pipeline
    feeds. Blocking keeps the pair space linear-ish; the gram join is
    an equi-join on the gram string."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", "n_chars", T.tokens(F.col("text")).alias("toks")
    )
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.transform(
                        # sequence guard: Spark sequence(0, -1) counts *down*;
                        # only generate when there are >= 2 tokens
                        F.sequence(F.lit(0), F.size("toks") - 2),
                        lambda i: F.concat(
                            F.element_at(F.col("toks"), i + 1),
                            F.lit(" "),
                            F.element_at(F.col("toks"), i + 2),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = toks.select(
        F.col("doc_id").alias("id_a"), "source", F.col("n_chars").alias("nc_a")
    )
    b = toks.select(
        F.col("doc_id").alias("id_b"), "source", F.col("n_chars").alias("nc_b")
    )
    cand = (
        a.join(b, on="source")
        .filter((F.col("id_a") < F.col("id_b")) & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 10))
        .select("id_a", "id_b")
    )
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("gram"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("gram"))
    shared = (
        cand.join(ga, on="id_a")
        .join(gb, on=["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("ng_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("ng_b"))
    jac = F.col("n_shared").cast("double") / (
        F.col("ng_a") + F.col("ng_b") - F.col("n_shared")
    )
    return (
        shared.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


# ===========================================================================
# Similarity search
# ===========================================================================


@register(
    "knn_cosine_brute",
    oracle=KNN.brute_force_topk_sql("embeddings", "vec_id % 50 = 0", k=10),
)
def q_knn_cosine_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for every 50th vector as query — the
    brute-force ANN baseline (similarity/knn.py); query set broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return KNN.brute_force_topk(emb, queries, k=10)


@register(
    "knn_lsh",
    oracle=KNN.lsh_topk_sql("embeddings", k=5, n_planes=8),
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-5 for every vector — the scale path:
    bucket equi-join instead of cross join (similarity/knn.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return KNN.lsh_topk(emb, k=5, n_planes=8)


@register(
    "knn_ivf",
    oracle=IVF.ivf_topk_sql("embeddings", k=5),
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-5 for every vector (similarity/ivf.py):
    broadcast fixed-k centroid table (smallest-k by md5(id), count
    independent of corpus size), nprobe=2 cell probing — candidate
    join is an equi-join on centroid_id, never a cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return IVF.ivf_topk(emb, k=5)


# ===========================================================================
# Text analysis
# ===========================================================================

_LANGS = sorted(T.STOPWORD_PROFILES)


def _lang_id_sql() -> str:
    per_lang = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{lang}' AS cand_lang, {T.stopword_hits_sql('text', lang)} AS hits FROM documents"
        for lang in _LANGS
    )
    return f"""
WITH scores AS ({per_lang}),
ranked AS (
  SELECT doc_id, cand_lang, hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang ASC) AS rn
  FROM scores
)
SELECT doc_id, cand_lang AS predicted_lang, hits AS stopword_hits
FROM ranked WHERE rn = 1
"""


@register("text_lang_id", oracle=_lang_id_sql())
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (functions/text.py): score each
    language by stopword hits, argmax with (hits DESC, lang ASC)
    tiebreak.  FULLY ROW-LOCAL (r5 rewrite): the per-language scores
    form an in-row array and ``array_min`` over (-hits, lang) structs
    takes the argmax inside one projection — zero shuffles, a pure map
    over the scan (the prior union-4-frames + row_number form shuffled
    |corpus|×4 rows just to rank 4 values per doc)."""
    docs = load_table(spark, sf_dir, "documents")
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    (-T.stopword_hits(F.col("text"), lang)).alias("neg"),
                    F.lit(lang).alias("lang"),
                )
                for lang in _LANGS
            ]
        )
    )
    return docs.select(
        "doc_id",
        best["lang"].alias("predicted_lang"),
        (-best["neg"]).cast("long").alias("stopword_hits"),
    )


@register(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       {T.token_count_sql('text')} AS n_tokens,
       CASE WHEN {T.token_count_sql('text')} > 0
            THEN CAST(len(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', '', 'g')) AS DOUBLE) / {T.token_count_sql('text')}
            ELSE 0.0 END AS mean_token_len,
       {T.punct_ratio_sql('text')} AS punct_ratio,
       CASE WHEN {T.token_count_sql('text')} > 0
            THEN CAST({T.stopword_hits_sql('text', 'en')} AS DOUBLE) / {T.token_count_sql('text')}
            ELSE 0.0 END AS stopword_ratio
FROM documents
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (functions/text.py): token count,
    mean token length, punctuation ratio, stopword ratio — the cheap
    first-stage filters of a pretraining pipeline. Pure map, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    feats = T.quality_features(docs, "text")
    return feats.select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio", "stopword_ratio"
    )


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       {T.token_count_sql('text')} AS n_tokens,
       {T.bpe_piece_count_sql('text')} AS n_bpe_pieces,
       CAST(len(text) AS BIGINT) AS n_chars_obs
FROM documents
""",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish pre-tokenizer
    pieces (functions/text.py BPE_SPLIT_REGEX)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_piece_count(F.col("text")).alias("n_bpe_pieces"),
        F.length("text").cast("long").alias("n_chars_obs"),
    )


@register(
    "text_fingerprint",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id, md5(substring(txt, pos, 8)) AS h
  FROM (
    SELECT doc_id, text AS txt,
           unnest(generate_series(1, greatest(len(text) - 7, 1))) AS pos
    FROM documents
  )
),
kept AS (
  SELECT doc_id,
         string_agg(CASE WHEN CAST('0x' || substring(h, 1, 15) AS BIGINT) % 16 = 0 THEN h END, '' ORDER BY h) AS sel,
         COUNT(CASE WHEN CAST('0x' || substring(h, 1, 15) AS BIGINT) % 16 = 0 THEN 1 END) AS n_kept
  FROM sh GROUP BY doc_id
)
SELECT doc_id, md5(coalesce(sel, '')) AS fingerprint, CAST(n_kept AS BIGINT) AS n_kept
FROM kept
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing-lite): hash all 8-char
    shingles, keep the deterministic 1/16 subset (md5 mod — the
    MD5Filter idea, SequenceFileInputFilter.java:195), digest the
    sorted selection. Robust to small edits, one groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    sh = MH.shingles(docs, "doc_id", "text", 8).select(
        "doc_id", F.md5(F.col("shingle")).alias("h")
    )
    keep = F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast("bigint") % 16 == 0
    kept = sh.groupBy("doc_id").agg(
        F.array_join(F.array_sort(F.collect_list(F.when(keep, F.col("h")))), "").alias("sel"),
        F.count(F.when(keep, 1)).alias("n_kept"),
    )
    return kept.select(
        "doc_id",
        F.md5(F.coalesce(F.col("sel"), F.lit(""))).alias("fingerprint"),
        F.col("n_kept").alias("n_kept"),
    )


def _components_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.minhash import minhash_lsh_pairs_sql_parts

    ctes, final = minhash_lsh_pairs_sql_parts("documents", "doc_id", "text")
    return f"""
WITH RECURSIVE
{ctes},
edges AS ({final}),
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
best AS (SELECT node, MIN(component) AS component FROM walk GROUP BY node)
SELECT d.doc_id, COALESCE(b.component, d.doc_id) AS component
FROM documents d LEFT JOIN best b ON b.node = d.doc_id
"""


@register("dedup_components", oracle=_components_oracle())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonical groups: MinHash-LSH candidate pairs →
    iterative min-label connected components (dedup/components.py) →
    every document labeled with its cluster's smallest doc_id. The
    oracle runs the identical propagation as a recursive CTE."""
    from hadoop_20_warehouse_spark.dedup.components import dedup_groups_from_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = MH.minhash_lsh_pairs(
        docs, "doc_id", "text", with_jaccard=False
    )
    return dedup_groups_from_pairs(docs, pairs, "doc_id")


def _cluster_rep_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.minhash import minhash_lsh_pairs_sql_parts

    ctes, final = minhash_lsh_pairs_sql_parts("documents", "doc_id", "text")
    return f"""
WITH RECURSIVE
{ctes},
edges AS ({final}),
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
  SELECT d.doc_id, COALESCE(b.component, d.doc_id) AS component,
         {T.token_count_sql('d.text')} AS tok
  FROM documents d LEFT JOIN best b ON b.node = d.doc_id
),
ranked AS (
  SELECT component, doc_id, tok,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY tok DESC, doc_id) AS rn
  FROM comp
)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS rep_id,
       CAST(MAX(CASE WHEN rn = 1 THEN tok END) AS BIGINT) AS rep_tokens
FROM ranked
GROUP BY component
"""


@register("dedup_cluster_representative", oracle=_cluster_rep_oracle())
def q_dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup endgame a real pipeline actually ships: instead of
    keeping each cluster's smallest doc_id (dedup_components'
    canonical label), elect the BEST member — here the most complete
    copy (max token count, doc_id tiebreak) — one row per cluster with
    its representative and size.  Composes the library forms:
    MinHash-LSH candidate pairs → iterative min-label connected
    components → per-cluster argmax.

    Scale shape: the election is ``min(struct(-tok, doc_id))`` per
    component — a partial-aggregable min, so a 10M-member boilerplate
    cluster combines map-side instead of sorting one giant window
    partition (same skew reasoning as dedup/spans.py first-occurrence;
    deliberately NOT row_number-over-component).  Token counts attach
    by one doc_id equi-join before the agg; everything upstream is the
    bucketed LSH + checkpointed label propagation already audited in
    their own queries."""
    from hadoop_20_warehouse_spark.dedup.components import dedup_groups_from_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = MH.minhash_lsh_pairs(
        docs, "doc_id", "text", with_jaccard=False
    )
    groups = dedup_groups_from_pairs(docs, pairs, "doc_id")
    toks = docs.select("doc_id", T.token_count(F.col("text")).alias("tok"))
    members = groups.join(toks, "doc_id")
    return (
        members.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min(
                F.struct(
                    (-F.col("tok")).alias("neg_tok"),
                    F.col("doc_id").alias("rid"),
                )
            ).alias("_rep"),
        )
        .select(
            "component",
            "n_members",
            F.col("_rep.rid").alias("rep_id"),
            (-F.col("_rep.neg_tok")).cast("long").alias("rep_tokens"),
        )
    )


@register(
    "text_bigram_topk",
    oracle="""
WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
b AS (
  SELECT words[t.i] || ' ' || words[t.i+1] AS bigram
  FROM w, UNNEST(range(1, len(words))) AS t(i)
  WHERE len(words) >= 2
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
)
def q_text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams over the corpus — the n-gram generalization of
    wordcount (TokenCountMapper, mapred/lib/TokenCountMapper.java:38).
    `transform(sequence(...))` builds the sliding pairs JVM-side (no
    UDF); partial aggregation absorbs the explode fan-out before the
    shuffle, so the wire carries one row per distinct bigram per
    partition — the combiner pattern at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(F.split("text", " ").alias("w")).where(F.size("w") >= 2)
    bigrams = pairs.select(
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))")
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "pipeline_quality_filter",
    oracle=f"""
WITH flags AS (
  SELECT source,
         doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
         ({T.token_count_sql('text')} BETWEEN 20 AND 1000
          AND len(text) >= 100) AS ok_quality
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN NOT keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN keeper AND NOT ok_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       CAST(SUM(CASE WHEN keeper AND ok_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM flags
GROUP BY source
""",
)
def q_pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-corpus filter: exact-dedup election
    (min doc_id per content digest) composed with integer-exact quality
    gates (token count in [20,1000], >=100 chars), reported as per-source
    keep/drop counts — the one-pass shape of a real data-prep job.
    All gates are integer comparisons so the oracle is bit-exact.

    The keeper election is a partial-aggregable ``groupBy(digest).min``
    + digest-keyed equi-join (r5 rewrite) — NOT ``min().over(digest
    window)``: a viral duplicate (one text in millions of rows) makes
    that window's partition a straggler with no escape, while the agg
    combines it map-side and AQE can skew-split the join (the same
    reasoning as dedup/spans.exact_span_dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "source",
        "doc_id",
        F.md5("text").alias("dg"),
        (
            T.token_count("text").between(20, 1000)
            & (F.length("text") >= 100)
        ).alias("ok_quality"),
    )
    firsts = staged.groupBy("dg").agg(F.min("doc_id").alias("first_id"))
    flags = staged.join(firsts, "dg").select(
        "source",
        (F.col("doc_id") == F.col("first_id")).alias("keeper"),
        "ok_quality",
    )
    k, q = F.col("keeper"), F.col("ok_quality")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(~k, 1).otherwise(0)).alias("n_dup"),
        F.sum(F.when(k & ~q, 1).otherwise(0)).alias("n_low_quality"),
        F.sum(F.when(k & q, 1).otherwise(0)).alias("n_kept"),
    )


@register(
    "doc_shard_assignment",
    oracle="""
SELECT CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 32 AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM documents
GROUP BY 1
""",
)
def q_doc_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: shard =
    md5(doc_id) % 32 (functions/hashing.py — the engine-portable
    HashPartitioner, lib/HashPartitioner.java:36) with per-shard doc
    and char totals. The same expression feeds
    ``df.write.partitionBy``/``repartition(col)`` to materialize
    shards; the totals are the balance check a sharded export needs."""
    from hadoop_20_warehouse_spark.functions.hashing import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(md5_bucket(F.col("doc_id"), 32).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "text_top_terms_per_lang",
    oracle="""
WITH tf AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT lang, unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS token
    FROM documents
  ) WHERE token <> ''
  GROUP BY lang, token
)
SELECT lang, token, n, rank FROM (
  SELECT lang, token, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS BIGINT) AS rank
  FROM tf
) WHERE rank <= 5
""",
)
def q_text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language: explode → two-level agg → two-level
    top-k with full tiebreak (count desc, token asc). Partial
    aggregation absorbs the token fan-out before the shuffle; the
    per-lang top-k replaces the reference's single-reducer
    head-of-file pattern (Grep.java:79).

    Top-k is SALTED two-level (r5 rewrite, same construction as the
    per-group quota sample): rank within (lang, token-hash salt)
    first — window partitions are vocabulary/32 rows — then rank the
    ≤32×5 per-lang survivors.  A single per-lang window ranks the
    WHOLE vocabulary in ~#langs partitions: at 100 TB that's a
    handful of 10^8-row sort partitions, the low-cardinality-window
    straggler this repo bans elsewhere.  Top-5-of-per-salt-top-5s is
    exactly global top-5 (every global winner wins its salt too)."""
    from hadoop_20_warehouse_spark.session import scatter

    docs = scatter(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("lang", F.explode(F.split("text", r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy(F.desc("n"), F.asc("token"))
    cand = (
        tf.withColumn("_salt", F.pmod(F.hash("token"), F.lit(32)))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= 5)
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        cand.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "token", "n", "rank")
    )


@register("knn_pq_adc", oracle=PQ.pq_adc_topk_sql("embeddings"))
def q_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (similarity/pq.py; Jégou et al. 2011):
    deterministic sampled sub-codebooks (8 subspaces × 16 codes over
    the 64-dim embeddings — the same smallest-k-by-md5 seed rule as
    ivf.centroids), row-local encode to 8 code bytes per vector (32x
    compression), then an ADC top-20 scan for the md5-LARGEST vector
    as query: a per-query 8×16 integer lookup table, per-candidate
    distance = 8 integer lookups summed, global TakeOrdered top-k.
    Every distance is micro-unit integer squared-L2 so the oracle
    reproduces codebooks, code assignments (returned as ``codes_str``
    — the encode is hash-checked, not just the ranking), ADC sums,
    and tiebreaks exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
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
    return PQ.pq_adc_topk(codes, cb, query)


@register("knn_ivfpq", oracle=PQ.ivfpq_topk_sql("embeddings"))
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual index (similarity/pq.ivfpq_topk; Jégou et al.
    2011 §IV — the canonical billion-scale ANN layout): vectors route
    to 8 IVF cells (deterministic sampled centroids, rank-1 cosine)
    and their residuals are PQ-encoded to 8 code bytes; search probes
    the query's 2 nearest cells with per-cell query residuals and
    integer LUTs, scoring ONLY vectors stored in probed cells (the
    cell_id join is the candidate pruning — at scale the scan touches
    nprobe/num_centroids of the codes).  Fully deterministic, so the
    oracle reproduces cells, residuals, codebooks, code assignments,
    ADC sums, and ranking exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
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
    return PQ.ivfpq_topk(emb, query)


@register(
    "knn_ivfpq_trained",
    oracle=PQ.ivfpq_trained_sql("embeddings", iters=2),
)
def q_knn_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the product quantizer LLOYD-TRAINED ON THE
    RESIDUALS (similarity/pq.ivfpq_topk(codebook='trained') — the
    canonical IVFADC construction, Jégou et al. 2011 §IV.A: residuals
    concentrate near zero, so training the codebook on them spends
    the same 8-byte budget where the data actually lives; measured
    11% residual quantization-error cut and a 2.1× recall@10 lift
    (0.028 → 0.060 against a 0.21 cell-recall ceiling) at the
    frontier's nc=40/np=2 default on the near-uniform synthetic
    embeddings, PLANS.md round 12).  Wiring: the r11
    integer-Lloyd trainer (pq_train_codebook — micro-unit integer
    argmins, offset-div half-up means) is re-rooted at the residual
    frame; encode/probe/LUT/ADC are unchanged.  The oracle composes
    the IVF residual chain with the unrolled training iterations, so
    the hash pins cells, residuals, both training rounds, every code
    assignment, probed-cell pruning, ADC sums, and ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
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
    return PQ.ivfpq_topk(emb, query, codebook="trained", iters=2)


@register("knn_pq_rerank", oracle=PQ.pq_rerank_topk_sql("embeddings"))
def q_knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve-then-rerank (similarity/pq.pq_rerank_topk;
    Jégou et al. 2011 §V.C): the ADC scan over 8-byte PQ codes keeps a
    100-candidate shortlist, whose FULL-PRECISION vectors are fetched
    by a broadcast id join and re-ranked top-20 by exact micro-unit
    squared-L2 — the production ANN layout where compressed codes
    bound the scan cost and exact math runs on O(shortlist) rows only.
    Output carries BOTH distances (adc_u, exact_u) so the
    approximation gap is visible and hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
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
    return PQ.pq_rerank_topk(codes, cb, query, emb)


_RECALL_PRED = "vec_id % 50 = 0"
_RECALL_K = 10


def _knn_recall_oracle() -> str:
    from hadoop_20_warehouse_spark.similarity.knn import brute_force_topk_sql

    return f"""
WITH ivfres AS (
  SELECT query_id, neighbor_id
  FROM ( {IVF.ivf_topk_sql('embeddings', k=_RECALL_K)} )
  WHERE query_id % 50 = 0
),
bruteres AS (
  SELECT query_id, neighbor_id
  FROM ( {brute_force_topk_sql('embeddings', _RECALL_PRED, k=_RECALL_K)} )
),
hits AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM ivfres JOIN bruteres USING (query_id, neighbor_id)
  GROUP BY query_id
),
qs AS (SELECT vec_id AS query_id FROM embeddings WHERE {_RECALL_PRED})
SELECT qs.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {_RECALL_K}.0 AS recall_at_k
FROM qs LEFT JOIN hits h USING (query_id)
""".strip()


@register("knn_recall_eval", oracle=_knn_recall_oracle())
def q_knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality EVALUATION as a first-class query: recall@10 of the
    IVF index against the exact brute-force ranking for a
    deterministic query subset (vec_id % 50 = 0) — the measurement a
    production ANN deployment runs continuously to tune
    num_centroids/nprobe (recall is governed by the probe budget, cost
    by the cell pruning; the dial has to be MEASURED to be set).  At
    scale the brute pass runs on a sampled query set exactly like
    this one — the eval cost is |Q|·N, bounded by the sample.  Both
    rankings, the intersection counts, and the recall ratios are
    hash-checked cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = (
        IVF.ivf_topk(emb, k=_RECALL_K)
        .filter(F.expr(f"query_id % 50 = 0"))
        .select("query_id", "neighbor_id")
    )
    brute = KNN.brute_force_topk(
        emb, emb.filter(F.expr(_RECALL_PRED)), k=_RECALL_K
    ).select("query_id", "neighbor_id")
    hits = (
        ivf.join(brute, on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qs = emb.filter(F.expr(_RECALL_PRED)).select(
        F.col("vec_id").alias("query_id")
    )
    return qs.join(hits, on="query_id", how="left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / _RECALL_K
        ).alias("recall_at_k"),
    )


_CENTROID_SQL = """
WITH subs AS (SELECT unnest(generate_series(0, 63)) AS pos),
u AS (
  SELECT e.label, e.vec_id, s.pos,
         CAST(round(CAST(e.embedding[s.pos + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xu
  FROM embeddings e CROSS JOIN subs s
),
dims AS (
  SELECT label, pos, CAST(SUM(xu) AS BIGINT) AS sxu,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM u GROUP BY label, pos
),
cent AS (
  SELECT label,
         md5(string_agg(CAST(sxu AS VARCHAR), ',' ORDER BY pos)) AS centroid_digest,
         MIN(n) AS n_vecs
  FROM dims GROUP BY label
),
dev AS (
  SELECT u.label, abs(d.n * u.xu - d.sxu) AS t
  FROM u JOIN dims d ON d.label = u.label AND d.pos = u.pos
),
mad AS (SELECT label, CAST(SUM(t) AS BIGINT) AS mad_total FROM dev GROUP BY label)
SELECT c.label, c.n_vecs, c.centroid_digest, m.mad_total,
       CAST(m.mad_total AS DOUBLE) / (c.n_vecs * c.n_vecs * 64.0 * 1000000.0)
         AS avg_abs_dev
FROM cent c JOIN mad m USING (label)
""".strip()


@register("embedding_group_centroid", oracle=_CENTROID_SQL)
def q_embedding_group_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space corpus analytics: per-label centroid (as a
    digest over exact per-dimension micro-unit sums — no float-sum
    drift, no float-to-string formatting divergence) plus mean
    absolute dispersion around the centroid — the per-topic balance /
    compactness monitoring a curation pipeline runs over its clusters.

    Exact-integer discipline throughout: components quantize to
    micro-units ONCE (the same ×1e6 trade as similarity/pq), so the
    per-dim sums, the deviation terms |n·xu − sxu| (abs values avoid
    the fractional mean), and both aggregates are order-independent
    integer math; only the final scaling divides to double.  Shapes:
    one (label, pos)-keyed partial agg (≤ labels×64 rows out), one
    broadcast-sized join back (dims is labels×64 rows), one
    label-keyed agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    u = emb.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "vec_id",
        "pos",
        F.expr("cast(round(cast(x as double) * 1000000) as bigint)").alias("xu"),
    )
    dims = u.groupBy("label", "pos").agg(
        F.sum("xu").cast("long").alias("sxu"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cent = dims.groupBy("label").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sxu"))),
                    lambda s: s["sxu"].cast("string"),
                ),
            )
        ).alias("centroid_digest"),
        F.min("n").alias("n_vecs"),
    )
    dev = u.join(F.broadcast(dims), on=["label", "pos"]).select(
        "label", F.abs(F.col("n") * F.col("xu") - F.col("sxu")).alias("t")
    )
    mad = dev.groupBy("label").agg(F.sum("t").cast("long").alias("mad_total"))
    return cent.join(mad, on="label").select(
        "label",
        "n_vecs",
        "centroid_digest",
        "mad_total",
        (
            F.col("mad_total").cast("double")
            / (F.col("n_vecs") * F.col("n_vecs") * 64.0 * 1000000.0)
        ).alias("avg_abs_dev"),
    )


@register(
    "dedup_semantic_cells",
    oracle=SEM.semantic_dedup_removed_sql("embeddings"),
)
def q_dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup/semantic.py; Abbas et al.
    2023): every embedding quantizes to its nearest of 32 sampled
    centroid cells (row-local broadcast argmin — no shuffle), pairwise
    cosine runs ONLY within cells, and a document is removed iff a
    smaller-id cell-mate is ≥ 0.35 similar — the min-id survivor is
    the deterministic canonical exemplar.  Returns the removed set
    with each doc's representative (dup_of) and similarity; the kept
    corpus is an anti-join on vec_id.  The cluster bound is what makes
    embedding dedup feasible at 100 TB: Σ|cell|² work, cells O(N/k)
    with k raised ∝ N."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SEM.semantic_dedup_removed(emb)


@register(
    "dedup_semantic_gemm",
    oracle=SEM.semantic_dedup_removed_sql("embeddings", num_cells=96),
)
def q_dedup_semantic_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at a 96-cell count — the paper-scale shape (cells ∝ N;
    Abbas et al. 2023 run ~50k clusters).  Runs the same plan as
    dedup_semantic_cells (Arrow-batched GEMM cell assignment, per-cell
    GEMM pairs; similarity/assign.py, dedup/semantic.py) at three times
    the cell count.  The oracle is the SAME SQL as dedup_semantic_cells
    at the larger cell count, so the oracle check hashes identical
    cells, pairs, removed set, and greedy dup_of links."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SEM.semantic_dedup_removed(emb, num_cells=96)


@register(
    "knn_ivf_gemm",
    oracle=IVF.ivf_topk_sql("embeddings", k=5, num_centroids=64, nprobe=3),
)
def q_knn_ivf_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN at 64 centroids and nprobe=3 — the same plan as
    knn_ivf (Arrow-batched GEMM assign, probe→cell equi-join as the
    candidate pruning) at a larger cell count, exercising the assign's
    multi-probe ORDERING (crank ranks decided by rounded cosine with
    centroid-id tiebreaks across three probes, not just the rank-1
    winner).  The oracle reproduces centroids, cell ranks, candidates,
    and the final ranking exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return IVF.ivf_topk(emb, k=5, num_centroids=64, nprobe=3)


@register(
    "knn_pq_trained",
    oracle=PQ.pq_trained_adc_sql("embeddings", iters=2),
)
def q_knn_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC search with a LLOYD-TRAINED codebook
    (similarity/pq.pq_train_codebook) — the trained quantizer the
    sampled knn_pq_adc anticipates, and unlike ivf.train_centroids'
    float means, the whole training loop is EXACTLY reproducible
    cross-engine: sub-vectors quantize once to integer micro-units,
    assignments are pure integer squared-L2 argmins (smaller-code
    ties), and each round's means are half-up integer divisions via
    the offset-div trick — so the oracle unrolls the k-means
    iterations as materialized CTE stages and the hash pins the FULL
    pipeline: two training rounds, the final codebook, every code
    assignment, ADC sums, and ranking.  Training cuts quantization
    error 24.8% vs the sampled codebook on the sf0.01 embeddings
    (measured r11); encode/scan are pq_encode/pq_adc_topk unchanged —
    the codebook is a drop-in one-row broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = PQ.pq_train_codebook(emb, iters=2)
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
    return PQ.pq_adc_topk(codes, cb, query)


@register(
    "knn_ivfpq_trained_rerank",
    oracle=PQ.ivfpq_trained_rerank_sql("embeddings", iters=2),
)
def q_knn_ivfpq_trained_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production ANN stack as one hash-checked pipeline
    (similarity/pq.ivfpq_rerank_topk): IVF probe pruning → residual-
    TRAINED integer-Lloyd PQ codes → ADC shortlist (100) → exact
    broadcast-join re-rank (top 20, both distances emitted).  This is
    how a billion-vector deployment actually serves: the scan touches
    nprobe/num_centroids of the 8-byte codes, exact math runs on
    O(shortlist) rows, and the re-rank converts PQ ordering noise into
    shortlist membership — MEASURED: at nc=40/np=2 the 100-deep rerank
    recovers recall@10 to exactly the 0.21 cell-recall ceiling with
    the trained codebook (0.207 sampled; ADC-only was 0.028/0.060 —
    PLANS.md round 12).  The oracle nests the full
    trained IVFADC derivation under the shortlist + exact-rerank
    stages, so the hash pins every stage end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
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
    return PQ.ivfpq_rerank_topk(emb, query, codebook="trained", iters=2)


# ===========================================================================
# Incremental near-dup: dedup a NEW delta batch against a PERSISTED
# MinHash index of the existing corpus — the index-ship pattern
# (signatures + band buckets written once at corpus build, every later
# ingest batch probes them without re-signing the base).
# ===========================================================================

_IDX_JACCARD_MIN_AGREE = 4  # est_jaccard >= 4/8 — the verify threshold


def _minhash_delta_pairs_ctes(delta_id: str) -> tuple[str, str]:
    """The shared head of the delta-vs-base MinHash oracles: base
    (doc_id%10!=0) and delta (doc_id%10==0) signatures derived from
    scratch, banded, and bucket-joined ACROSS the corpora into
    ``cand`` (``delta_id``, base_id).  Returns the WITH clause through
    ``cand`` and the integer signature-agreement expression over
    ``sd``/``sb``."""
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64_sql

    k = MH.DEFAULT_N_HASHES
    bands = MH.DEFAULT_BANDS
    rpb = k // bands
    w = MH.DEFAULT_SHINGLE
    p = MH.MERSENNE_P
    h = f"({md5_int64_sql('shingle')} % {p})"
    min_cols = ",\n         ".join(
        f"MIN(({MH.HASH_A[i]} * h + {MH.HASH_B[i]}) % {p}) AS m{i}"
        for i in range(k)
    )

    def band_rows(src: str) -> str:
        return "\n  UNION ALL\n".join(
            "  SELECT id, {b} AS band_idx, md5({concat}) AS band_hash FROM {src}".format(
                b=b,
                src=src,
                concat=" || ',' || ".join(
                    f"CAST(m{i} AS VARCHAR)"
                    for i in range(b * rpb, (b + 1) * rpb)
                ),
            )
            for b in range(bands)
        )

    agree = " + ".join(
        f"(CASE WHEN sd.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    ctes = f"""
WITH sh AS (
  SELECT doc_id AS id, (doc_id % 10 = 0) AS is_delta,
         substring(text, pos, {w}) AS shingle
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(len(text) - {w - 1}, 1))) AS pos
    FROM documents
  )
),
hashed AS (SELECT id, is_delta, {h} AS h FROM sh),
sig AS (
  SELECT id, BOOL_OR(is_delta) AS is_delta,
         {min_cols}
  FROM hashed GROUP BY id
),
sig_b AS (SELECT * FROM sig WHERE NOT is_delta),
sig_d AS (SELECT * FROM sig WHERE is_delta),
bands_b AS (
{band_rows('sig_b')}
),
bands_d AS (
{band_rows('sig_d')}
),
cand AS (
  SELECT DISTINCT d.id AS {delta_id}, b.id AS base_id
  FROM bands_d d JOIN bands_b b
    ON d.band_idx = b.band_idx AND d.band_hash = b.band_hash
)"""
    return ctes, agree


def _minhash_index_delta_oracle() -> str:
    """Cross-corpus twin of minhash_lsh_pairs_sql: the shared
    delta-vs-base candidate pairs (``_minhash_delta_pairs_ctes``),
    verified on integer signature agreement, best base match elected
    per delta doc."""
    ctes, agree = _minhash_delta_pairs_ctes("delta_id")
    k = MH.DEFAULT_N_HASHES
    return f"""{ctes},
verified AS (
  SELECT c.delta_id, c.base_id, {agree} AS agree
  FROM cand c
  JOIN sig_d sd ON sd.id = c.delta_id
  JOIN sig_b sb ON sb.id = c.base_id
),
matched AS (
  SELECT delta_id, base_id, agree,
         ROW_NUMBER() OVER (PARTITION BY delta_id
                            ORDER BY agree DESC, base_id) AS rn
  FROM verified WHERE agree >= {_IDX_JACCARD_MIN_AGREE}
),
summary AS (
  SELECT delta_id,
         CAST(COUNT(*) AS BIGINT) AS n_matches,
         MAX(CASE WHEN rn = 1 THEN base_id END) AS best_match_id,
         MAX(CASE WHEN rn = 1 THEN agree END) AS best_agree
  FROM matched GROUP BY delta_id
)
SELECT d.doc_id,
       COALESCE(s.n_matches, 0) AS n_matches,
       s.best_match_id,
       CAST(s.best_agree AS DOUBLE) / {k} AS best_est,
       (s.delta_id IS NOT NULL) AS is_dup
FROM documents d LEFT JOIN summary s ON s.delta_id = d.doc_id
WHERE d.doc_id % 10 = 0
"""


@register("dedup_minhash_index_delta", oracle=_minhash_index_delta_oracle())
def q_dedup_minhash_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup against a PERSISTED MinHash index — the
    ingest-time shape a production corpus actually runs: the existing
    corpus (doc_id % 10 != 0) is signed ONCE and its signatures + band
    buckets written as a parquet artifact; a new delta batch
    (doc_id % 10 == 0) is signed row-locally, banded, bucket-joined
    against the RELOADED index, verified on integer signature
    agreement (>= 4 of 8 minhashes — the est_jaccard >= 0.5 step), and
    each delta doc reports its match count, best base match (max
    agreement, doc_id tiebreak via the min-struct partial agg — no
    corpus-sized window), and a dup flag.  The base corpus text is
    NEVER rescanned on the delta path — only the delta is shingled;
    the index ship mirrors the tokenizer-store discipline
    (filecache/DistributedCache.java:45 lineage) with an
    order-insensitive artifact (signatures are keyed rows, unlike the
    ORDER-sensitive merge table).

    The oracle derives BOTH corpora's signatures from scratch (the
    cross-corpus twin of minhash_lsh_pairs_sql), so a hash match
    proves the persisted index round-tripped losslessly AND the
    delta-vs-index join equals the from-scratch derivation.

    Scale shape: delta signing is the row-local Arrow worker (zero
    shuffle); the probe is one equi-join on (band_idx, band_hash)
    against a parquet-backed index (AQE skew-split on hot buckets)
    plus one signature equi-join for the verify — all costs
    proportional to the DELTA, which is the point of an index."""
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    k = MH.DEFAULT_N_HASHES

    # corpus build: sign once, persist signatures + band buckets
    sig_b = MH.minhash_signature_rowlocal(base, "doc_id", "text")
    store = _fresh_subdir(_scratch_dir("minhash_index"), "index")
    sig_b.write.parquet(store + "/signatures")
    MH.band_signatures(sig_b, "doc_id").write.parquet(store + "/bands")

    # ingest: sign the delta, probe the reloaded index
    sig_d = MH.minhash_signature_rowlocal(delta, "doc_id", "text")
    bands_d = MH.band_signatures(sig_d, "doc_id")
    sigS = spark.read.schema(sig_b.schema).parquet(store + "/signatures")
    bandsS = spark.read.schema(
        MH.band_signatures(sig_b, "doc_id").schema
    ).parquet(store + "/bands")
    cand = (
        bands_d.select(
            F.col("doc_id").alias("delta_id"), "band_idx", "band_hash"
        )
        .join(
            bandsS.select(
                F.col("doc_id").alias("base_id"), "band_idx", "band_hash"
            ),
            on=["band_idx", "band_hash"],
        )
        .select("delta_id", "base_id")
        .distinct()
    )
    sd = sig_d.select(
        F.col("doc_id").alias("delta_id"),
        *[F.col(f"m{i}").alias(f"d{i}") for i in range(k)],
    )
    sb = sigS.select(
        F.col("doc_id").alias("base_id"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)],
    )
    agree = sum(
        F.when(F.col(f"d{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(k)
    ).cast("int")
    verified = (
        cand.join(sd, on="delta_id")
        .join(sb, on="base_id")
        .select("delta_id", "base_id", agree.alias("agree"))
        .filter(F.col("agree") >= _IDX_JACCARD_MIN_AGREE)
    )
    summary = verified.groupBy("delta_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.max(
            F.struct(
                F.col("agree").alias("a"), (-F.col("base_id")).alias("nb")
            )
        ).alias("_best"),
    )
    return (
        delta.select("doc_id")
        .join(summary.withColumnRenamed("delta_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
            (-F.col("_best.nb")).cast("long").alias("best_match_id"),
            (F.col("_best.a").cast("double") / k).alias("best_est"),
            F.col("n_matches").isNotNull().alias("is_dup"),
        )
    )


# ===========================================================================
# ANN index ship: persist the IVF index (quantizer + inverted lists
# WITH vectors) as a parquet artifact; a later query batch searches
# the RELOADED index without touching the base corpus.
# ===========================================================================

_SHIP_NC = 16   # quantizer size for the base slice (450 vecs at sf0.01)
_SHIP_NPROBE = 2
_SHIP_K = 5


def _ivf_index_ship_oracle() -> str:
    from hadoop_20_warehouse_spark.similarity.knn import cosine_sql

    ccos = cosine_sql("d.qv", "c.cv")
    cos = cosine_sql("q.qv", "n.nv")
    return f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0
),
delta AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
),
cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM base
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_SHIP_NC}
),
assign AS (
  SELECT id AS neighbor_id, centroid_id FROM (
    SELECT b.vec_id AS id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY round({cosine_sql('b.embedding', 'c.cv')}, 6) DESC,
                      c.centroid_id ASC
           ) AS crank
    FROM base b CROSS JOIN cents c
  ) WHERE crank = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT d.vec_id AS query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY round({ccos}, 6) DESC, c.centroid_id ASC
           ) AS crank
    FROM (SELECT vec_id, embedding AS qv FROM delta) d CROSS JOIN cents c
  ) WHERE crank <= {_SHIP_NPROBE}
),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM delta),
n AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM base),
sims AS (
  SELECT c.query_id, c.neighbor_id, round({cos}, 6) AS sim
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN n ON n.neighbor_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {_SHIP_K}
"""


@register("knn_ivf_index_ship", oracle=_ivf_index_ship_oracle())
def q_knn_ivf_index_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index ship — the serving shape every vector store runs: the
    base corpus (vec_id % 10 != 0) is indexed ONCE — md5-sampled
    quantizer (the ivf_topk quantizer; training is knn_ivf_trained's
    job, the SHIP mechanics are under test here) + inverted lists
    carrying the member VECTORS and norms (what an IVF index
    physically holds) — and written as a parquet artifact; a later
    query batch (vec_id % 10 == 0) searches the RELOADED index: each
    query ranks the broadcast quantizer row-locally, probes its
    nprobe cells' posting lists through ONE equi-join, scores exact
    rounded cosine, and windows top-k.  The base corpus table is
    NEVER rescanned on the query path — only the artifact is read
    (the minhash-index-ship discipline applied to ANN;
    DistributedCache lineage, filecache/DistributedCache.java:45).

    Scale shape: the quantizer is ``num_centroids`` rows (broadcast);
    posting lists are corpus-sized but keyed by centroid_id (the
    probe join touches only nprobe cells per query, AQE splits hot
    cells); the per-query candidate set is O(corpus·nprobe/nc).  At
    100 TB the artifact IS the serving index — queries cost
    O(|batch| · cells-probed), independent of corpus scan."""
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )
    from hadoop_20_warehouse_spark.similarity.knn import _dot, _norm, _safe_div

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)

    # ---- index build (once) ----
    cents = (
        base.select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv"))
        .orderBy(F.md5(F.col("centroid_id").cast("string")), "centroid_id")
        .limit(_SHIP_NC)
    )
    ccos = F.round(
        _safe_div(
            _dot(F.col("embedding"), F.col("cv")),
            _norm(F.col("embedding")) * _norm(F.col("cv")),
        ),
        6,
    )
    wassign = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    postings = (
        base.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "centroid_id", ccos.alias("ccos"))
        .withColumn("crank", F.row_number().over(wassign))
        .filter(F.col("crank") == 1)
        .select(
            F.col("centroid_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            _norm(F.col("embedding")).alias("nn"),
        )
    )
    store = _fresh_subdir(_scratch_dir("ivf_index_ship"), "index")
    cents.write.parquet(store + "/quantizer")
    postings.write.parquet(store + "/postings")

    # ---- serving path: only the artifact is read ----
    centsS = spark.read.schema(cents.schema).parquet(store + "/quantizer")
    postS = spark.read.schema(postings.schema).parquet(store + "/postings")
    qprobe = (
        delta.crossJoin(F.broadcast(centsS))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "centroid_id",
            F.round(
                _safe_div(
                    _dot(F.col("embedding"), F.col("cv")),
                    _norm(F.col("embedding")) * _norm(F.col("cv")),
                ),
                6,
            ).alias("ccos"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("ccos"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("crank") <= _SHIP_NPROBE)
        .select("query_id", "qv", "centroid_id")
    )
    sims = (
        qprobe.join(postS, on="centroid_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _safe_div(
                    _dot(F.col("qv"), F.col("nv")),
                    _norm(F.col("qv")) * F.col("nn"),
                ),
                6,
            ).alias("sim"),
        )
        # no distinct: a neighbor has exactly ONE rank-1 posting cell
        # and a query's probe cells are distinct, so (query, neighbor)
        # pairs are already unique (the ivf_topk reasoning) — skipping
        # it saves a full shuffle
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= _SHIP_K
    )


def _ivf_index_merge_oracle() -> str:
    """From-scratch twin of the merged index search: quantizer sampled
    from the BASE slice only (the fixed-quantizer insert constraint),
    postings over the FULL corpus, query slice vec_id % 25 == 0
    searching everything but itself."""
    from hadoop_20_warehouse_spark.similarity.knn import cosine_sql

    cos = cosine_sql("q.qv", "n.nv")
    return f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
  WHERE vec_id % 10 <> 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_SHIP_NC}
),
assign AS (
  SELECT id AS neighbor_id, centroid_id FROM (
    SELECT e.vec_id AS id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({cosine_sql('e.embedding', 'c.cv')}, 6) DESC,
                      c.centroid_id ASC
           ) AS crank
    FROM embeddings e CROSS JOIN cents c
  ) WHERE crank = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT d.vec_id AS query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY round({cosine_sql('d.embedding', 'c.cv')}, 6) DESC,
                      c.centroid_id ASC
           ) AS crank
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0) d
    CROSS JOIN cents c
  ) WHERE crank <= {_SHIP_NPROBE}
),
cand AS (
  SELECT p.query_id, a.neighbor_id
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
  WHERE a.neighbor_id <> p.query_id
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 25 = 0),
n AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
sims AS (
  SELECT c.query_id, c.neighbor_id, round({cos}, 6) AS sim
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN n ON n.neighbor_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {_SHIP_K}
"""


@register("knn_ivf_index_merge", oracle=_ivf_index_merge_oracle())
def q_knn_ivf_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE — the nightly-ingest loop every serving
    index runs: the base slice (vec_id % 10 != 0) is indexed once
    (knn_ivf_index_ship's artifact: quantizer + vector-carrying
    posting lists); a delta batch (vec_id % 10 == 0) is then INSERTED
    under the FIXED quantizer — assign each delta vector to its rank-1
    cell against the RELOADED broadcast quantizer (you do not retrain
    the quantizer per ingest; that is the rebuild path), append the
    new posting rows, and commit the union as version 2 next to
    version 1 (the tokenizer-store immutable-version discipline —
    readers of v1 are never disturbed).  A query batch
    (vec_id % 25 == 0) then searches the MERGED v2 artifact and must
    equal the from-scratch derivation over the full corpus with the
    base-sampled quantizer — which is exactly what the oracle
    computes, so the hash proves the insert path (fixed quantizer,
    appended postings, version commit) loses nothing vs a rebuild.

    Scale shape: the insert costs O(|delta| · nc) row-local scoring +
    one append write — never a base rescan; the version-2 commit is a
    metadata rename; search is the ship query's plan against v2.  At
    100 TB this is the difference between a nightly merge measured in
    delta size and a nightly rebuild measured in corpus size (the
    documented trade: cells drift from the data distribution until a
    scheduled retrain — knn_ivf_trained — rebalances them)."""
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )
    from hadoop_20_warehouse_spark.similarity.knn import _dot, _norm, _safe_div

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)

    def rank1_postings(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        ccos = F.round(
            _safe_div(
                _dot(F.col("embedding"), F.col("cv")),
                _norm(F.col("embedding")) * _norm(F.col("cv")),
            ),
            6,
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("ccos"), F.asc("centroid_id")
        )
        return (
            vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", "embedding", "centroid_id", ccos.alias("ccos"))
            .withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") == 1)
            .select(
                F.col("centroid_id"),
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("nv"),
                _norm(F.col("embedding")).alias("nn"),
            )
        )

    # v1: index the base
    cents = (
        base.select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv"))
        .orderBy(F.md5(F.col("centroid_id").cast("string")), "centroid_id")
        .limit(_SHIP_NC)
    )
    store = _fresh_subdir(_scratch_dir("ivf_index_merge"), "index")
    cents.write.parquet(store + "/v1/quantizer")
    rank1_postings(base, cents).write.parquet(store + "/v1/postings")

    # insert: delta assigned against the RELOADED fixed quantizer;
    # v2 = v1 postings ∪ delta postings, quantizer carried forward
    post_schema = rank1_postings(base, cents).schema
    centsV1 = spark.read.schema(cents.schema).parquet(store + "/v1/quantizer")
    postV1 = spark.read.schema(post_schema).parquet(store + "/v1/postings")
    delta_post = rank1_postings(delta, centsV1)
    centsV1.write.parquet(store + "/v2/quantizer")
    postV1.unionByName(delta_post).write.parquet(store + "/v2/postings")

    # serve from v2
    centsS = spark.read.schema(cents.schema).parquet(store + "/v2/quantizer")
    postS = spark.read.schema(post_schema).parquet(store + "/v2/postings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    qprobe = (
        queries.crossJoin(F.broadcast(centsS))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "centroid_id",
            F.round(
                _safe_div(
                    _dot(F.col("embedding"), F.col("cv")),
                    _norm(F.col("embedding")) * _norm(F.col("cv")),
                ),
                6,
            ).alias("ccos"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("ccos"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("crank") <= _SHIP_NPROBE)
        .select("query_id", "qv", "centroid_id")
    )
    sims = (
        qprobe.join(postS, on="centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _safe_div(
                    _dot(F.col("qv"), F.col("nv")),
                    _norm(F.col("qv")) * F.col("nn"),
                ),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= _SHIP_K
    )


@register("knn_pq_index_ship", oracle=PQ.pq_adc_topk_sql("embeddings"))
def q_knn_pq_index_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-COMPRESSED index ship — the artifact a 100 TB ANN deployment
    actually serves from: the one-row codebook and the 8-bytes-per-
    vector code table (32x compression over raw vectors — at 100 TB of
    embeddings the codes are ~3 TB, the difference between a
    memory-resident scan and a disk-bound one) are built once, written
    as a parquet artifact, and the ADC query path reads ONLY the
    reloaded artifact: lookup-table build from the reloaded codebook,
    integer ADC sums over the reloaded codes, TakeOrdered top-k.  Same
    oracle as knn_pq_adc — a hash match (including codes_str, i.e.
    every stored code byte) proves the compressed artifact
    round-tripped losslessly and the served ranking equals the
    build-time derivation.  Completes the index-ship family:
    full-vector IVF (knn_ivf_index_ship), merged IVF
    (knn_ivf_index_merge), MinHash bands (dedup_minhash_index_delta),
    and now the compressed-codes layout."""
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = PQ.pq_codebook(emb)
    codes = PQ.pq_encode(emb, cb)
    store = _fresh_subdir(_scratch_dir("pq_index_ship"), "index")
    cb.write.parquet(store + "/codebook")
    codes.write.parquet(store + "/codes")
    cbS = spark.read.schema(cb.schema).parquet(store + "/codebook")
    codesS = spark.read.schema(codes.schema).parquet(store + "/codes")
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
    return PQ.pq_adc_topk(codesS, cbS, query)


_OUTLIER_PCT = 1  # flag the worst 1% per label (ceil), by centroid L1

_OUTLIER_SQL = """
WITH subs AS (SELECT unnest(generate_series(0, 63)) AS pos),
u AS (
  SELECT e.label, e.vec_id, s.pos,
         CAST(round(CAST(e.embedding[s.pos + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xu
  FROM embeddings e CROSS JOIN subs s
),
dims AS (
  SELECT label, pos, CAST(SUM(xu) AS BIGINT) AS sxu,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM u GROUP BY label, pos
),
dev AS (
  SELECT u.label, u.vec_id,
         CAST(SUM(abs(d.n * u.xu - d.sxu)) AS BIGINT) AS dev_v,
         MIN(d.n) AS n_vecs
  FROM u JOIN dims d ON d.label = u.label AND d.pos = u.pos
  GROUP BY u.label, u.vec_id
),
tot AS (
  SELECT label, CAST(SUM(dev_v) AS BIGINT) AS mad_total FROM dev GROUP BY label
),
ranked AS (
  SELECT v.vec_id, v.label, v.dev_v,
         CAST((CAST(1000 AS HUGEINT) * v.dev_v * v.n_vecs) // t.mad_total AS BIGINT) AS ratio_milli,
         CAST(ROW_NUMBER() OVER (PARTITION BY v.label
              ORDER BY v.dev_v DESC, v.vec_id) AS BIGINT) AS rk,
         (v.n_vecs + 99) // 100 AS k_label
  FROM dev v JOIN tot t ON t.label = v.label
)
SELECT vec_id, label, dev_v, ratio_milli, rk
FROM ranked WHERE rk <= k_label
""".strip()


@register("embedding_outlier_filter", oracle=_OUTLIER_SQL)
def q_embedding_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster embedding outliers — each label\'s worst {pct}%
    (ceil) of vectors by L1 distance to the label centroid, with the
    distance, its per-mille ratio to the label\'s mean deviation, and
    the within-label rank.  The drop list an embedding-quality gate
    feeds on (mislabeled / corrupted / off-topic vectors sit far from
    their cluster\'s mass — the centroid-distance filter of
    LAION-style curation, as SemDeDup is the too-CLOSE filter;
    embedding_group_centroid reports cluster dispersion, this NAMES
    the vectors).  Rank-based, not threshold-based, on purpose: a
    fixed multiple-of-mean cut flags nothing on homogeneous
    collections and floods on contaminated ones — "drop the worst X%"
    is the budgeted policy curation teams actually run.

    Exact-integer discipline (the centroid query\'s ×1e6 micro-unit
    quantization): deviations are Σ|n·xu − sxu| (L1 scaled by n to
    avoid the fractional centroid), the reported ratio is
    integer-floored per-mille, ranks tie-break on vec_id — no float
    crosses the hash.

    Scale: the per-label top-K rides the TWO-PHASE salted window
    (sample_weighted_per_group\'s shape — labels are low-cardinality,
    so a single per-label window would sort whole clusters in one
    task at 100 TB): phase 1 ranks within (label, md5-salt) — every
    true top-K row ranks ≤ K in its own salt group — phase 2 re-ranks
    the ≤ 16·K survivors.  Everything else is keyed partial aggs +
    broadcast joins of label-sized frames."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    u = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        "vec_id",
        "pos",
        F.expr("cast(round(cast(x as double) * 1000000) as bigint)").alias(
            "xu"
        ),
    )
    dims = u.groupBy("label", "pos").agg(
        F.sum("xu").cast("long").alias("sxu"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = (
        u.join(F.broadcast(dims), on=["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum(F.abs(F.col("n") * F.col("xu") - F.col("sxu")))
            .cast("long")
            .alias("dev_v"),
            F.min("n").alias("n_vecs"),
        )
    )
    tot = dev.groupBy("label").agg(
        F.sum("dev_v").cast("long").alias("mad_total")
    )
    scored = dev.join(F.broadcast(tot), on="label").select(
        "vec_id",
        "label",
        "dev_v",
        # 128-bit product: dev_v already scales with n_vecs (≈64 dims
        # · 2e6 micro-units · n), so 1000·dev_v·n_vecs grows as n² and
        # wraps BIGINT once a label holds ≳8.5k vectors — Spark
        # (non-ANSI) wraps silently while DuckDB errors.  decimal(38,0)
        # here and HUGEINT in the oracle keep the identical exact value
        # to ~1e13 vectors per label; the quotient ≤ 1000·n_vecs fits
        # BIGINT trivially.
        F.expr(
            "cast((cast(dev_v as decimal(38,0)) * n_vecs * 1000)"
            " div mad_total as bigint)"
        ).alias("ratio_milli"),
        F.expr("(n_vecs + 99) div 100").alias("k_label"),
    )
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10)
        .cast("long"),
        F.lit(16),
    )
    w1 = Window.partitionBy("label", "_salt").orderBy(
        F.desc("dev_v"), "vec_id"
    )
    cand = (
        scored.withColumn("_salt", salt)
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= F.col("k_label"))
    )
    w2 = Window.partitionBy("label").orderBy(F.desc("dev_v"), "vec_id")
    return (
        cand.withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= F.col("k_label"))
        .select("vec_id", "label", "dev_v", "ratio_milli", "rk")
    )


q_embedding_outlier_filter.__doc__ = q_embedding_outlier_filter.__doc__.format(
    pct=_OUTLIER_PCT
)


_EVAL_SAMPLE_K = 100


def _eval_sample_oracle() -> str:
    from hadoop_20_warehouse_spark.dedup.minhash import (
        minhash_lsh_pairs_sql_parts,
    )

    ctes, final = minhash_lsh_pairs_sql_parts("documents", "doc_id", "text")
    return f"""
WITH RECURSIVE
{ctes},
edges AS ({final}),
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
  SELECT d.doc_id, COALESCE(b.component, d.doc_id) AS component,
         {T.token_count_sql('d.text')} AS tok
  FROM documents d LEFT JOIN best b ON b.node = d.doc_id
),
ranked AS (
  SELECT component, doc_id, tok,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY tok DESC, doc_id) AS rn
  FROM comp
),
reps AS (
  SELECT component,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         MAX(CASE WHEN rn = 1 THEN doc_id END) AS doc_id
  FROM ranked GROUP BY component
)
SELECT doc_id, component, n_members,
       CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS rk
FROM reps
ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT {_EVAL_SAMPLE_K}
""".strip()


@register("eval_sample_dedup_aware", oracle=_eval_sample_oracle())
def q_eval_sample_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware EVAL sampling — {k} documents drawn such that no
    two are near-duplicates of each other: MinHash-LSH pairs →
    connected components → per-cluster best-member election (max
    token count — the dedup_cluster_representative contract) → a
    deterministic md5-ordered fixed-k draw over the REPRESENTATIVES.
    The eval-set construction rule every benchmark post-mortem wishes
    it had followed: sampling raw docs overweights big dup clusters
    (a 50-copy boilerplate is 50 lottery tickets) and seeds
    train/eval leakage through surviving near-dups; sampling
    representatives gives every distinct DOCUMENT one ticket.

    Composes three audited surfaces in one hash-checked plan and
    carries (component, n_members) per pick so the de-weighting is
    itself verifiable.  Scale: everything upstream is the banded LSH
    + checkpointed propagation + partial-agg election already
    audited; the draw is a TakeOrdered top-k on md5(rep id) — k
    driver rows, never a corpus sort — with rank assigned after the
    limit."""
    from pyspark.sql import Window

    from hadoop_20_warehouse_spark.dedup.components import (
        dedup_groups_from_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = MH.minhash_lsh_pairs(
        docs, "doc_id", "text", with_jaccard=False
    )
    groups = dedup_groups_from_pairs(docs, pairs, "doc_id")
    toks = docs.select("doc_id", T.token_count(F.col("text")).alias("tok"))
    reps = (
        groups.join(toks, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min(
                F.struct((-F.col("tok")).alias("nt"), F.col("doc_id"))
            )["doc_id"].alias("doc_id"),
        )
    )
    h = F.md5(F.col("doc_id").cast("string"))
    topk = (
        reps.select("doc_id", "component", "n_members", h.alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(_EVAL_SAMPLE_K)
    )
    return topk.withColumn(
        "rk",
        F.row_number().over(Window.orderBy("_h", "doc_id")).cast("long"),
    ).select("doc_id", "component", "n_members", "rk")


q_eval_sample_dedup_aware.__doc__ = q_eval_sample_dedup_aware.__doc__.format(
    k=_EVAL_SAMPLE_K
)
