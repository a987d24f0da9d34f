"""Text analysis for large-scale training-data pipelines.

These extend the reference's text surface (TokenCountMapper,
RegexMapper, Logalyzer — SURVEY.md §2.3; the Lucene index-build contrib
that analyzed docs into token streams, contrib/index/.../IndexUpdateMapper)
into the operations a modern 100 TB text-corpus pipeline needs:
tokenization, shingling, language ID, quality scoring, token counting,
document fingerprinting.

Everything is built from JVM-side expressions (split/regexp/aggregate)
— no Python UDFs — and every stochastic-looking choice (hash functions)
routes through md5 (functions/hashing.py) so each operator has an exact
DuckDB oracle. Paired ``*_sql`` builders emit that oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword-hit
# language-ID heuristic. Deliberately small and hard-coded: the point
# is the operator shape (profile match + argmax), not lexicon quality.
STOPWORD_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "para", "en", "que"),
}

# "BPE-ish" pre-tokenizer: word pieces or single non-space punctuation —
# the usual pre-split a byte-pair encoder runs on.  The whitespace
# exclusion is the EXPLICIT Java-\s class (not \s): this one literal
# is shared verbatim by the Spark (Java regex) and DuckDB (RE2) sides,
# and the engines' \s classes differ on \x0B — the explicit class
# makes them identical on any input (ADVICE r13 class of bug).
BPE_SPLIT_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\x0b\f\r]"

# PII patterns → typed placeholders, applied in this order.  Java
# regex (Spark) and RE2 (DuckDB) agree on these ASCII-only constructs;
# keep them that way (no lookarounds, no unicode classes).  The
# redaction stage every training-data pipeline runs before anything
# ships (reference analog: RegexMapper's match machinery,
# src/mapred/org/apache/hadoop/mapred/lib/RegexMapper.java:36, turned
# from extraction to redaction).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("phone", "\\b555-\\d{4}\\b", "[PHONE]"),
)

_WS = r"\s+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed (StringTokenizer
    semantics, TokenCountMapper.java:38)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, _WS), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split_regex({expr}, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '')"


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def token_count_sql(expr: str) -> str:
    return f"CAST(len({tokens_sql(expr)}) AS BIGINT)"


def redact_pii(text: Column | str) -> Column:
    """Replace ALL occurrences of every PII_PATTERNS entry with its
    typed placeholder.  Pure JVM ``regexp_replace`` chain: row-local,
    zero shuffles, linear to 100 TB.  Takes any string column — the
    library form behind the ``pii_redact`` inventory query (which adds
    synthetic augmentation because the test corpus carries no PII)."""
    c = F.col(text) if isinstance(text, str) else text
    for _name, pattern, placeholder in PII_PATTERNS:
        c = F.regexp_replace(c, F.lit(pattern), F.lit(placeholder))
    return c


def redact_pii_sql(expr: str) -> str:
    """DuckDB twin of :func:`redact_pii` ('g' = replace all)."""
    for _name, pattern, placeholder in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pattern}', '{placeholder}', 'g')"
    return expr


def pii_counts(text: Column | str) -> list[Column]:
    """Per-pattern match counts, aliased ``n_{name}s`` (n_emails, …)."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        F.regexp_count(c, F.lit(pattern)).cast("long").alias(f"n_{name}s")
        for name, pattern, _ph in PII_PATTERNS
    ]


def pii_counts_sql(expr: str) -> list[str]:
    """DuckDB twins of :func:`pii_counts`, same aliases."""
    return [
        f"CAST(len(regexp_extract_all({expr}, '{pattern}')) AS BIGINT) AS n_{name}s"
        for name, pattern, _ph in PII_PATTERNS
    ]


def bpe_piece_count(text: Column | str) -> Column:
    """Count of BPE-style pre-tokenizer pieces (wordpieces + punct)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_REGEX), F.lit(0))).cast("long")


def bpe_piece_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{BPE_SPLIT_REGEX}', 0)) AS BIGINT)"


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-space characters that are punctuation/symbols.
    Exact integer counts divided in double → cross-engine stable."""
    c = F.col(text) if isinstance(text, str) else text
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace.cast("double")).otherwise(
        F.lit(0.0)
    )


def punct_ratio_sql(expr: str) -> str:
    # explicit Java-\s class: RE2's \s lacks \x0B (ADVICE r13 class
    # of bug) — the Spark twin above strips Java \s
    nonspace = f"len(regexp_replace({expr}, '[ \\t\\n\\x0b\\f\\r]', '', 'g'))"
    punct = f"len(regexp_replace({expr}, '[A-Za-z0-9 \\t\\n\\x0b\\f\\r]', '', 'g'))"
    return f"CASE WHEN {nonspace} > 0 THEN CAST({punct} AS DOUBLE) / {nonspace} ELSE 0.0 END"


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Number of tokens (with multiplicity) matching the language's
    stopword profile."""
    stops = STOPWORD_PROFILES[lang]
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in stops])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))).cast(
        "long"
    )


def stopword_hits_sql(expr: str, lang: str) -> str:
    stops = ", ".join(f"'{s}'" for s in STOPWORD_PROFILES[lang])
    return (
        f"CAST(len(list_filter({tokens_sql(expr)}, t -> list_contains([{stops}], lower(t)))) AS BIGINT)"
    )


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document quality features: char length, token count, mean
    token length, punctuation ratio, english-stopword ratio — the
    standard cheap filters a pretraining pipeline applies first."""
    c = F.col(text_col)
    from hadoop_20_warehouse_spark.session import scatter

    # materialize the token array once; every feature derives from it
    # (split+filter is the expensive part — don't re-evaluate per column)
    stage = scatter(df).withColumn("_toks", tokens(c))
    n_tok = F.size("_toks").cast("long")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORD_PROFILES["en"]])
    hits = F.size(
        F.filter(F.col("_toks"), lambda t: F.array_contains(stop_arr, F.lower(t)))
    ).cast("long")
    return stage.withColumns(
        {
            "n_chars_q": F.length(c).cast("long"),
            "n_tokens": n_tok,
            "mean_token_len": F.when(
                n_tok > 0,
                (F.length(F.regexp_replace(c, _WS, "")).cast("double") / n_tok),
            ).otherwise(F.lit(0.0)),
            "punct_ratio": punct_ratio(c),
            "stopword_ratio": F.when(
                n_tok > 0, hits.cast("double") / n_tok
            ).otherwise(F.lit(0.0)),
        }
    ).drop("_toks")


# --- hashed linear classifier (fastText-shaped quality scoring) -------------

CLS_DIM = 256  # feature-hash buckets (a real model ships ~2M; shape identical)
CLS_SALT = "qw"  # weight-derivation salt


def hashed_weight_array() -> Column:
    """ONE array<bigint> of milli-unit weights, w[i] =
    md5_int64(CLS_SALT||i) % 2001 − 1000 ∈ [−1000, 1000] — a
    deterministic stand-in for a trained weight vector.  A real
    fastText / logistic quality model drops in by replacing this
    derivation with the model's weights (same broadcast-array shape,
    same scorer); the md5 derivation is what keeps the DuckDB oracle
    bit-identical."""
    return F.expr(
        f"transform(sequence(0, {CLS_DIM - 1}), i -> "
        f"cast(conv(substring(md5(concat('{CLS_SALT}', cast(i as string))), 1, 15), "
        f"16, 10) as bigint) % 2001 - 1000)"
    )


def hashed_classifier_raw_milli(toks_col: str) -> Column:
    """Integer milli-unit raw score: Σ over tokens of w[md5(t) % CLS_DIM],
    read from the weight column ``w``.
    One JVM-side HOF fold — token hashing and the weight lookup are
    both row-local against the broadcast weight array, and integer
    adds are order-independent (the repo's cross-engine sum
    discipline).  Note the fold is an INTERPRETED expression (array
    HOFs break whole-stage codegen — the repo's measured finding); the
    plan property that matters is zero shuffle and one corpus scan,
    and the per-token constant is md5 + one array index."""
    idx = (
        f"cast(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint) "
        f"% {CLS_DIM} as int) + 1"
    )
    return F.expr(
        f"aggregate({toks_col}, cast(0 as bigint), "
        f"(acc, t) -> acc + element_at(w, {idx}))"
    )


def classifier_scores(df: DataFrame, *cols: str) -> DataFrame:
    """``cols`` plus (n_tokens, raw_milli, score, keep) for every row of
    ``df`` whose ``text`` has at least one token: the fastText-shaped
    hashed bag-of-words logistic score, score = sigmoid(raw_milli /
    (1000·n_tokens)) rounded to 6, and keep = score ≥ 0.5 on the
    ROUNDED value so the cut is engine-stable.

    The one scorer for the batch query, the pipeline gates and the
    stream path.  The weights are built ONCE, in a one-row frame that
    is broadcast and cross-joined, so the md5 derivation never enters
    the per-row projection or the per-token fold (a ``withColumn``
    weight array is not constant-folded: column pruning inlines it
    into the fold).  Zero wide shuffle; a ``readStream`` frame joins
    the static weight row as a stream-static join, so the same plan
    runs per micro-batch with no watermark or state.  Does not
    scatter; callers spread a single-task input themselves."""
    wrow = df.sparkSession.range(1).select(hashed_weight_array().alias("w"))
    scored = (
        df.crossJoin(F.broadcast(wrow))
        .withColumn("_toks", tokens(F.col("text")))
        .select(
            *cols,
            F.size("_toks").cast("long").alias("n_tokens"),
            hashed_classifier_raw_milli("_toks").alias("raw_milli"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    score = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(-(F.col("raw_milli").cast("double") / (F.col("n_tokens") * 1000.0)))
        ),
        6,
    )
    return scored.select(
        *cols,
        "n_tokens",
        "raw_milli",
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    )
