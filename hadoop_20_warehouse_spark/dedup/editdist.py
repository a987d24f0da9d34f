"""Character-level fuzzy near-dup: Levenshtein pairs under a
threshold, with length blocking and a packed character-frequency L1
pre-filter.

Library form of the registered ``dedup_fuzzy_edit`` query
(inventory_analytics.py carries the exhaustive DuckDB oracle twin);
extracted so pipelines can run it on arbitrary DataFrames and so the
hypothesis property test can prove candidate COMPLETENESS against a
brute-force reference on corpus shapes the driver tables lack
(adversarial mutations, bucket straddles, repeated characters past
the packing width).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# count alphabet for the L1 pre-filter; out-of-alphabet characters
# simply don't move the vector (the bound still holds)
EDIT_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789 "


def fuzzy_edit_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 12,
    block_w: int | None = None,
) -> DataFrame:
    """(id_a, id_b, dist) for every pair with Levenshtein distance
    <= ``max_dist`` over the lowercased null-coalesced text.

    Plan (see the registered query's docstring for the full
    derivation and measurements — 34 s naive -> ~2.8 s at sf0.1):

    1. LENGTH BLOCKING — each doc lands in buckets floor(len/W) and
       floor(len/W)+1 with W >= T, so any pair with |Δlen| <= T (a
       necessary condition: one edit moves length by at most 1)
       shares a bucket.
    2. PACKED CHAR-COUNT L1 FILTER — 37 per-char counts, saturated at
       1023 (capping is 1-Lipschitz so the capped L1 lower-bounds the
       true L1), packed 6-per-bigint; a pair proceeds only if
       L1 <= 2T (necessary: a substitution moves two counts by one).
       The candidate join ships ids/lengths/packed counts only.
    3. TEXT FETCH + thresholded JVM levenshtein (early-abandons past
       T) for the filter survivors; distinct() because a pair can
       share two buckets.

    Both filters are NECESSARY conditions, so no true pair is ever
    dropped — proven two ways: the registered query's exhaustive
    DuckDB oracle, and tests/test_property.py's brute-force
    comparison under hypothesis-generated mutations.

    DENSE-CLUSTER CAVEAT (measured r10, PLANS.md sf1 rehearsals):
    the contract is "emit EVERY pair under the threshold", so the
    output — and therefore the cost — is O(cluster²) in duplicate-
    cluster size; a corpus of 10-member near-identical clusters
    produced 978x the pairs (and 92x the time — per-pair cost FELL)
    of its 1x original.  For boilerplate-heavy corpora where clusters
    are huge, dedup decisions should ride minhash-LSH → connected
    components → cluster representative (O(docs) output) and reserve
    this operator for bounded candidate sets or pair verification."""
    T = max_dist
    W = block_w if block_w is not None else max(T, 1)
    if W < T:
        raise ValueError(f"block_w ({W}) must be >= max_dist ({T})")
    # ln is the length of the LOWERED text — the same string the DP
    # scores.  Using the pre-lowercase length would break completeness
    # for case mappings that change length (e.g. U+0130 lowers to two
    # codepoints): a distance-0 pair could differ in raw length by
    # more than T and be dropped by the blocking (r8 review).
    docs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("tx"),
    ).withColumn("ln", F.length("tx"))
    packed = []
    for g in range(0, len(EDIT_CHARS), 6):
        expr = None
        for k, c in enumerate(EDIT_CHARS[g : g + 6]):
            cnt = F.least(
                (
                    F.length("tx")
                    - F.length(F.expr(f"replace(tx, '{c}', '')"))
                ).cast("bigint"),
                F.lit(1023).cast("bigint"),
            )
            term = cnt * (1024 ** k)
            expr = term if expr is None else expr + term
        packed.append(expr.alias(f"p{g // 6}"))
    n_packed = len(packed)
    # r18 optimization round: the packed-count frame is computed by 37
    # full-string replace() scans per doc and feeds BOTH sides of the
    # bucket self-join; the two sides alias the columns differently
    # (doc_id_a vs doc_id_b), so their exchanges don't canonicalize
    # equal and AQE's stage reuse cannot dedupe them — without persist
    # the 37-replace pass ran twice.  The frame is tiny (9 scalars per
    # doc); generation-bounded persist (session.persist_generation)
    # halves the count pass — measured 3.90 → 3.11 s at sf0.1,
    # hash-identical (guide §2.4).
    from hadoop_20_warehouse_spark.session import persist_generation

    narrow = persist_generation(
        "fuzzy_edit_narrow", docs.select("doc_id", "ln", *packed)
    )
    blocked = narrow.select(
        "*",
        F.explode(
            F.array(
                F.floor(F.col("ln") / W), F.floor(F.col("ln") / W) + 1
            )
        ).alias("blk"),
    )
    pc = [f"p{i}" for i in range(n_packed)]
    a = blocked.select(
        *[F.col(c).alias(f"{c}_a") for c in ("doc_id", "ln", *pc)], "blk"
    )
    b = blocked.select(
        *[F.col(c).alias(f"{c}_b") for c in ("doc_id", "ln", *pc)], "blk"
    )
    l1 = None
    for i in range(n_packed):
        for k in range(6):
            if i * 6 + k >= len(EDIT_CHARS):
                break
            term = F.abs(
                F.shiftright(F.col(f"p{i}_a"), 10 * k) % 1024
                - F.shiftright(F.col(f"p{i}_b"), 10 * k) % 1024
            )
            l1 = term if l1 is None else l1 + term
    cand = (
        a.join(b, "blk")
        .filter(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            & (F.abs(F.col("ln_a") - F.col("ln_b")) <= T)
        )
        .filter(l1 <= 2 * T)
        .select(
            F.col("doc_id_a").alias("id_a"), F.col("doc_id_b").alias("id_b")
        )
        .distinct()
    )
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("tx").alias("tx_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("tx").alias("tx_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("tx_a", "tx_b", T).cast("long").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .orderBy("id_a", "id_b")
    )

