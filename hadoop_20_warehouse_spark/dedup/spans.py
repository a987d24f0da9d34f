"""Exact span-level corpus dedup (C4-style) and token-budget sequence
packing — the two corpus-layout stages between cleaning and shard
export.

Both are library forms of the registered `dedup_paragraph_exact` /
`pack_token_budget` inventory queries (inventory_curation.py carries
the DuckDB oracle twins); extracted here so pipelines can run them on
arbitrary DataFrames and so property tests can drive them on synthetic
corpora with shapes the driver tables lack (empty docs, heavy
duplication).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.functions import text as T
from hadoop_20_warehouse_spark.functions.hashing import md5_bucket


def _chunked(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_w: int,
    with_total: bool = False,
) -> DataFrame:
    """Shared tokenize-and-chunk stage: (id_col, [n_chunks,] pos,
    chunk) with ``chunk_w``-token chunks in position order, zero-token
    docs dropped.  The chunk recipe (1-based slice offsets,
    ceil(size/w), space join) is cross-engine-sensitive — every
    chunk-consuming op and its DuckDB oracle must agree on it, so it
    lives HERE once."""
    toks = docs.select(
        F.col(id_col), T.tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") > 0)
    cols = [F.col(id_col)]
    if with_total:
        cols.append(F.ceil(F.size("t") / chunk_w).cast("long").alias("n_chunks"))
    return toks.select(
        *cols,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("t") / chunk_w).cast("int") - 1),
                lambda i: F.array_join(F.slice(F.col("t"), i * chunk_w + 1, chunk_w), " "),
            )
        ).alias("pos", "chunk"),
    ).withColumn("pos", F.col("pos").cast("long"))


def exact_span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_w: int = 4,
    keep_text: bool = False,
) -> DataFrame:
    """Keep only the GLOBALLY first occurrence (ordered by id, then
    position) of every distinct ``chunk_w``-token chunk; report per-doc
    chunk counts and the digest of the surviving text.  The C4 recipe
    (Raffel et al. 2020 §2.2) applied to fixed token chunks.

    Output: (id_col, n_chunks, n_removed, kept_digest); with
    ``keep_text=True`` also ``kept_text`` (surviving chunks joined by
    a space, in original position order — '' if every chunk was
    removed), so downstream pipeline stages (quality gates, packing)
    can consume the deduped corpus.  Docs with zero tokens are dropped
    (they have no chunks to place).

    Scale shape: first-occurrence is ``min(struct(id, pos))`` per chunk
    — partial-aggregable, so a boilerplate chunk appearing in millions
    of docs is combined map-side instead of sorting one giant window
    partition (deliberately NOT row_number-over-chunk, which has no
    skew escape).  Then one chunk-keyed equi-join marks keepers and one
    id-keyed agg reassembles.  All shuffles keyed; no all-pairs.

    The input is scattered (r18 optimization round) before the
    CPU-dense tokenize+chunk map — a single-file scan plans ONE task
    (the text_repetition_stats / minhash precedent); a well-split
    production scan, or one a caller already spread (the curation
    chain), passes through unshuffled."""
    from hadoop_20_warehouse_spark.session import scatter

    chunked = _chunked(scatter(docs), id_col, text_col, chunk_w)
    firsts = chunked.groupBy("chunk").agg(
        F.min(F.struct(id_col, "pos")).alias("first_occ")
    )
    marked = chunked.join(firsts, "chunk").withColumn(
        "kept",
        (F.col(id_col) == F.col(f"first_occ.{id_col}"))
        & (F.col("pos") == F.col("first_occ.pos")),
    )
    agged = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum((~F.col("kept")).cast("int")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("pos", "chunk")))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("kept_text"),
    ).withColumn("kept_digest", F.md5("kept_text"))
    cols = [id_col, "n_chunks", "n_removed", "kept_digest"]
    if keep_text:
        cols.append("kept_text")
    return agged.select(*cols)


def substring_dedup_overlapping(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_w: int = 6,
) -> DataFrame:
    """Exact SUBSTRING dedup with stride-1 overlapping windows — the
    distributed approximation of suffix-array ExactSubstr dedup (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", §4.1: remove every repeated span, not just repeated
    fixed-aligned chunks).  A ``window_w``-token window is duplicated
    when the same token sequence occurs anywhere else in the corpus
    (another doc OR another position of the same doc); every token
    covered by a duplicated NON-FIRST window (first = smallest
    (id, pos)) is removed.  Unlike ``exact_span_dedup``'s aligned
    chunks, a repeated span is caught at ANY offset.

    Output: (id_col, n_tokens, n_removed, kept_digest) per doc with
    >0 tokens; n_removed counts removed token POSITIONS, kept_digest
    is md5 of the surviving tokens in position order ('' when the doc
    is fully covered by repeats).

    Scale shape: windows are row-local (one transform over the token
    array, ~n rows per doc at stride 1); first-occurrence is the
    skew-immune ``min(struct(id, pos))`` partial agg per window key;
    ONE window-keyed equi-join marks duplicates; the W× coverage
    explode fans out DUPLICATE windows only, collapsed to ONE
    removed-position-set row per affected doc (``collect_set`` — a
    partial-aggregable keyed agg, rows ∝ docs with removals, payload ∝
    removed positions); reassembly is then a doc-keyed join of that
    small set onto the ORIGINAL token arrays (one row per doc) and a
    row-local ``array_except`` position filter + digest.  No shuffle is
    corpus-token-proportional: the only O(corpus) stages are the
    row-local window transform and the window-key first-occurrence agg
    (which partial-aggregates map-side), and the removal/reassembly
    shuffles carry O(duplicated positions + affected docs) rows.  The
    mega-common-window hot key combines map-side exactly like the
    boilerplate-scrub stress (PLANS.md).

    r18 optimization round: the input is scattered first (the
    exact_span_dedup rationale — the stride-1 window transform md5s
    every token position, and a single-file scan plans ONE task;
    measured 2.98 → 1.30 s at sf0.1, hash-identical)."""
    from hadoop_20_warehouse_spark.session import scatter

    toks = scatter(docs).select(
        F.col(id_col), T.tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") > 0)
    # stride-1 window keys; docs shorter than the window emit none
    # (the filter also keeps sequence() ascending — sequence(0, size-W)
    # with size < W would generate a DESCENDING range, not an empty one)
    wins = (
        toks.filter(F.size("t") >= window_w)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - window_w),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.col("t"), i + 1, window_w), " ")
                    ),
                )
            ).alias("pos", "wk"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
    )
    firsts = wins.groupBy("wk").agg(
        F.min(F.struct(id_col, "pos")).alias("first_occ")
    )
    dups = wins.join(firsts, "wk").filter(
        ~(
            (F.col(id_col) == F.col(f"first_occ.{id_col}"))
            & (F.col("pos") == F.col("first_occ.pos"))
        )
    )
    # ONE row per affected doc: the set of removed token positions.
    # collect_set partial-aggregates, so the explode's W-fan-out of a
    # mega-hot duplicate window combines map-side before the shuffle.
    removed_sets = (
        dups.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + window_w - 1)
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("rm_pos"))
    )
    # Reassembly: doc-keyed join (left side one row per doc, right side
    # one row per AFFECTED doc), then row-local position filtering.
    # array_except builds a hash set over rm_pos, so per doc this is
    # O(n_tokens + n_removed) — no per-token shuffle rows anywhere.
    joined = toks.join(removed_sets, on=id_col, how="left").withColumn(
        "rm_pos", F.coalesce("rm_pos", F.array().cast("array<long>"))
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(0).cast("long"), F.size("t").cast("long") - 1),
        F.col("rm_pos"),
    )
    return joined.select(
        F.col(id_col),
        F.size("t").cast("long").alias("n_tokens"),
        F.size("rm_pos").cast("long").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    kept_pos,
                    lambda p: F.element_at(F.col("t"), (p + 1).cast("int")),
                ),
                " ",
            )
        ).alias("kept_digest"),
    )


def pack_token_budget(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_shards: int = 8,
    passthrough: tuple[str, ...] = (),
    tok_len_col: str | None = None,
    partition_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic token-budget sequence packing: assign every doc a
    (shard, batch_id, batch_offset) placement such that each batch
    carries ~``budget`` tokens of consecutive running offset within its
    shard (T5-style packing, Raffel et al. 2020 §3.1.2).

    Output: (id_col, *passthrough, shard, tok_len, batch_id,
    batch_offset) — ``passthrough`` columns ride along unchanged so a
    pipeline can carry upstream stats (dedup counts, quality scores)
    into the packed layout without a second corpus-sized join.

    Boundary semantics — pack WITHOUT splitting: a doc is never split
    across batches.  ``batch_id = start_offset DIV budget``, so a doc
    whose tokens straddle a budget boundary stays whole in the batch
    where it starts, and a batch's total may exceed ``budget`` by up
    to one doc's length minus one: the guaranteed bound is
    ``sum(tok_len per batch) < budget + max(tok_len)`` (property-
    tested in tests/test_property.py).  The strict-budget counterpart
    that SPLITS boundary docs so every batch fills exactly is
    :func:`pack_token_budget_split`; this form's oracle checks the
    no-split contract.

    The cumulative-sum window is partitioned by the portable md5 shard
    (functions/hashing.md5_bucket — the HashPartitioner analog,
    lib/HashPartitioner.java:36): every window partition is
    corpus/``n_shards`` rows, so the shard count scales the op to any
    corpus; ordering by (md5, id) makes placement reproducible across
    runs and engines.  All integer arithmetic — exact cross-engine.

    ``tok_len_col``: name of a precomputed per-doc token-count column
    to pack by instead of the whitespace count — the hook that lets
    packing run on REAL tokenizer counts (e.g. BPE subword counts from
    functions/bpe.tokenize_with_merges) rather than word counts.

    ``partition_extra``: additional window-partition columns AHEAD of
    the md5 shard — e.g. a train/val/test ``split`` label — so batches
    never mix values of those columns (a training batch must not
    straddle the eval boundary).  The columns ride into the output;
    the shard key stays md5(id), so partition sizes remain
    |group|/``n_shards``."""
    from pyspark.sql import Window

    tok_len = (
        F.col(tok_len_col).cast("long")
        if tok_len_col
        else T.token_count(F.col(text_col))
    )
    base = docs.select(
        id_col,
        *passthrough,
        *partition_extra,
        tok_len.alias("tok_len"),
        md5_bucket(F.col(id_col), n_shards).cast("long").alias("shard"),
        F.md5(F.col(id_col).cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy(*partition_extra, "shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = base.withColumn("start_off", F.sum("tok_len").over(w) - F.col("tok_len"))
    return staged.select(
        id_col,
        *passthrough,
        *partition_extra,
        "shard",
        "tok_len",
        F.expr(f"CAST(start_off DIV {budget} AS BIGINT)").alias("batch_id"),
        F.expr(f"CAST(start_off % {budget} AS BIGINT)").alias("batch_offset"),
    )


def global_shuffle_order(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every doc a
    dense ``global_pos`` (0..N-1) in pseudo-random order — equivalent
    to ``ROW_NUMBER() OVER (ORDER BY shard, md5(id), id) - 1`` —
    WITHOUT ever forming a corpus-wide window.

    Output: (id_col, *passthrough, shard, global_pos) —
    ``passthrough`` columns ride through the rank window unchanged so
    composed pipelines carry their payload WITHOUT a corpus-sized
    re-join back to the input (a second reference to the upstream
    frame re-evaluates its whole subtree unless it was persisted; see
    pipeline_mix_place's plan test).

    Scale shape (the TotalOrderPartitioner idea,
    src/mapred/org/apache/hadoop/mapred/lib/TotalOrderPartitioner.java:40,
    turned from sampled key ranges into exact hash shards): rank
    per-shard (every window partition is corpus/``n_shards`` rows),
    then lift ranks to global positions by adding per-shard prefix
    offsets.  The offsets frame is ``n_shards`` ROWS — metadata, not
    data — so its single-partition prefix-sum window and the broadcast
    join that applies it are O(shards), never O(corpus).  A naive
    ``row_number() OVER (ORDER BY ...)`` funnels the whole corpus
    through ONE sort partition; this is the plan that survives
    100 TB."""
    from pyspark.sql import Window

    base = docs.select(
        id_col,
        *passthrough,
        md5_bucket(F.col(id_col), n_shards).cast("long").alias("shard"),
        F.md5(F.col(id_col).cast("string")).alias("h"),
    )
    w = Window.partitionBy("shard").orderBy("h", id_col)
    ranked = base.withColumn("rn", F.row_number().over(w).cast("long"))
    counts = ranked.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    # single-partition window over n_shards rows — metadata-sized by
    # construction (the corpus never flows through it)
    wo = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("n").over(wo), F.lit(0)).cast("long")
    )
    return ranked.join(F.broadcast(offsets.select("shard", "offset")), "shard").select(
        id_col,
        *passthrough,
        "shard",
        (F.col("offset") + F.col("rn") - 1).cast("long").alias("global_pos"),
    )


def pack_token_budget_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """T5-style packing WITH splitting — the strict-budget counterpart
    of :func:`pack_token_budget`: a doc whose tokens straddle a budget
    boundary is SPLIT, emitting one row per (doc, batch) slice so that
    every batch in a shard carries exactly ``budget`` tokens (the last
    batch of each shard may be partial).  Raffel et al. 2020 §3.1.2
    pack-and-split to fixed 512-token inputs this way.

    Output: (id_col, shard, tok_len, batch_id, slice_id, batch_offset,
    slice_len): ``slice_id`` numbers a doc's slices from 0,
    ``batch_offset`` is where the slice starts inside its batch, and
    per doc ``sum(slice_len) == tok_len`` (zero-token docs emit one
    zero-length slice, keeping the row count audit-friendly).

    Scale shape: identical to the no-split packer (per-md5-shard cumsum
    window, shard count is the scale knob) plus one ROW-LOCAL explode
    of each doc's boundary crossings — output rows = docs + crossings,
    no new shuffle.  All integer arithmetic — exact cross-engine."""
    from pyspark.sql import Window

    base = docs.select(
        id_col,
        T.token_count(F.col(text_col)).alias("tok_len"),
        md5_bucket(F.col(id_col), n_shards).cast("long").alias("shard"),
        F.md5(F.col(id_col).cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = base.withColumn("start_off", F.sum("tok_len").over(w) - F.col("tok_len"))
    b = F.lit(budget).cast("long")
    first_b = F.expr(f"start_off div {budget}").cast("long")
    # when-guarded so the zero-length case never divides a negative
    # (Spark div truncates toward zero, DuckDB // floors — they only
    # agree on non-negative operands)
    last_b = (
        F.when(F.col("tok_len") == 0, first_b)
        .otherwise(F.expr(f"(start_off + tok_len - 1) div {budget}"))
        .cast("long")
    )
    ex = staged.select(
        id_col,
        "shard",
        "tok_len",
        "start_off",
        first_b.alias("first_b"),
        F.explode(F.sequence(first_b, last_b)).alias("batch_id"),
    )
    slice_start = F.greatest(F.col("start_off"), F.col("batch_id") * b)
    slice_end = F.least(
        F.col("start_off") + F.col("tok_len"), (F.col("batch_id") + 1) * b
    )
    return ex.select(
        id_col,
        "shard",
        "tok_len",
        F.col("batch_id").cast("long").alias("batch_id"),
        (F.col("batch_id") - F.col("first_b")).cast("long").alias("slice_id"),
        (slice_start - F.col("batch_id") * b).cast("long").alias("batch_offset"),
        (slice_end - slice_start).cast("long").alias("slice_len"),
    )


def mixture_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    domain_col: str = "source",
    text_col: str = "text",
    n_shards: int = 8,
    tok_len_col: str | None = None,
) -> DataFrame:
    """Deterministic domain-mixture sampling: greedily fill each
    domain's token budget in a pseudo-random but reproducible order —
    the data-mixing stage of a training-corpus pipeline (the Pile
    composes weighted source mixtures this way; Gao et al. 2020 §1,
    and T5's proportional mixing, Raffel et al. 2020 §3.5.2).

    ``budgets`` maps domain value -> token budget.  Within each domain
    docs are ordered by (md5 shard, md5(id), id); a doc is kept while
    the cumulative token count BEFORE it is under the budget, so the
    boundary-crossing doc is included and the kept total is
    budget <= total < budget + max(tok_len) (or everything, when the
    domain holds fewer tokens than its budget).  Domains absent from
    ``budgets`` are dropped; upsampling (repeat factors for
    over-weighted small domains) is a separate stage by design —
    this op never duplicates a doc.

    ``tok_len_col``: name of a precomputed per-doc token-count column
    to budget by instead of the whitespace count — the same hook
    :func:`pack_token_budget` has, so mixing can run on REAL tokenizer
    counts (e.g. BPE subword counts) in a composed pipeline.

    Output: (id_col, domain_col, tok_len, start_off) where start_off
    is the domain-wide cumulative token offset — exact integers,
    reproducible cross-engine.

    Scale shape: the cumsum window is per (domain, shard) — every
    partition is |domain|/``n_shards`` rows regardless of how skewed
    the domain mix is (a naive PARTITION BY domain window funnels the
    dominant domain — often >80% of a web corpus — through one sort
    partition).  Shard-to-domain offsets come from a domains x shards
    metadata frame lifted exactly like :func:`global_shuffle_order`'s
    prefix offsets and broadcast back.  The budget table itself is a
    literal map — metadata, never a shuffle."""
    from pyspark.sql import Window

    tok_len = (
        F.col(tok_len_col).cast("long")
        if tok_len_col
        else T.token_count(F.col(text_col))
    )
    base = docs.select(
        id_col,
        domain_col,
        tok_len.alias("tok_len"),
        md5_bucket(F.col(id_col), n_shards).cast("long").alias("shard"),
        F.md5(F.col(id_col).cast("string")).alias("h"),
    ).filter(F.col(domain_col).isin(*budgets.keys()))
    w = (
        Window.partitionBy(domain_col, "shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn(
        "local_off", F.sum("tok_len").over(w) - F.col("tok_len")
    )
    counts = base.groupBy(domain_col, "shard").agg(
        F.sum("tok_len").cast("long").alias("n")
    )
    # domains x shards rows — metadata, not data
    wo = (
        Window.partitionBy(domain_col)
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("n").over(wo), F.lit(0)).cast("long")
    )
    budget_expr = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    return (
        local.join(
            F.broadcast(offsets.select(domain_col, "shard", "offset")),
            [domain_col, "shard"],
        )
        .withColumn("start_off", (F.col("offset") + F.col("local_off")).cast("long"))
        .filter(F.col("start_off") < budget_expr[F.col(domain_col)])
        .select(id_col, domain_col, "tok_len", "start_off")
    )


def epoch_expand(
    docs: DataFrame,
    repeats: dict[str, float],
    id_col: str = "doc_id",
    domain_col: str = "source",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic per-domain upsampling: emit ``ceil`` or ``floor``
    copies of every doc so each domain is repeated ``repeats[domain]``
    epochs IN EXPECTATION — the over-weighting stage for rare domains
    (data recipes state mixtures as fractional epoch counts, e.g.
    "2.4 epochs of books"; Gao et al. 2020 table 1 does exactly this).
    The integer part repeats every doc; the fractional part f keeps an
    extra copy for the deterministic md5-fraction of docs with
    ``md5_int64(id) % 1000 < round(f * 1000)`` — reproducible, no RNG,
    and at most per-mille rounding of the target factor.

    Output: (id_col, domain_col, *passthrough, epoch) — one row per
    emitted copy (``passthrough`` rides through the explode unchanged),
    ``epoch`` numbering a doc's copies from 0.  Domains absent from
    ``repeats`` default to 1 epoch.  A factor < 1 subsamples (docs
    outside the kept md5-fraction emit zero copies and drop out);
    token-budget-exact selection is :func:`mixture_sample`'s job.

    Scale shape: one row-local explode of ``sequence(0, n_copies-1)``
    — output rows = sum of repeat factors x corpus, ZERO shuffles.
    Downstream global placement (:func:`global_shuffle_order` on the
    (id, epoch) pair) spreads the copies; this stage only multiplies."""
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64

    for d, f in repeats.items():
        if not f > 0:
            raise ValueError(f"repeat factor for {d!r} must be > 0, got {f}")
    whole = F.create_map(
        *[x for d, f in repeats.items() for x in (F.lit(d), F.lit(int(f)))]
    )
    frac_mille = F.create_map(
        *[
            x
            for d, f in repeats.items()
            for x in (F.lit(d), F.lit(int(round((f - int(f)) * 1000))))
        ]
    )
    n_whole = F.coalesce(whole[F.col(domain_col)], F.lit(1))
    extra = (
        F.coalesce(frac_mille[F.col(domain_col)], F.lit(0))
        > md5_int64(F.col(id_col)) % 1000
    ).cast("int")
    n_copies = (n_whole + extra).cast("long")
    return docs.select(
        id_col,
        domain_col,
        *passthrough,
        F.explode(
            F.when(n_copies > 0, F.sequence(F.lit(0).cast("long"), n_copies - 1))
        ).alias("epoch"),
    )


def mixture_with_epochs(
    docs: DataFrame,
    budgets: dict[str, int],
    repeats: dict[str, float],
    id_col: str = "doc_id",
    domain_col: str = "source",
    text_col: str = "text",
    n_shards: int = 8,
    tok_len_col: str | None = None,
) -> DataFrame:
    """Upsampled domain mixing: :func:`epoch_expand` FIRST (fractional
    per-domain repeat factors), then :func:`mixture_sample`'s greedy
    budget fill over the EXPANDED copies — so an over-weighted small
    domain can meet a budget LARGER than its single-copy token mass
    through repetition (T5's mixing with artificial dataset sizes,
    Raffel et al. 2020 §3.5.2; the Pile's fractional epoch recipe,
    Gao et al. 2020 table 1).  The existing ``pipeline_mix_place``
    composes the stages the other way (budget on single-copy mass,
    THEN epochs); this is the budget-over-copies ordering a recipe
    stated as "N tokens of domain D at E epochs" needs.

    The fill key is the composite copy key ``id '#' epoch`` (ids must
    not contain ``'#'``), so the md5 shard/order spreads a doc's
    copies independently — copy 0 and copy 1 of the same doc land at
    unrelated fill positions, not adjacent ones.

    Output: (id_col, epoch, domain_col, tok_len, start_off) — one row
    per KEPT copy; start_off is the domain-wide cumulative token
    offset over the expanded stream.

    Scale shape: epoch_expand is a row-local explode (zero shuffles);
    the fill is mixture_sample's per-(domain, md5-shard) cumsum with
    the broadcast domains x shards offset lift — the copy multiplier
    only scales rows, never the window width."""
    tok_len = (
        F.col(tok_len_col).cast("long")
        if tok_len_col
        else T.token_count(F.col(text_col))
    )
    base = docs.select(
        F.col(id_col), F.col(domain_col), tok_len.alias("tok_len")
    )
    copies = epoch_expand(
        base,
        repeats,
        id_col=id_col,
        domain_col=domain_col,
        passthrough=("tok_len",),
    )
    keyed = copies.withColumn(
        "copy_key",
        F.concat_ws(
            "#", F.col(id_col).cast("string"), F.col("epoch").cast("string")
        ),
    )
    mixed = mixture_sample(
        keyed,
        budgets,
        id_col="copy_key",
        domain_col=domain_col,
        n_shards=n_shards,
        tok_len_col="tok_len",
    )
    id_type = docs.schema[id_col].dataType
    return mixed.select(
        F.substring_index("copy_key", "#", 1).cast(id_type).alias(id_col),
        F.substring_index("copy_key", "#", -1).cast("long").alias("epoch"),
        F.col(domain_col),
        F.col("tok_len"),
        F.col("start_off"),
    )


def split_assign(
    docs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test split assignment: every row gains a
    ``split`` label from its id's md5 per-mille bucket — split
    boundaries are cumulative ``round(fraction * 1000)`` thresholds in
    the dict's iteration order.  Fractions must sum to 1 (after
    per-mille rounding, enforced), so splits are DISJOINT and
    EXHAUSTIVE by construction.

    Hash-based (not rank-based) on purpose: a document keeps its split
    when the corpus grows, shrinks, or is re-partitioned — the
    stability property that prevents eval contamination across corpus
    versions (a row_number split reassigns everything on every
    ingest).  Exact per-stratum proportions are the rank-based quota
    ops' job (sample_per_group); this op trades per-mille-in-
    expectation proportions for version stability, which is what
    production train/eval splits need.

    ``salt`` re-rolls the whole assignment (e.g. per experiment) while
    staying deterministic; it is hashed WITH the id so two salts give
    independent assignments.

    Scale shape: one row-local md5 projection — zero shuffles, zero
    joins; composes with any downstream stage as a plain column."""
    mille = [(name, int(round(f * 1000))) for name, f in fractions.items()]
    for name, m in mille:
        if m <= 0:
            raise ValueError(
                f"split fraction for {name!r} rounds to {m} per-mille; "
                "every split needs >= 0.001"
            )
    total = sum(m for _n, m in mille)
    if total != 1000:
        raise ValueError(
            f"split fractions must sum to 1.0 (got {total / 1000}); "
            "splits are disjoint and exhaustive by contract"
        )
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64

    u = md5_int64(
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
    ) % 1000
    expr = None
    lo = 0
    for name, m in mille:
        cond = u < F.lit(lo + m)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += m
    return docs.withColumn("split", expr)


def split_assign_sql(
    fractions: dict[str, float], id_expr: str, salt: str = ""
) -> str:
    """DuckDB twin of :func:`split_assign`'s ``split`` expression (the
    same per-mille thresholds over the same salted md5 bucket)."""
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64_sql

    salted = f"'{salt}' || CAST({id_expr} AS VARCHAR)"
    u = f"({md5_int64_sql(salted)} % 1000)"
    mille = [(name, int(round(f * 1000))) for name, f in fractions.items()]
    parts = []
    lo = 0
    for name, m in mille:
        parts.append(f"WHEN {u} < {lo + m} THEN '{name}'")
        lo += m
    return "CASE " + " ".join(parts) + " END"


def boilerplate_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_w: int = 4,
    max_docs: int = 2,
    keep_text: bool = False,
) -> DataFrame:
    """Frequency-threshold boilerplate removal: a ``chunk_w``-token
    chunk that occurs in MORE THAN ``max_docs`` distinct docs is
    boilerplate and is removed from EVERY doc — including the first
    occurrence, which is the semantic difference from
    :func:`exact_span_dedup` (dedup keeps one copy; boilerplate
    killing keeps none).  CCNet scrubs paragraphs repeated across the
    corpus this way (Wenzek et al. 2020 §3.1); with no line structure
    in the driver corpus the unit is the same fixed token chunk the
    span-dedup stage uses.

    Output: (id_col, n_chunks, n_removed, clean_digest); with
    ``keep_text=True`` also ``clean_text`` (surviving chunks joined in
    position order).  Docs whose every chunk is boilerplate survive
    with ``n_removed == n_chunks`` and an empty clean_text — they are
    the signal a downstream gate drops.

    Scale shape: doc-frequency is ``(chunk, id) distinct -> per-chunk
    count`` — both keyed, both partial-aggregable, so a chunk pasted
    into millions of docs combines map-side instead of hot-keying one
    reducer.  The flag returns to the chunk stream via one chunk-keyed
    LEFT join (null flag = keep); per-doc totals ride the explode as a
    row-local column, so reassembly is ONE id-keyed agg.  No windows,
    no all-pairs."""
    chunked = _chunked(docs, id_col, text_col, chunk_w, with_total=True)
    boiler = (
        chunked.select("chunk", id_col)
        .distinct()
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > max_docs)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    marked = chunked.join(boiler, "chunk", "left")
    agged = marked.groupBy(id_col).agg(
        F.first("n_chunks").alias("n_chunks"),
        F.sum(F.coalesce(F.col("is_boiler").cast("int"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_boiler").isNull(), F.struct("pos", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    ).withColumn("clean_digest", F.md5("clean_text"))
    cols = [id_col, "n_chunks", "n_removed", "clean_digest"]
    if keep_text:
        cols.append("clean_text")
    return agged.select(*cols)


def chunk_sliding_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 24,
    tokens_expr=None,
) -> DataFrame:
    """(id, chunk_idx, start_tok, n_chunk_tokens, chunk_digest) —
    overlapping sliding-window chunking, the context-window layout of
    pretraining corpora and RAG indexes: chunk i covers tokens
    [i·stride+1, i·stride+window] (1-based, tail chunk may run
    short), with n_chunks = 1 + ceil(max(0, n−window)/stride) so the
    final window always reaches the last token and a ≤window doc is
    exactly one chunk.  stride < window ⇒ window−stride tokens of
    overlap between neighbors.

    ``tokens_expr``: optional Column producing the per-doc token ARRAY
    to chunk instead of whitespace words — the hook that chunks by the
    counts the model will see (e.g. ``F.col("toks")`` over the subword
    arrays of functions/bpe.token_arrays).

    ROW-LOCAL throughout: tokenize once, explode only the chunk
    ordinals (fan-out n/stride — the output size, not a join), slice
    and digest inside the projection.  No shuffle, no window function;
    at 100 TB this is a map-only pass whose output is the chunk table.
    ceil is computed as (n−window+stride−1) div stride in BOTH engines
    (exact integer math — no float ceil at the boundary)."""
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    toks = tokens_expr if tokens_expr is not None else T.tokens(F.col(text_col))
    staged = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_n", F.size("_toks").cast("long")
    )
    # integer ceil via expr's `div` (exact integer division — Spark's
    # Column `/` is double division and drifts at 2^53-scale counts)
    nc = F.when(
        F.col("_n") <= window, F.lit(1).cast("long")
    ).otherwise(
        1 + F.expr(f"(_n - {window} + {stride} - 1) div {stride}")
    ).cast("long")
    chunks = staged.filter(F.col("_n") > 0).select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0).cast("long"), nc - 1)).alias("chunk_idx"),
    )
    sl = F.slice(
        F.col("_toks"), (F.col("chunk_idx") * stride + 1).cast("int"), window
    )
    return chunks.select(
        id_col,
        "chunk_idx",
        (F.col("chunk_idx") * stride + 1).cast("long").alias("start_tok"),
        F.size(sl).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", sl)).alias("chunk_digest"),
    )


def chunk_sliding_windows_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 24,
) -> str:
    """DuckDB oracle for ``chunk_sliding_windows`` — identical token
    rule, integer ceil, slice clamping, and digest."""
    toks = T.tokens_sql(text_col)
    return f"""
WITH staged AS (
  SELECT {id_col}, {toks} AS toks, CAST(len({toks}) AS BIGINT) AS n
  FROM {table}
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
