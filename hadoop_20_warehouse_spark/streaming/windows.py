"""Streaming operators: event-time windows, watermarks, dedup.

The reference is batch-only (SURVEY.md §1.5/§2.9 — logs arrived via
external copiers and every job read files). These operators are the
Structured-Streaming extension BASELINE.json's north star asks for,
built so that THE SAME function works on a batch DataFrame and on a
streaming DataFrame (Spark's unified API): pass a batch frame and you
get the deterministic batch answer the DuckDB oracle checks; pass a
``readStream`` frame and the identical plan runs incrementally with
watermark-bounded state.

State-at-scale notes:
- Watermarks bound the window/dedup state store; without them a 100 TB
  stream accumulates state forever. Every streaming entry point takes
  ``watermark`` and applies it only when the frame is streaming.
- Tumbling/sliding use ``window()`` (epoch-aligned buckets); session
  windows use ``session_window()`` (gap-merged, per-key state).
- ``dedup_events`` on a stream is ``dropDuplicates`` within the
  watermark horizon — the batch equivalent elects the first row per
  key by (event time, tiebreak) so it is deterministic and
  oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"  # µs precision, matches DuckDB %f


def _maybe_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    if watermark and df.isStreaming:
        return df.withWatermark(ts_col, watermark)
    return df


def tumbling_counts(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    duration: str = "1 hour",
    watermark: str | None = "2 hours",
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling-window counts (+ optional exact decimal value sum) per
    key. Output: key cols, window_start (string), n_events[, value_sum]."""
    df = _maybe_watermark(df, ts_col, watermark)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs.append(F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("value_sum"))
    return (
        df.groupBy(F.window(ts_col, duration).alias("w"), *key_cols)
        .agg(*aggs)
        .select(
            *key_cols,
            F.date_format("w.start", TS_FMT).alias("window_start"),
            *[F.col(a) for a in (["n_events"] + (["value_sum"] if value_col else []))],
        )
    )


def tumbling_distinct_ids(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    id_col: str,
    duration: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Exact distinct-id count per tumbling window and key, built the
    streaming-legal way: COUNT(DISTINCT) is unsupported in streaming
    aggregations, so stage 1 is ``dropDuplicates`` over
    (key, window, id) — watermark-bounded state — and stage 2 counts
    the survivors. Output: key cols, window_start (string),
    n_distinct. Both stages run identically in batch, which is what
    the oracle checks."""
    df = _maybe_watermark(df, ts_col, watermark)
    w = F.window(ts_col, duration).alias("w")
    deduped = df.select(*key_cols, F.col(id_col), w).dropDuplicates(
        [*key_cols, "w", id_col]
    )
    return (
        deduped.groupBy("w", *key_cols)
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(
            *key_cols,
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "n_distinct",
        )
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Sliding-window counts: each event lands in duration/slide
    windows. Epoch-aligned starts, same grid as the oracle's
    time_bucket arithmetic."""
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("w"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *key_cols,
            F.date_format("w.start", TS_FMT).alias("window_start"),
            F.col("n_events"),
        )
    )


def session_windows(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Gap-based session windows per key (session_window — merged while
    consecutive events are < gap apart; session end = last event + gap).
    Output: key cols, session_start, session_end (strings), n_events.
    """
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *key_cols,
            F.date_format("w.start", TS_FMT).alias("session_start"),
            F.date_format("w.end", TS_FMT).alias("session_end"),
            F.col("n_events"),
        )
    )


def session_windows_sql(
    table: str, ts_col: str, key_cols: list[str], gap_minutes: int = 30
) -> str:
    """DuckDB oracle for ``session_windows``: gaps-and-islands — a new
    session starts when the gap from the previous event (same keys)
    is >= gap; session end = last event + gap (Spark's convention)."""
    keys = ", ".join(key_cols)
    return f"""
WITH marked AS (
  SELECT {keys}, {ts_col} AS ts,
         CASE WHEN {ts_col} - LAG({ts_col}) OVER (PARTITION BY {keys} ORDER BY {ts_col})
                   < INTERVAL {gap_minutes} MINUTE THEN 0 ELSE 1 END AS new_session
  FROM {table}
),
islands AS (
  SELECT {keys}, ts,
         SUM(new_session) OVER (PARTITION BY {keys} ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT {keys},
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL {gap_minutes} MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events
FROM islands
GROUP BY {keys}, session_id
""".strip()


def dedup_events(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str | None = "2 hours",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Event dedup by key.

    Streaming: ``dropDuplicates`` within the watermark horizon (state
    bounded by the watermark). Batch: deterministic first-row election
    by (event time, tiebreaks) so the result is oracle-checkable —
    streaming dropDuplicates keeps the first *arrival*, which a batch
    oracle cannot reproduce; we document the difference here.
    """
    if df.isStreaming:
        df = _maybe_watermark(df, ts_col, watermark)
        return df.dropDuplicates(key_cols)
    order = [F.asc(ts_col)] + [F.asc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def running_user_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-key running (n_events, value_sum, last_ts) maintained across
    micro-batches — the arbitrary-state surface the built-in windows
    can't express (counters that never reset, custom eviction, ML
    feature state, ...).

    State is one small tuple per key; the watermark bounds how long
    idle keys are kept via the state timeout. On a batch DataFrame this
    falls back to a plain groupBy aggregation with identical output
    (unified API, oracle-checkable).

    The user function is self-contained (local imports only) so it
    ships by value to Python workers (see multimodal/binary.py).
    """
    out_schema = f"{key_col} long, n_events long, value_sum double, last_ts string"

    if not df.isStreaming:
        return (
            df.groupBy(key_col)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("value_sum"),
                F.date_format(F.max(ts_col), TS_FMT).alias("last_ts"),
            )
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    kc, tc, vc = key_col, ts_col, value_col

    def update(key, pdfs, state: GroupState):
        import decimal as _decimal

        import pandas as _pd

        n, total_cents, last = (
            state.get if state.exists else (0, 0, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            # integer cents: exact accumulation across micro-batches
            total_cents += int(
                sum(
                    _decimal.Decimal(str(v)).quantize(_decimal.Decimal("0.01")) * 100
                    for v in pdf[vc]
                )
            )
            batch_last = pdf[tc].max()
            last = batch_last if last is None or batch_last > last else last
        state.update((n, total_cents, last))
        yield _pd.DataFrame(
            {
                kc: [key[0]],
                "n_events": [n],
                "value_sum": [total_cents / 100.0],
                "last_ts": [_pd.Timestamp(last).strftime("%Y-%m-%d %H:%M:%S.%f")],
            }
        )

    df = _maybe_watermark(df, ts_col, watermark)
    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="n long, total_cents long, last timestamp",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts_left: str = "ts",
    ts_right: str = "ts",
    upper: str = "10 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Stream-stream inner join within a time interval: pair each left
    row with right rows of the same keys where
    ``ts_left <= ts_right <= ts_left + upper``.

    On streaming inputs both sides carry watermarks and the range
    condition bounds the join state (Spark evicts left rows once the
    right watermark passes ts_left + upper) — without the bound a
    stream-stream join buffers forever. On batch frames the identical
    plan is a plain range-condition equi-join the oracle can check.

    Output columns: keys, left/right non-key columns suffixed _l/_r.
    """
    l = _maybe_watermark(left, ts_left, watermark).select(
        *[F.col(k) for k in keys],
        *[
            F.col(c).alias(f"{c}_l")
            for c in left.columns
            if c not in keys
        ],
    )
    r = _maybe_watermark(right, ts_right, watermark).select(
        *[F.col(k).alias(f"__rk_{k}") for k in keys],
        *[
            F.col(c).alias(f"{c}_r")
            for c in right.columns
            if c not in keys
        ],
    )
    tl, tr = F.col(f"{ts_left}_l"), F.col(f"{ts_right}_r")
    cond = [F.col(k) == F.col(f"__rk_{k}") for k in keys]
    cond += [tr >= tl, tr <= tl + F.expr(f"INTERVAL {upper}")]
    out = l.join(r, cond, "inner")
    return out.drop(*[f"__rk_{k}" for k in keys])


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on_left: str,
    on_right: str,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    (possibly streaming) fact frame. The static side is broadcast —
    stream-static joins never shuffle the stream and keep no state
    (each micro-batch probes the dim hash table); the same plan on a
    batch frame is an ordinary broadcast hash join."""
    d = dim.select(
        F.col(on_right).alias("__dimkey"),
        *[F.col(c) for c in dim_cols],
    )
    return stream.join(
        F.broadcast(d), stream[on_left] == F.col("__dimkey"), "left"
    ).drop("__dimkey")


def redact_stream(df: DataFrame, text_col: str = "text") -> DataFrame:
    """In-flight PII redaction — the curation stage applied on the
    stream path: per-pattern match counts plus the redacted text,
    via the same functions/text.redact_pii / pii_counts expressions
    the batch pii_redact query uses.  STATELESS (a pure projection):
    streaming-legal with no watermark, no state store, and identical
    semantics to the batch form by construction — at 100 TB this runs
    as a map over micro-batches with zero shuffle.

    Idempotent under re-application: any pre-existing output columns
    (``n_{pattern}s`` counts, ``redacted_text``) are dropped first, so
    re-running the stage — or feeding it a stream that already carries
    those names — recomputes them instead of emitting duplicate
    (ambiguous) columns."""
    from hadoop_20_warehouse_spark.functions import text as T

    emitted = [f"n_{name}s" for name, _pat, _ph in T.PII_PATTERNS]
    df = df.drop(*emitted, "redacted_text")
    return df.select(
        "*",
        *T.pii_counts(F.col(text_col)),
        T.redact_pii(F.col(text_col)).alias("redacted_text"),
    )


def budget_admit_stream(
    df: DataFrame,
    budgets: dict[str, int],
    domain_col: str = "source",
    id_col: str = "doc_id",
    weight_col: str = "tok_len",
    order_col: str = "order_key",
):
    """Online domain-budget admission — the STREAMING twin of
    dedup/spans.mixture_sample: admit each arriving doc while its
    domain's cumulative token count is still under budget, carrying
    the running count across micro-batches in per-domain state
    (applyInPandasWithState).  The batch fixpoint is mixture_sample
    itself (sharded cumsum + broadcast offsets); this operator exists
    for ingest-time admission where the corpus arrives as a stream and
    the budget gate must decide immediately.

    Determinism contract: admission is ORDER-SENSITIVE, so the caller
    supplies ``order_col`` (any sortable key; mixture_sample's
    canonical order is (shard, md5(id), id)) and the operator sorts
    the WHOLE micro-batch group by it in one pass (the runtime
    delivers the group as multiple Arrow chunks; sorting per chunk
    would interleave).  When micro-batch boundaries
    respect that order (a replay of a canonically-ordered log), the
    admitted set is bit-identical to mixture_sample's — pinned by
    tests/test_streaming.py.  Under arbitrary arrival order the
    admitted set is arrival-prefix semantics, which is the point of an
    online gate.

    Output: (id_col, domain_col, weight_col, start_off) for ADMITTED
    docs only; ``start_off`` is the domain's cumulative token count
    before the doc.  State is ONE long per domain — O(domains), the
    smallest possible streaming state."""
    # output types follow the input schema (ids are often strings —
    # URLs, content hashes — not just longs)
    id_t = df.schema[id_col].dataType.simpleString()
    w_t = df.schema[weight_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_t}, {domain_col} string, {weight_col} {w_t}, "
        "start_off long"
    )
    if not df.isStreaming:
        raise ValueError(
            "budget_admit_stream is the streaming path; the batch "
            "fixpoint is dedup/spans.mixture_sample"
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ic, dc, wc, oc = id_col, domain_col, weight_col, order_col

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        used = state.get[0] if state.exists else 0
        budget = budgets.get(key[0], 0)
        # ONE sort over the whole micro-batch group: the runtime hands
        # the group as an iterator of Arrow chunks (split at
        # maxRecordsPerBatch and across shuffle-fetch order), and
        # chunk-wise sorting would interleave out of order for any
        # group larger than one chunk.
        pdf = _pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(oc, ignore_index=True)
            w = pdf[wc].astype("int64")
            start = used + w.cumsum().shift(fill_value=0)
            mask = start < budget
            used += int(w.sum())
            if mask.any():
                out = pdf.loc[mask, [ic, wc]].copy()
                out.insert(1, dc, key[0])
                out["start_off"] = start[mask].astype("int64")
                state.update((used,))
                yield out
                return
        state.update((used,))

    return (
        df.filter(F.col(domain_col).isin(*budgets.keys()))
        .groupBy(domain_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="used long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def weighted_sample_stream(
    df: DataFrame,
    k: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    key_col: str = "skey",
    payload_cols: tuple[str, ...] = ("source", "wt"),
):
    """Streaming weighted reservoir — the stream twin of the batch
    ``corpus_weighted_sample`` (Efraimidis-Spirakis: the K largest
    ln(u)/w keys ARE a weight-proportional sample without replacement,
    and the key is a deterministic per-item score, so top-K-by-key is
    computable online).  The caller computes ``key_col`` with the same
    JVM expressions as the batch query (md5-derived u, ln(u)/w rounded
    to 6); this operator maintains per-SHARD top-K state
    (applyInPandasWithState keyed on md5_bucket(id, n_shards)) and
    emits a row the moment it enters its shard's top-K.

    Contract: the final global sample = ``ORDER BY skey DESC, id
    LIMIT k`` over ALL emitted rows.  Exactness: every true global
    top-K item is in some shard's top-K at arrival time (if k items
    of its shard already ranked above it, those k alone push it out
    of the global top-K), so it is emitted; later evictions only add
    rows that rank BELOW survivors, which the final LIMIT discards.
    Pinned against the batch query by tests/test_streaming.py.

    State is (skeys, ids) arrays of ≤ k entries per shard — O(shards
    × k), independent of stream length."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hadoop_20_warehouse_spark.functions.hashing import md5_bucket

    if not df.isStreaming:
        raise ValueError(
            "weighted_sample_stream is the streaming path; the batch "
            "fixpoint is the corpus_weighted_sample query form"
        )
    id_t = df.schema[id_col].dataType.simpleString()
    payload_t = {c: df.schema[c].dataType.simpleString() for c in payload_cols}
    out_schema = ", ".join(
        [f"{id_col} {id_t}"]
        + [f"{c} {t}" for c, t in payload_t.items()]
        + [f"{key_col} double"]
    )
    ic, kc = id_col, key_col

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        cur_sk, cur_id = (
            (list(state.get[0]), list(state.get[1]))
            if state.exists
            else ([], [])
        )
        pdf = _pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            # candidate pool = held state entries + this batch's rows,
            # ranked by (key desc, id asc) — one sort over the whole
            # group (chunk-wise handling would mis-admit, same contract
            # as budget_admit_stream)
            # dedupe by id BEFORE trimming (state copy wins — a doc
            # re-delivered at-least-once must not occupy two reservoir
            # slots and evict a distinct top-K member, nor re-emit;
            # the _new ascending tiebreak puts the held copy first for
            # drop_duplicates; r7 review)
            pool = (
                _pd.DataFrame(
                    {
                        kc: cur_sk + pdf[kc].tolist(),
                        ic: cur_id + pdf[ic].tolist(),
                        "_new": [False] * len(cur_sk) + [True] * len(pdf),
                    }
                )
                .sort_values(
                    [kc, ic, "_new"],
                    ascending=[False, True, True],
                    ignore_index=True,
                )
                .drop_duplicates(subset=[ic], keep="first")
                .head(k)
            )
            state.update((pool[kc].tolist(), pool[ic].tolist()))
            admitted = set(pool.loc[pool["_new"], ic])
            if admitted:
                # same-batch duplicate rows of an admitted id emit once
                out = pdf[pdf[ic].isin(admitted)].drop_duplicates(
                    subset=[ic]
                )
                yield out[[ic, *payload_cols, kc]]
        else:
            state.update((cur_sk, cur_id))

    return (
        df.withColumn("_shard", md5_bucket(F.col(id_col), n_shards))
        .groupBy("_shard")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=f"skeys array<double>, ids array<{id_t}>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def heavy_hitters_stream(
    df: DataFrame,
    capacity: int,
    key_col: str = "key",
    n_shards: int = 8,
):
    """Streaming heavy hitters — SpaceSaving summaries (Metwally,
    Agrawal, El Abbadi 2005) with WEIGHTED batch updates, keyed into
    ``n_shards`` shards so every occurrence of a key lands in one
    shard's summary.  State per shard is three parallel arrays
    (keys, count estimates, error bounds) hard-capped at ``capacity``
    entries — O(shards × capacity) total, independent of both stream
    length and key cardinality, which is the point: an exact
    per-key count state (what a naive groupBy-count stream keeps)
    grows with distinct keys and a 100 TB ingest has billions.

    SpaceSaving contract, per shard: any key whose true count exceeds
    (shard stream length / capacity) is IN the summary; each summary
    count over-estimates by at most its err_bound (the evicted
    minimum the key inherited).  Batch-weighted updates (insert a
    key's whole micro-batch count at once, evicting the current
    minimum) preserve both guarantees — the weighted generalization
    of the per-item algorithm.

    Emission (append mode): after each micro-batch a shard emits its
    full current summary (key, count_est, err_bound).  A key's
    estimates are monotone over time, so the consolidated answer is
    ``MAX(count_est), MAX(err_bound)`` per key over all emitted rows
    (pinned against exact batch counts in tests/test_streaming.py).

    The per-insert minimum scan is O(capacity) — fine at summary
    sizes; a production port swaps the dict for the paper's
    min-heap + linked counts ("stream-summary") without changing the
    contract."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hadoop_20_warehouse_spark.functions.hashing import md5_bucket

    if not df.isStreaming:
        raise ValueError(
            "heavy_hitters_stream is the streaming path; the batch "
            "fixpoint is a groupBy().count() top-k"
        )
    key_t = df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_t}, count_est long, err_bound long"
    kc = key_col

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        if state.exists:
            summary = {
                k: [c, e]
                for k, c, e in zip(state.get[0], state.get[1], state.get[2])
            }
        else:
            summary = {}
        pdf = _pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            for k, n in pdf[kc].value_counts().items():
                n = int(n)
                if k in summary:
                    summary[k][0] += n
                elif len(summary) < capacity:
                    summary[k] = [n, 0]
                else:
                    mk = min(summary, key=lambda x: summary[x][0])
                    mc = summary[mk][0]
                    del summary[mk]
                    summary[k] = [mc + n, mc]
            state.update(
                (
                    list(summary),
                    [v[0] for v in summary.values()],
                    [v[1] for v in summary.values()],
                )
            )
            yield _pd.DataFrame(
                {
                    kc: list(summary),
                    "count_est": [v[0] for v in summary.values()],
                    "err_bound": [v[1] for v in summary.values()],
                }
            )
        else:
            state.update(
                (
                    list(summary),
                    [v[0] for v in summary.values()],
                    [v[1] for v in summary.values()],
                )
            )

    return (
        df.withColumn("_shard", md5_bucket(F.col(key_col), n_shards))
        .groupBy("_shard")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=(
                f"keys array<{key_t}>, counts array<long>, errs array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def neardup_alert_stream(
    df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_agree: int = 4,
) -> DataFrame:
    """Ingest-time near-dup alerts against a PERSISTED MinHash index —
    the streaming twin of dedup_minhash_index_delta's probe: each
    arriving doc is signed ROW-LOCALLY (minhash_signature_rowlocal —
    one Arrow-batched mapInArrow worker, streaming-legal; its scatter
    passes a streaming frame through and spreads only a narrow batch
    one), its band rows (band_rows) carry the signature on every row
    (so verification needs no re-join against the stream side — a
    stream self-join would be a stream-stream join), then ONE
    stream-static equi-join on (band_idx, band_hash) against the
    DENORMALIZED index (base_id, band digests, base signature), the
    integer agreement computed inline, and verified hits emitted as
    (id, base_id, est_jaccard) alerts.  ``dropDuplicates`` removes the
    band multiplicity (a pair found by two bands alerts once) — the
    one stateful op, same contract as dedup_events.

    ``index``: the denormalized static frame — join the artifact's
    bands and signatures tables on the base id at load (batch-side,
    O(index)).  Columns: band_idx, band_hash, base_id, b0..b{k-1}.

    Scale shape: signing is zero-shuffle; the probe cost is
    proportional to the ARRIVING batch (4 band rows/doc) against a
    parquet-backed static side; state is the emitted-alert dedup
    keys only."""
    from hadoop_20_warehouse_spark.dedup import minhash as MH

    k = MH.DEFAULT_N_HASHES
    sig = MH.minhash_signature_rowlocal(df, id_col, text_col)
    banded = MH.band_rows(sig)
    agree = sum(
        F.when(F.col(f"m{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(k)
    ).cast("int")
    return (
        banded.join(index, on=["band_idx", "band_hash"])
        .select(
            F.col(id_col),
            F.col("base_id"),
            agree.alias("agree"),
        )
        .filter(F.col("agree") >= min_agree)
        .select(
            id_col,
            "base_id",
            (F.col("agree").cast("double") / k).alias("est_jaccard"),
        )
        .dropDuplicates([id_col, "base_id"])
    )


def change_detect_stream(
    df,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    watermark: str = "2 hours",
):
    """CDC change detection: emit only the rows that CHANGE a key's
    state — the streaming front end of the SCD2 family (operators/
    scd.py): what this emits is exactly the change log scd2_build
    collapses to, so ingest-time detection + scd2_apply_delta is a
    complete streaming dimension-maintenance loop.

    Batch fallback (unified API, oracle-checkable): the same lag
    filter scd2_build runs — keep a row iff its state differs
    null-safely from the key's previous row in (ts, tiebreak) order.

    Stream path: applyInPandasWithState keyed on ``key_col``, state =
    the key's last seen (state, ts) — O(1) per key, bounded by key
    cardinality (the stored last_ts is the hook for EventTimeTimeout
    eviction in a long-lived deployment; like the module's other
    stateful ops this uses NoTimeout, keeping replay determinism).
    Rows are sorted by (ts, tiebreak) INSIDE each micro-batch;
    ACROSS batches the operator assumes per-key event-time order
    (the Kafka-partition / CDC-log delivery contract).  A row that
    confirms the current state updates the stored ts (so staleness
    eviction works) but emits nothing.

    The user function is self-contained (local imports only) so it
    ships by value to Python workers."""
    out_schema = (
        f"{key_col} long, state string, ts string, {tiebreak_col} long"
    )
    if not df.isStreaming:
        from pyspark.sql import Window as _W

        w = _W.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
        prev = F.lag(F.col(state_col)).over(w)
        prev_n = F.lag(F.lit(1)).over(w)  # null only on the first row
        return (
            df.withColumn("_prev", prev)
            .withColumn("_first", prev_n.isNull())
            .filter(
                F.col("_first")
                | ~F.col(state_col).eqNullSafe(F.col("_prev"))
            )
            .select(
                key_col,
                F.col(state_col).alias("state"),
                F.date_format(ts_col, TS_FMT).alias("ts"),
                tiebreak_col,
            )
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    kc, sc, tc, bc = key_col, state_col, ts_col, tiebreak_col

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        if state.exists:
            have, last_state, last_ts = state.get
        else:
            have, last_state, last_ts = False, None, None
        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values([tc, bc])
            for _, row in pdf.iterrows():
                cur = row[sc]
                cur = None if _pd.isna(cur) else cur
                if (not have) or (cur != last_state):
                    out_rows.append(
                        (
                            key[0],
                            cur,
                            _pd.Timestamp(row[tc]).strftime(
                                "%Y-%m-%d %H:%M:%S.%f"
                            ),
                            int(row[bc]),
                        )
                    )
                have, last_state = True, cur
                last_ts = row[tc]
        state.update((have, last_state, last_ts))
        yield _pd.DataFrame(
            out_rows, columns=[kc, "state", "ts", bc]
        )

    df = _maybe_watermark(df, ts_col, watermark)
    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="have boolean, last_state string, last_ts timestamp",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
