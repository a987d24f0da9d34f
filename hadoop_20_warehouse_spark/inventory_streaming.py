"""Inventory: streaming-extension operators (SURVEY.md §2.9 — no
reference counterpart; the reference is batch-only).

Each entry runs the SAME function a streaming job would use
(streaming/windows.py, or functions/text.classifier_scores for the
classifier gate; unified batch/stream API) on the batch tables, so
the DuckDB oracle can check the event-time semantics; the
incremental/watermark path of the identical plans is exercised by
tests/test_streaming.py with a real readStream → writeStream run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.functions import text as T
from hadoop_20_warehouse_spark.registry import register
from hadoop_20_warehouse_spark.streaming import windows as W


@register(
    "stream_tumbling_hourly",
    oracle="""
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""",
)
def q_stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows per event_type with exact value
    sums — ``window()`` epoch-aligned buckets."""
    ev = load_table(spark, sf_dir, "events")
    return W.tumbling_counts(ev, "ts", ["event_type"], "1 hour", value_col="value")


@register(
    "stream_sliding_30m",
    oracle="""
WITH starts AS (
  SELECT event_type,
         unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS w_start
  FROM events
)
SELECT event_type,
       strftime(w_start, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       COUNT(*) AS n_events
FROM starts
GROUP BY event_type, w_start
""",
)
def q_stream_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h length, 30m slide): every event lands in
    exactly two windows; the oracle enumerates both bucket starts."""
    ev = load_table(spark, sf_dir, "events")
    return W.sliding_counts(ev, "ts", ["event_type"], "1 hour", "30 minutes")


@register(
    "stream_sessions",
    oracle=W.session_windows_sql("events", "ts", ["user_id"], 30),
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap
    (``session_window``); oracle is the classic gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    return W.session_windows(ev, "ts", ["user_id"], "30 minutes")


@register(
    "stream_dedup_first",
    oracle="""
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
       event_id AS first_event_id
FROM (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch form of streaming dedup: first event per
    (user, event_type) by event time (streaming/windows.py
    dedup_events; the stream path is dropDuplicates under watermark)."""
    ev = load_table(spark, sf_dir, "events")
    out = W.dedup_events(
        ev, ["user_id", "event_type"], "ts", tiebreak_cols=["event_id"]
    )
    return out.select(
        "user_id",
        "event_type",
        F.date_format("ts", W.TS_FMT).alias("first_ts"),
        F.col("event_id").alias("first_event_id"),
    )


@register(
    "stream_running_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events GROUP BY user_id
""",
)
def q_stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState — per-key
    running stats across micro-batches; streaming/windows.py
    running_user_stats). The batch form here is the oracle-checkable
    fixpoint; tests/test_streaming.py proves the incremental stateful
    run converges to the same answer."""
    ev = load_table(spark, sf_dir, "events")
    return W.running_user_stats(ev)


@register(
    "stream_interval_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
       CAST(p.value AS DOUBLE) AS purchase_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/windows.py
    interval_join): each click paired with same-user purchases within
    the next 10 minutes. Streaming path bounds join state via
    watermark + range condition; the batch fixpoint here is the
    oracle-checked plan (gap in exact microseconds)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    out = W.interval_join(clicks, purchases, keys=["user_id"], upper="10 minutes")
    return out.select(
        "user_id",
        F.col("event_id_l").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
        (F.unix_micros(F.col("ts_r")) - F.unix_micros(F.col("ts_l"))).alias("gap_us"),
        F.col("value_r").cast("double").alias("purchase_value"),
    )


@register(
    "stream_enrich_static",
    oracle="""
SELECT e.event_id, e.event_type, e.user_id, c.c_name, c.c_mktsegment,
       CAST(e.value AS DOUBLE) AS value
FROM events e
LEFT JOIN customer c ON c.c_custkey = e.user_id
""",
)
def q_stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming/windows.py enrich_stream):
    events enriched with broadcast customer attributes — on a stream
    this is the stateless per-micro-batch dim probe; here the batch
    fixpoint is oracle-checked."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    out = W.enrich_stream(
        ev, cust, on_left="user_id", on_right="c_custkey",
        dim_cols=["c_name", "c_mktsegment"],
    )
    return out.select(
        "event_id", "event_type", "user_id", "c_name", "c_mktsegment",
        F.col("value").cast("double").alias("value"),
    )


@register(
    "stream_distinct_users",
    oracle="""
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""",
)
def q_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per hourly window, streaming-legal
    construction (dropDuplicates under watermark → count;
    streaming/windows.tumbling_distinct_ids)."""
    ev = load_table(spark, sf_dir, "events")
    return W.tumbling_distinct_ids(ev, "ts", ["event_type"], "user_id", "1 hour")


def _stream_cls_oracle() -> str:
    from hadoop_20_warehouse_spark.inventory_curation import _CLS_SQL

    return _CLS_SQL


@register("stream_classifier_gate", oracle=_stream_cls_oracle())
def q_stream_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time quality admission with text_quality_classifier's own
    scorer (functions/text.classifier_scores): hashed bag-of-words
    logistic gating as a STATELESS stream plan — the documents join
    the one-row broadcast weight frame (a stream-static join on a
    readStream frame), tokens fold against it row-locally, and there
    is no watermark and no state store, so admission costs a map over
    micro-batches.  Registered on the batch table via the unified
    batch/stream API (this module's convention); the real readStream →
    writeStream replay is pinned stream == batch by
    tests/test_streaming.test_streaming_classifier_matches_batch.
    Same oracle as the batch query.  Unlike the batch query it does
    not scatter its input."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.classifier_scores(docs, "doc_id")


def _stream_tok_oracle() -> str:
    from hadoop_20_warehouse_spark.inventory_analytics import (
        _bpe_tokenize_oracle,
    )

    return _bpe_tokenize_oracle()


@register("stream_tokenize_bpe", oracle=_stream_tok_oracle())
def q_stream_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of tokenize_bpe (functions/bpe.
    tokenize_with_merges on the stream frame): BPE vocab-apply
    tokenization as a STATELESS stream projection — broadcast merge
    table, Arrow mapInPandas replay, no watermark or state store — the
    same pass the batch query runs, so ingest-time
    tokenization (the subword counts that admission/packing decisions
    consume on the stream path, e.g. budget_admit_stream) costs one
    map pass at any vocabulary size.  Registered on the batch table
    via the unified batch/stream API (this module's convention); the
    real readStream → writeStream replay is pinned stream == batch by
    tests/test_streaming.test_streaming_tokenize_matches_batch.  Same
    oracle as the batch tokenize_bpe query — the twin must reproduce
    the exact per-doc token streams (md5 digests), not just counts."""
    from hadoop_20_warehouse_spark.inventory_analytics import (
        _BPE_MAX_WORDS,
        _BPE_N_MERGES,
        _bpe_mod,
    )

    B = _bpe_mod()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = [
        tuple(r)
        for r in sorted(
            B.train_merges(
                docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
            ).collect()
        )
    ]
    return B.tokenize_with_merges(docs, merges)


def _stream_neardup_oracle() -> str:
    """Verified delta-vs-index pairs — the pair-level prefix of
    inventory_llm's _minhash_index_delta_oracle (the same candidate
    pairs from _minhash_delta_pairs_ctes, same >= 4/8 verify), emitted
    as (doc_id, base_id, est_jaccard) alerts."""
    from hadoop_20_warehouse_spark.dedup import minhash as MH
    from hadoop_20_warehouse_spark.inventory_llm import (
        _minhash_delta_pairs_ctes,
    )

    ctes, agree = _minhash_delta_pairs_ctes("doc_id")
    k = MH.DEFAULT_N_HASHES
    return f"""{ctes}
SELECT c.doc_id, c.base_id,
       CAST({agree} AS DOUBLE) / {k} AS est_jaccard
FROM cand c
JOIN sig_d sd ON sd.id = c.doc_id
JOIN sig_b sb ON sb.id = c.base_id
WHERE {agree} >= {MH.DEFAULT_N_HASHES // 2}
"""


@register("stream_neardup_alerts", oracle=_stream_neardup_oracle())
def q_stream_neardup_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup alerting against the persisted MinHash
    index (streaming/windows.neardup_alert_stream — the streaming twin
    of dedup_minhash_index_delta's probe): the existing corpus
    (doc_id % 10 != 0) is signed once and shipped as a parquet
    signatures+bands artifact; arriving docs (doc_id % 10 == 0) are
    signed row-locally, band-exploded WITH their signature carried on
    each band row (no stream self-join), probed through ONE
    stream-static equi-join against the denormalized index, verified
    on integer agreement (>= 4 of 8), and emitted as (doc_id, base_id,
    est_jaccard) alerts — dropDuplicates removes band multiplicity,
    the one stateful op.  Registered on the batch table via the
    unified batch/stream API (this module's convention); the real
    readStream → writeStream replay is pinned stream == batch by
    tests/test_streaming.test_streaming_neardup_matches_batch.  The
    oracle derives both corpora's signatures from scratch, so the
    hash also re-proves the artifact round-trip on this path."""
    from hadoop_20_warehouse_spark.dedup import minhash as MH
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    k = MH.DEFAULT_N_HASHES

    sig_b = MH.minhash_signature_rowlocal(base, "doc_id", "text")
    store = _fresh_subdir(_scratch_dir("minhash_stream_index"), "index")
    sig_b.write.parquet(store + "/signatures")
    bands_b = MH.band_signatures(sig_b, "doc_id")
    bands_b.write.parquet(store + "/bands")
    sigS = spark.read.schema(sig_b.schema).parquet(store + "/signatures")
    bandsS = spark.read.schema(bands_b.schema).parquet(store + "/bands")
    index = bandsS.join(sigS, on="doc_id").select(
        "band_idx",
        "band_hash",
        F.col("doc_id").alias("base_id"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)],
    )
    return W.neardup_alert_stream(delta, index)


@register(
    "stream_scd2_changes",
    oracle="""
SELECT user_id, state,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       event_id
FROM (
  SELECT user_id, event_type AS state, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS _prev,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS _rn
  FROM events
) WHERE _rn = 1 OR state IS DISTINCT FROM _prev
""",
)
def q_stream_scd2_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change detection — the streaming front end of the SCD2
    family (streaming/windows.change_detect_stream): emit only the
    rows that CHANGE a user's state, i.e. exactly the change log
    scd2_build collapses to, so ingest-time detection feeding
    scd2_apply_delta closes the streaming dimension-maintenance loop.
    Batch form here is the oracle-checkable lag filter; the real
    readStream replay (per-key last-state in applyInPandasWithState,
    O(keys) state) is pinned stream == batch in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return W.change_detect_stream(ev)


_CDC_LOOP_CUT = "2024-01-21 00:00:00"


@register(
    "stream_cdc_merge_loop",
    oracle=f"""
SELECT user_id, state FROM (
  SELECT user_id, event_type AS state,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND state <> 'error'
""",
)
def q_stream_cdc_merge_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming dimension-maintenance loop CLOSED end-to-end and
    hash-pinned by one identity: a current-state user table built at
    a day-20 cut is maintained by (1) CDC change DETECTION over the
    post-cut stream (streaming/windows.change_detect_stream — the
    applyInPandasWithState front end, batch form here; the stream ==
    batch pin lives in tests/test_streaming.py) feeding (2) the
    latest-wins CDC MERGE (operators/cdc.merge_apply_changes), with a
    terminal 'error' state mapped to DELETE (account-teardown
    semantics).  The ORACLE computes the latest non-error state per
    user over the FULL log, so the hash proves
    merge(latest(prefix), detect(suffix)) == latest(full) — including
    the boundary case where a suffix's first row merely CONFIRMS the
    pre-cut state (detect emits it as a change; the merge replaces
    the row with identical values, a no-op the hash would catch if it
    weren't).

    Scale: detection is the keyed-state stream op (O(keys) state);
    the merge is one partial-aggregable election + anti join on the
    day's delta — the full composed daily load never rescans
    history."""
    from hadoop_20_warehouse_spark.operators.cdc import merge_apply_changes

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_CDC_LOOP_CUT).cast("timestamp")
    # snapshot at the cut: latest-wins current state with the same
    # delete rule (an account whose last pre-cut state is 'error' is
    # absent) — one partial-aggregable election, no window
    pre = ev.filter(F.col("ts") < cut)
    snap = (
        pre.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ts"),
                    F.col("event_id"),
                    F.col("event_type").alias("st"),
                )
            ).alias("_w")
        )
        .select("user_id", F.col("_w.st").alias("state"))
        .filter(F.col("state") != "error")
    )
    detected = W.change_detect_stream(ev.filter(F.col("ts") >= cut))
    changes = detected.select(
        "user_id",
        F.when(F.col("state") == "error", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        "ts",
        "event_id",
        "state",
    )
    return merge_apply_changes(
        snap, changes, key="user_id", cols=("state",),
        ts="ts", tiebreak=("event_id",),
    )
