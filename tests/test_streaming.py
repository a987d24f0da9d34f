"""Real Structured-Streaming end-to-end: the same functions the batch
inventory checks, driven incrementally (readStream → watermark →
writeStream memory sink, availableNow trigger) and compared to their
batch results."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.streaming import windows as W
from tests.conftest import SF_DIR, normalize


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Stage the events table as a multi-file parquet dir with µs
    timestamps (streaming source can't use the ns→long session conf
    trick mid-plan, so we materialize the normalized form)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(out, ignore_errors=True)
    ev = load_table(spark, SF_DIR, "events")
    # several files so availableNow processes multiple batches
    ev.repartition(4).write.mode("overwrite").parquet(out)
    return out


def _run_stream(spark, stream_df, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_matches_batch(spark, events_stream_dir):
    ev_batch = load_table(spark, SF_DIR, "events")
    schema = ev_batch.schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    got = _run_stream(
        spark,
        W.tumbling_counts(stream, "ts", ["event_type"], "1 hour", value_col="value"),
        "tumbling_stream",
    ).toPandas()
    want = W.tumbling_counts(
        ev_batch, "ts", ["event_type"], "1 hour", value_col="value"
    ).toPandas()
    assert normalize(got).equals(normalize(want))


def test_streaming_session_matches_batch(spark, events_stream_dir):
    ev_batch = load_table(spark, SF_DIR, "events")
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    got = _run_stream(
        spark,
        W.session_windows(stream, "ts", ["user_id"], "30 minutes"),
        "session_stream",
    ).toPandas()
    want = W.session_windows(ev_batch, "ts", ["user_id"], "30 minutes").toPandas()
    assert normalize(got).equals(normalize(want))


def test_streaming_dedup_bounded_state(spark, events_stream_dir):
    """dropDuplicates under watermark: row count equals the number of
    distinct keys (all events fit inside the watermark horizon here)."""
    ev_batch = load_table(spark, SF_DIR, "events")
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    deduped = W.dedup_events(
        stream, ["user_id", "event_type"], "ts", watermark="100 days"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) AS n FROM dedup_stream").collect()[0]["n"]
    want = ev_batch.select("user_id", "event_type").distinct().count()
    assert got == want


def test_stateful_running_stats_stream_matches_batch(spark, events_stream_dir):
    """applyInPandasWithState: the per-key running stats after draining
    the whole stream equal the batch aggregation (take each key's last
    update emitted across micro-batches)."""
    from pyspark.sql import Window as W_
    from pyspark.sql import functions as F2

    ev_batch = load_table(spark, SF_DIR, "events")
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    q = (
        W.running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.sql("SELECT * FROM stateful_stream")
    # last update per key = final running value (n_events is cumulative)
    w = W_.partitionBy("user_id").orderBy(F2.desc("n_events"))
    got = (
        updates.withColumn("rn", F2.row_number().over(w))
        .filter(F2.col("rn") == 1)
        .drop("rn")
        .toPandas()
    )
    want = W.running_user_stats(ev_batch).toPandas()
    assert normalize(got).equals(normalize(want))


def test_streaming_interval_join_matches_batch(spark, events_stream_dir):
    """Stream-stream interval join: two watermarked readStream sides,
    range-bounded state; append output after draining equals the batch
    fixpoint of the identical plan."""
    ev_batch = load_table(spark, SF_DIR, "events")
    schema = ev_batch.schema

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts"
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts", "value"
        )
        return clicks, purchases

    sc, sp = sides(spark.readStream.schema(schema).parquet(events_stream_dir))
    joined = W.interval_join(sc, sp, keys=["user_id"], upper="10 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("ijoin_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ijoin_stream").toPandas()
    bc, bp = sides(ev_batch)
    want = W.interval_join(bc, bp, keys=["user_id"], upper="10 minutes").toPandas()
    assert len(got) == len(want) > 0
    assert normalize(got).equals(normalize(want))


def test_streaming_enrich_static_matches_batch(spark, events_stream_dir):
    """Stream-static broadcast enrichment: stateless per-micro-batch
    dim probe equals the batch join."""
    ev_batch = load_table(spark, SF_DIR, "events")
    cust = load_table(spark, SF_DIR, "customer")
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)

    def enrich(df):
        return W.enrich_stream(
            df, cust, on_left="user_id", on_right="c_custkey",
            dim_cols=["c_name", "c_mktsegment"],
        ).select("event_id", "c_name", "c_mktsegment")

    q = (
        enrich(stream)
        .writeStream.format("memory")
        .queryName("enrich_stream_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM enrich_stream_q").toPandas()
    want = enrich(ev_batch).toPandas()
    assert len(got) == len(want) > 0
    assert normalize(got).equals(normalize(want))


def test_streaming_distinct_ids_matches_batch(spark, events_stream_dir):
    ev_batch = load_table(spark, SF_DIR, "events")
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    got = _run_stream(
        spark,
        W.tumbling_distinct_ids(stream, "ts", ["event_type"], "user_id", "1 hour"),
        "distinct_stream",
    ).toPandas()
    want = W.tumbling_distinct_ids(
        ev_batch, "ts", ["event_type"], "user_id", "1 hour"
    ).toPandas()
    assert normalize(got).equals(normalize(want))


def test_streaming_redaction_matches_batch(spark, tmp_path):
    """Stream-path curation: redact_stream over a file-source stream of
    the documents table must produce exactly the batch projection —
    stateless map, no watermark, no state store (plan-visible: the
    query finishes in one availableNow pass with no state rows)."""
    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.streaming.windows import redact_stream
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    # synthetic PII so the redaction path is actually exercised
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.1.2.3 call 555-0199"),
        ).alias("text"),
    )
    src = str(tmp_path / "docs_stream")
    aug.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(aug.schema).parquet(src)
    q = (
        redact_stream(stream)
        .writeStream.format("memory")
        .queryName("redacted_docs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_emails"], r["n_ips"], r["n_phones"], r["redacted_text"])
        for r in spark.sql("SELECT * FROM redacted_docs").collect()
    }
    want = {
        r["doc_id"]: (r["n_emails"], r["n_ips"], r["n_phones"], r["redacted_text"])
        for r in redact_stream(aug).collect()
    }
    assert got == want
    assert len(got) == docs.count()
    # every row was actually redacted
    assert all("[EMAIL]" in v[3] and "[IP]" in v[3] and "[PHONE]" in v[3]
               for v in got.values())


def test_streaming_budget_admission_matches_mixture(spark, tmp_path):
    """Online budget admission over an ordered replay must reproduce
    mixture_sample's admitted set EXACTLY, with the running count
    carried across micro-batches (three single-file triggers, so the
    crossing domain necessarily spans state updates)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.dedup.spans import mixture_sample
    from hadoop_20_warehouse_spark.functions.hashing import md5_bucket
    from hadoop_20_warehouse_spark.functions import text as T
    from hadoop_20_warehouse_spark.streaming.windows import budget_admit_stream
    from tests.conftest import SF_DIR

    budgets = {"src0": 300, "src1": 150}
    docs = load_table(spark, SF_DIR, "documents")
    want = {
        (r.doc_id, r.source): (r.tok_len, r.start_off)
        for r in mixture_sample(docs, budgets, n_shards=4).collect()
    }
    assert want, "mixture must admit something at this budget"

    # canonical replay: rows sorted by mixture's (shard, h, id) order,
    # split into three consecutive slices = three micro-batches
    staged = (
        docs.select(
            "doc_id",
            "source",
            T.token_count(F.col("text")).alias("tok_len"),
            md5_bucket(F.col("doc_id"), 4).cast("long").alias("shard"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .withColumn(
            "order_key",
            F.concat_ws(
                "#",
                F.lpad(F.col("shard").cast("string"), 2, "0"),
                "h",
                F.lpad(F.col("doc_id").cast("string"), 12, "0"),
            ),
        )
        .select("doc_id", "source", "tok_len", "order_key")
        .orderBy("order_key")
        .toPandas()
    )
    src = str(tmp_path / "admit_stream")
    os.makedirs(src)
    n = len(staged)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        part = staged.iloc[lo : lo + (n + 2) // 3]
        pq.write_table(pa.Table.from_pandas(part), f"{src}/b{i}.parquet")
        time.sleep(0.05)

    stream = spark.readStream.schema(
        "doc_id long, source string, tok_len long, order_key string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    # force each group to arrive as MULTIPLE small Arrow chunks: the
    # operator must sort the whole group once, not per chunk (chunk-
    # wise sorting interleaves and silently mis-admits)
    prior = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        q = (
            budget_admit_stream(stream, budgets)
            .writeStream.format("memory")
            .queryName("admitted_docs")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prior)
    got = {
        (r.doc_id, r.source): (r.tok_len, r.start_off)
        for r in spark.sql("SELECT * FROM admitted_docs").collect()
    }
    assert got == want


def test_streaming_budget_admission_state_stays_o_domains(spark, tmp_path):
    """State-size stability under sustained load: pump many
    micro-batches of many rows through budget_admit_stream and assert
    the state store never holds more than ONE row per domain — the
    operator's O(domains) claim, measured from the engine's own
    stateOperators progress metrics rather than asserted.  (A naive
    stateful dedup/admission keeps O(rows) state and this metric
    grows monotonically with input; here it must plateau at
    n_domains immediately and stay there.)"""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_warehouse_spark.streaming.windows import budget_admit_stream

    domains = ["srcA", "srcB", "srcC"]
    budgets = {d: 200 for d in domains}
    src = str(tmp_path / "state_stream")
    os.makedirs(src)
    n_batches, rows_per_batch = 6, 300
    for b in range(n_batches):
        ids = range(b * rows_per_batch, (b + 1) * rows_per_batch)
        pdf = pd.DataFrame(
            {
                "doc_id": list(ids),
                "source": [domains[i % len(domains)] for i in ids],
                "tok_len": [5] * rows_per_batch,
                "order_key": [f"{i:012d}" for i in ids],
            }
        )
        pq.write_table(pa.Table.from_pandas(pdf), f"{src}/b{b}.parquet")

    stream = spark.readStream.schema(
        "doc_id long, source string, tok_len long, order_key string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        budget_admit_stream(stream, budgets)
        .writeStream.format("memory")
        .queryName("admit_state_probe")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    state_rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
        if p["numInputRows"] > 0
    ]
    assert state_rows, "no state metrics captured"
    assert max(state_rows) <= len(domains), (
        f"state must stay O(domains)={len(domains)}, saw {state_rows}"
    )
    # rows kept flowing: every domain filled exactly to its budget
    got = spark.sql(
        "SELECT source, sum(tok_len) AS t FROM admit_state_probe GROUP BY source"
    ).collect()
    assert {r.source: r.t for r in got} == {d: 200 for d in domains}


def test_streaming_weighted_sample_matches_batch(spark, tmp_path):
    """The streaming weighted reservoir over an ARBITRARY 3-batch
    replay must reproduce the batch Efraimidis-Spirakis top-K exactly
    (the key is deterministic per item, so the sample is order-free),
    with per-shard state bounded at k entries regardless of stream
    length."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.functions.hashing import es_sample_key
    from hadoop_20_warehouse_spark.functions import text as T
    from hadoop_20_warehouse_spark.streaming.windows import weighted_sample_stream
    from tests.conftest import SF_DIR

    K = 40
    docs = load_table(spark, SF_DIR, "documents")
    wt = F.greatest(T.token_count(F.col("text")), F.lit(1))
    staged = docs.select(
        "doc_id",
        "source",
        wt.cast("long").alias("wt"),
        es_sample_key("doc_id", wt).alias("skey"),
    )
    want = [
        (r.doc_id, r.source, r.wt, r.skey)
        for r in staged.orderBy(F.desc("skey"), "doc_id").limit(K).collect()
    ]

    # replay in 3 batches split by doc_id mod 3 — NOT skey order
    pdf = staged.toPandas()
    src = str(tmp_path / "wsample_stream")
    os.makedirs(src)
    for b in range(3):
        part = pdf[pdf.doc_id % 3 == b]
        pq.write_table(pa.Table.from_pandas(part), f"{src}/b{b}.parquet")

    stream = spark.readStream.schema(
        "doc_id long, source string, wt long, skey double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        weighted_sample_stream(stream, k=K, n_shards=8)
        .writeStream.format("memory")
        .queryName("wsample_emitted")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = [
        (r.doc_id, r.source, r.wt, r.skey)
        for r in spark.sql(
            f"SELECT * FROM wsample_emitted ORDER BY skey DESC, doc_id LIMIT {K}"
        ).collect()
    ]
    assert got == want

    # state stays O(shards): one state row per shard, never more
    state_rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
        if p["numInputRows"] > 0
    ]
    assert state_rows and max(state_rows) <= 8, state_rows


def test_streaming_weighted_sample_tolerates_redelivery(spark, tmp_path):
    """At-least-once delivery: the same doc arriving in two batches
    (and twice within one batch) must occupy ONE reservoir slot and be
    emitted once — duplicates must not evict a distinct top-K member
    (r7 review)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_warehouse_spark.streaming.windows import weighted_sample_stream

    K = 3
    # one shard so eviction pressure is real; skeys descend with doc_id
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "source": ["s"] * 5,
            "wt": [1] * 5,
            "skey": [-0.1, -0.2, -0.3, -0.4, -0.5],
        }
    )
    src = str(tmp_path / "redeliver")
    os.makedirs(src)
    # batch 0: docs 2,3,4 with doc 2 duplicated IN-batch
    pq.write_table(
        pa.Table.from_pandas(rows[rows.doc_id.isin([2, 3, 4])]
                             ._append(rows[rows.doc_id == 2])), f"{src}/b0.parquet")
    # batch 1: doc 2 RE-delivered + the true top doc 1 + doc 5
    pq.write_table(
        pa.Table.from_pandas(rows[rows.doc_id.isin([2, 1, 5])]), f"{src}/b1.parquet")

    stream = spark.readStream.schema(
        "doc_id long, source string, wt long, skey double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        weighted_sample_stream(stream, k=K, n_shards=1)
        .writeStream.format("memory")
        .queryName("wsample_redeliver")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM wsample_redeliver").collect()
    ids = [r.doc_id for r in emitted]
    assert ids.count(2) == 1, f"doc 2 emitted {ids.count(2)}x: {ids}"
    top = [r.doc_id for r in spark.sql(
        f"SELECT * FROM wsample_redeliver ORDER BY skey DESC, doc_id LIMIT {K}"
    ).collect()]
    assert top == [1, 2, 3]


def test_streaming_heavy_hitters_exact_when_capacity_suffices(spark, events_stream_dir):
    """With capacity >= distinct keys per shard there are no
    evictions: the consolidated summary must EQUAL the batch
    groupBy-count exactly, with every err_bound 0."""
    ev_batch = load_table(spark, SF_DIR, "events")
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    hh = W.heavy_hitters_stream(
        stream.select(F.col("user_id").alias("key")), capacity=100_000,
        key_col="key", n_shards=4,
    )
    q = (
        hh.writeStream.format("memory")
        .queryName("hh_exact_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM hh_exact_stream")
        .groupBy("key")
        .agg(F.max("count_est").alias("n"), F.max("err_bound").alias("e"))
        .toPandas()
    )
    want = (
        ev_batch.groupBy(F.col("user_id").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    assert (got["e"] == 0).all()
    g = got.set_index("key")["n"].sort_index()
    w = want.set_index("key")["n"].sort_index()
    assert g.astype("int64").equals(w.astype("int64"))


def test_streaming_heavy_hitters_bounds_under_eviction(spark, tmp_path):
    """Skewed stream with capacity << distinct keys: the SpaceSaving
    guarantees must hold — the hot key is present, its estimate
    brackets the true count (true <= est <= true + err), and state
    never exceeded capacity per shard (summary emissions are capped)."""
    import pandas as pd

    rows = [("hot",)] * 500 + [(f"cold{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "key string")
    d = str(tmp_path / "hhskew")
    df.repartition(4).write.parquet(d)
    stream = spark.readStream.schema("key string").parquet(d)
    hh = W.heavy_hitters_stream(stream, capacity=8, key_col="key", n_shards=1)
    q = (
        hh.writeStream.format("memory")
        .queryName("hh_skew_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = (
        spark.sql("SELECT * FROM hh_skew_stream")
        .groupBy("key")
        .agg(F.max("count_est").alias("n"), F.max("err_bound").alias("e"))
        .toPandas()
        .set_index("key")
    )
    # per-batch emissions are whole summaries: never more than capacity
    per_batch = spark.sql(
        "SELECT count(*) AS c FROM hh_skew_stream"
    ).toPandas()  # total rows <= batches * capacity, loose sanity below
    assert "hot" in out.index, "true heavy hitter evicted"
    n, e = int(out.loc["hot", "n"]), int(out.loc["hot", "e"])
    assert n >= 500, "SpaceSaving must over-estimate, never under"
    assert n - e <= 500, "est - err_bound must lower-bound the true count"
    assert int(per_batch.loc[0, "c"]) <= 8 * 16  # <= capacity x batches


def test_streaming_classifier_matches_batch(spark, tmp_path):
    """Stream-path quality gating: classifier_scores over a
    file-source replay of the documents table must equal the batch
    text_quality_classifier query row-for-row — stateless broadcast-
    weights inference, no watermark, no state store (the query
    finishes in one availableNow pass)."""
    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.inventory_curation import (
        q_text_quality_classifier,
    )
    from hadoop_20_warehouse_spark.functions.text import classifier_scores
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_cls_stream")
    docs.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        classifier_scores(stream, "doc_id")
        .writeStream.format("memory")
        .queryName("cls_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_tokens"], r["raw_milli"], r["score"], r["keep"])
        for r in spark.sql("SELECT * FROM cls_gate").collect()
    }
    want = {
        r["doc_id"]: (r["n_tokens"], r["raw_milli"], r["score"], r["keep"])
        for r in q_text_quality_classifier(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_tokenize_matches_batch(spark, tmp_path):
    """Stream-path tokenization: tokenize_with_merges over a
    file-source replay of the documents table must equal the batch BPE
    apply row-for-row (stateless broadcast-vocabulary projection, one
    availableNow pass, merge-count-independent)."""
    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.functions import bpe as B
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    merges = [
        tuple(r) for r in sorted(B.train_merges(docs, n_merges=12).collect())
    ]
    src = str(tmp_path / "docs_tok_stream")
    docs.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        B.tokenize_with_merges(stream, merges)
        .writeStream.format("memory")
        .queryName("tok_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["bpe_len"], r["tok_digest"])
        for r in spark.sql("SELECT * FROM tok_stream").collect()
    }
    want = {
        r["doc_id"]: (r["bpe_len"], r["tok_digest"])
        for r in B.tokenize_with_merges(docs, merges).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_neardup_matches_batch(spark, tmp_path):
    """Stream-path near-dup alerting: neardup_alert_stream over a
    file-source replay of the delta slice, probing the SAME persisted
    index the batch query builds, must equal the batch
    stream_neardup_alerts result as a set of (doc_id, base_id, est)
    alerts — one stream-static join; dropDuplicates is the only
    stateful op (availableNow finishes in one pass)."""
    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.dedup import minhash as MH
    from hadoop_20_warehouse_spark.inventory_streaming import (
        q_stream_neardup_alerts,
    )
    from hadoop_20_warehouse_spark.streaming.windows import (
        neardup_alert_stream,
    )
    from tests.conftest import SF_DIR

    want = {
        (r["doc_id"], r["base_id"], r["est_jaccard"])
        for r in q_stream_neardup_alerts(spark, SF_DIR).collect()
    }

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    k = MH.DEFAULT_N_HASHES
    sig_b = MH.minhash_signature_rowlocal(base, "doc_id", "text")
    index = MH.band_signatures(sig_b, "doc_id").join(sig_b, on="doc_id").select(
        "band_idx",
        "band_hash",
        F.col("doc_id").alias("base_id"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)],
    )
    src = str(tmp_path / "delta_stream")
    delta.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(delta.schema).parquet(src)
    q = (
        neardup_alert_stream(stream, index)
        .writeStream.format("memory")
        .queryName("neardup_alerts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["base_id"], r["est_jaccard"])
        for r in spark.sql("SELECT * FROM neardup_alerts").collect()
    }
    assert got == want and len(got) > 0


def test_streaming_change_detect_matches_batch(spark, tmp_path):
    """CDC change detection: change_detect_stream over a file-source
    replay of the events table must equal the batch lag filter
    row-for-row — per-key last-state in applyInPandasWithState, rows
    sorted by event time inside each batch.  The replay partitions
    rows by TIME SLICE (per-key order preserved across batches — the
    CDC-log delivery contract the operator documents)."""
    from hadoop_20_warehouse_spark.catalog import load_table
    from hadoop_20_warehouse_spark.streaming.windows import (
        change_detect_stream,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    src = str(tmp_path / "events_cdc_stream")
    # time-sliced files, ONE file per slice: cross-batch arrival stays
    # per-key ordered (the CDC-log delivery contract)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 3
    for i in range(3):
        a = lo + i * step
        b = hi if i == 2 else lo + (i + 1) * step
        sl = ev.filter(
            (F.col("ts") >= F.lit(a))
            & (F.col("ts") <= F.lit(b) if i == 2 else F.col("ts") < F.lit(b))
        )
        sl.coalesce(1).write.parquet(src + f"/slice{i}")

    stream = spark.readStream.schema(
        ev.schema
    ).option("maxFilesPerTrigger", "1").parquet(src + "/slice*")
    q = (
        change_detect_stream(stream)
        .writeStream.format("memory")
        .queryName("cdc_changes")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["event_id"]): (r["state"], r["ts"])
        for r in spark.sql("SELECT * FROM cdc_changes").collect()
    }
    want = {
        (r["user_id"], r["event_id"]): (r["state"], r["ts"])
        for r in change_detect_stream(ev).collect()
    }
    assert got == want and len(got) > 0
