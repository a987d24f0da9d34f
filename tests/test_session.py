"""scatter() contract (session.py): the NLineInputFormat analog must
spread narrow inputs, honor explicit partitioning, leave big/unknown
frames untouched via the STATS path (no driver-side plan compile), and
fall back to the RDD probe only on py4j failure — loudly."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

import pytest

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.session import (
    hint_broadcast_if_small,
    parse_byte_size,
    scatter,
)
from tests.conftest import SF_DIR


def test_scatter_spreads_single_split_input(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = scatter(docs, min_partitions=8)
    assert out.rdd.getNumPartitions() >= 8
    assert out.count() == docs.count()


def test_scatter_honors_explicit_repartition(spark):
    docs = load_table(spark, SF_DIR, "documents").repartition(3)
    assert scatter(docs, min_partitions=8) is docs


def test_scatter_passes_streaming_frame_through_silently(spark, caplog):
    """A streaming plan cannot be optimized outside writeStream, so
    scatter must not probe it: same frame back, nothing logged."""
    stream = spark.readStream.format("rate").load()
    with caplog.at_level(logging.DEBUG, "hadoop_20_warehouse_spark.session"):
        out = scatter(stream, min_partitions=8)
    assert out is stream
    assert not caplog.records, caplog.text


def _round_robin_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("RoundRobinPartitioning")


def test_scatter_honors_spread_below_narrow_nodes(spark):
    """A frame spread upstream stays spread through projections and
    mapInPandas: a second scatter returns its input, so the plan keeps
    exactly one round-robin exchange."""
    docs = load_table(spark, SF_DIR, "documents")
    up = scatter(docs, min_partitions=8)
    assert _round_robin_exchanges(up) == 1
    for nxt in (
        up.select("doc_id", F.upper("text").alias("text")),
        up.mapInPandas(lambda batches: batches, schema=docs.schema),
    ):
        out = scatter(nxt, min_partitions=8)
        assert out is nxt
        assert _round_robin_exchanges(out) == 1


def test_scatter_honors_hash_repartition_under_projection(spark):
    docs = load_table(spark, SF_DIR, "documents")
    keyed = docs.repartition(8, "doc_id").select(
        "doc_id", F.upper("text").alias("text")
    )
    assert scatter(keyed, min_partitions=16) is keyed


def test_scatter_stats_path_no_fallback(spark, caplog):
    """Scan, projection, filter, AND post-shuffle aggregate frames must
    all resolve through the plan-stats probe — zero fallback warnings.
    The post-shuffle case is the one the r1 fix left untested: its
    stats are estimates (or unknown = Long.Max -> treated large), and
    the probe must handle that without raising."""
    docs = load_table(spark, SF_DIR, "documents")
    frames = [
        docs,
        docs.select("doc_id", "lang"),
        docs.filter(F.col("doc_id") > 10),
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")),
        docs.join(docs.select("doc_id"), on="doc_id"),
    ]
    with caplog.at_level(logging.WARNING, "hadoop_20_warehouse_spark.session"):
        for f in frames:
            scatter(f)
    assert not [r for r in caplog.records if "scatter" in r.getMessage()], (
        caplog.text
    )


def test_scatter_fallback_fires_loudly_on_py4j_failure(spark, caplog):
    """If the py4j internals drift (queryExecution API change), scatter
    must pass the frame through UNTOUCHED and warn — there is no RDD
    fallback (``df.rdd`` compiles the plan driver-side on every call,
    the cost the stats probe exists to avoid; VERDICT r5), and the
    unknown-width case is defined as large ⇒ pass through."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")

    class _Broken:
        """Fails the stats probe (queryExecution) but delegates the
        rest, like a partial py4j API drift would."""

        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name == "queryExecution":
                raise RuntimeError("simulated py4j drift")
            return getattr(self._real, name)

    real = docs._jdf
    docs._jdf = _Broken(real)
    try:
        with caplog.at_level(
            logging.WARNING, "hadoop_20_warehouse_spark.session"
        ):
            out = scatter(docs, min_partitions=8)
    finally:
        docs._jdf = real
    assert [r for r in caplog.records if "passing it through" in r.getMessage()]
    assert out is docs


def test_parse_byte_size_accepts_spark_conf_forms():
    """Spark's autoBroadcastJoinThreshold accepts '10485760', '10MB',
    '10m', '1g' — int() alone raised on the suffixed forms and silently
    disabled the broadcast hint (ADVICE r3)."""
    assert parse_byte_size(10485760) == 10485760
    assert parse_byte_size("10485760") == 10485760
    assert parse_byte_size("10485760b") == 10485760
    assert parse_byte_size("10MB") == 10 * 1024**2
    assert parse_byte_size("10m") == 10 * 1024**2
    assert parse_byte_size(" 1G ") == 1024**3
    assert parse_byte_size("2k") == 2048
    with pytest.raises(ValueError):
        parse_byte_size("10 bananas")


def test_broadcast_hint_survives_suffixed_threshold_conf(spark, caplog):
    """With the conf set to a unit-suffixed value, the hint must still
    fire for a small frame (and not log the failure warning)."""
    nation = load_table(spark, SF_DIR, "nation")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
    try:
        with caplog.at_level(
            logging.WARNING, "hadoop_20_warehouse_spark.session"
        ):
            hinted = hint_broadcast_if_small(nation)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert not [
        r for r in caplog.records if "hint_broadcast" in r.getMessage()
    ], caplog.text
    plan = hinted._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" in plan or "UnresolvedHint" in plan


def test_broadcast_hint_probe_failure_is_loud(spark, caplog):
    """A py4j drift in the size probe must fall back unhinted AND warn
    (the silent-pass failure mode ADVICE r3 flagged)."""
    nation = load_table(spark, SF_DIR, "nation")

    class _Broken:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name == "queryExecution":
                raise RuntimeError("simulated py4j drift")
            return getattr(self._real, name)

    real = nation._jdf
    nation._jdf = _Broken(real)
    try:
        with caplog.at_level(
            logging.WARNING, "hadoop_20_warehouse_spark.session"
        ):
            out = hint_broadcast_if_small(nation)
    finally:
        nation._jdf = real
    assert out is nation
    assert [
        r for r in caplog.records if "hint_broadcast_if_small" in r.getMessage()
    ]


# --- generated-code cache ----------------------------------------------------

# perfbench's warehouse workload, listed here so this test does not
# depend on the benchmark's files.
_WAREHOUSE_QUERIES = (
    "pricing_summary",
    "scan_filter_sample",
    "wordcount",
    "monster_query",
    "grep_topk",
    "join_inner",
    "join_override",
    "aggregate_report",
    "value_histogram",
    "secondary_sort",
)


def test_codegen_cache_holds_a_warehouse_pass(spark):
    """A warehouse pass generates 125 classes; with Spark's default
    codegen cache of 100 entries the next pass compiled nearly all of
    them again.  The session's cache must hold them all, so a second pass
    compiles nothing."""
    import hadoop_20_warehouse_spark.inventory  # noqa: F401
    from hadoop_20_warehouse_spark.registry import QUERIES

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for _ in range(2):
        before = metric.METRIC_COMPILATION_TIME().getCount()
        for name in _WAREHOUSE_QUERIES:
            QUERIES[name](spark, SF_DIR).toPandas()
        compiles.append(metric.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiles[1] == 0, f"compiles per round: {compiles}"


# --- fair-scheduler pools (FB FairScheduler analog, SURVEY §4.2) -----------


def test_fair_pools_configured(spark):
    """The engine session must run FAIR scheduling with the GridMix
    job-class pools built from the allocation file — the reference's
    always-on FB FairScheduler posture (FairScheduler.java:57)."""
    from hadoop_20_warehouse_spark.session import FAIR_POOLS

    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FAIR"
    sc = spark.sparkContext._jsc.sc()
    for name in FAIR_POOLS:
        assert sc.getPoolForName(name).isDefined(), f"pool {name} missing"
    pool = sc.getPoolForName("small").get()
    assert pool.minShare() == FAIR_POOLS["small"][0]
    assert pool.weight() == FAIR_POOLS["small"][1]


def test_concurrent_pools_complete(spark):
    """Concurrent tenants in different pools must all complete with
    correct results, each thread's pool assignment isolated (pinned
    thread mode maps Python threads to JVM threads).  This is the
    GridMix trait the sequential bench never exercises: concurrent
    job mixes (GridMixRunner.java:106-279)."""
    import threading

    from hadoop_20_warehouse_spark.session import set_pool

    results: dict[str, int] = {}
    pools_seen: dict[str, str] = {}

    def tenant(pool: str, n: int) -> None:
        set_pool(spark, pool)
        try:
            pools_seen[pool] = spark.sparkContext.getLocalProperty(
                "spark.scheduler.pool"
            )
            results[pool] = (
                spark.range(n).selectExpr("sum(id) AS s").collect()[0].s
            )
        finally:
            set_pool(spark, None)

    threads = [
        threading.Thread(target=tenant, args=(p, n))
        for p, n in (("small", 1000), ("medium", 2000), ("large", 4000))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert results == {
        "small": 499500,
        "medium": 2 * 10**6 - 1000,
        "large": 8 * 10**6 - 2000,
    }
    assert pools_seen == {p: p for p in ("small", "medium", "large")}


def test_internal_persists_are_generation_bounded(spark, sf_dir):
    """Operators that persist frames consumed by their RETURNED lazy
    plan (LSH signatures, sign-buckets, IVF cells) cannot release the
    cache in-function — so repeated invocations must release the
    PRIOR invocation's generation instead of accumulating caches
    forever (session.persist_generation; the r6 mix_place leak class,
    closed library-wide)."""
    from hadoop_20_warehouse_spark.registry import QUERIES
    import hadoop_20_warehouse_spark.inventory  # noqa: F401
    import hadoop_20_warehouse_spark.inventory_llm  # noqa: F401

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    base = sc.getPersistentRDDs().size()
    for _ in range(5):
        QUERIES["dedup_embedding_cosine"](spark, sf_dir).count()
    grown = sc.getPersistentRDDs().size() - base
    # keep=2 generations x (buckets + vecs) = at most 4 live frames,
    # however many times the operator runs — never 5x2
    assert grown <= 4, f"persisted RDDs grew by {grown} over 5 invocations"
    spark.catalog.clearCache()


def test_persist_generation_eviction_warns_when_asked(spark, caplog):
    """Operators whose cache carries a contract stronger than speed
    (the pipe stderr spool's mapper-runs-once guarantee) pass
    warn_on_evict=True: dropping a generation past `keep` must emit a
    warning naming the tag, and the default (warn_on_evict=False)
    must stay silent (r7 ADVICE)."""
    import logging

    from hadoop_20_warehouse_spark.session import persist_generation

    with caplog.at_level(logging.WARNING, logger="hadoop_20_warehouse_spark.session"):
        for _ in range(3):
            persist_generation(
                "evict_warn_test", spark.range(3), keep=1, warn_on_evict=True
            )
    assert any("evict_warn_test" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="hadoop_20_warehouse_spark.session"):
        for _ in range(3):
            persist_generation("evict_quiet_test", spark.range(3), keep=1)
    assert not any("evict_quiet_test" in r.message for r in caplog.records)
    spark.catalog.clearCache()


def test_persist_generation_keeps_newest_cached_across_equal_plans(spark):
    """Spark caches semantically equal plans under ONE entry, so
    evicting an older generation of the same plan must not unpersist
    it: the newest generation stays cached after every call."""
    from hadoop_20_warehouse_spark.session import persist_generation

    spark.catalog.clearCache()
    for call in range(1, 5):
        newest = persist_generation(
            "same_plan_test", spark.range(7).selectExpr("id * 3 AS x"), keep=2
        )
        assert newest.storageLevel.useMemory or newest.storageLevel.useDisk, call
        assert newest.count() == 7
    spark.catalog.clearCache()


def test_fresh_subdir_generations_are_unique_and_bounded(tmp_path):
    """_fresh_subdir must hand out a UNIQUE path per invocation (two
    concurrent tenants of the same staging query must not clobber each
    other) while deleting generations beyond `keep` so disk stays
    bounded (r7 ADVICE)."""
    import os

    from hadoop_20_warehouse_spark.inventory_ext import _fresh_subdir

    parent = str(tmp_path)
    paths = []
    for _ in range(5):
        p = _fresh_subdir(parent, "gen_test", keep=2)
        os.makedirs(p)
        paths.append(p)
    assert len(set(paths)) == 5, "paths must be per-invocation unique"
    alive = [p for p in paths if os.path.isdir(p)]
    assert alive == paths[-2:], "only the newest keep=2 generations survive"
