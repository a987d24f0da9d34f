"""Inventory: external-process (Hadoop Streaming contract), multimodal
metadata, and text-format semantics (KeyValueTextInputFormat)."""

from __future__ import annotations

import os
import threading as _threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.multimodal.binary import (
    decode_meta,
    frame_sample_stub,
    frame_sample_stub_sql,
    resize_stub,
    resize_stub_sql,
)
from hadoop_20_warehouse_spark.operators import agg as AGG
from hadoop_20_warehouse_spark.operators import pipe as P
from hadoop_20_warehouse_spark.operators import sort as SORT
from hadoop_20_warehouse_spark.registry import register
# r18 optimization round: every per-row codec synthesis stage spreads
# its narrow input across the cluster first — a single-file parquet
# scan plans ONE task (measured: orders at sf0.1 = 1 partition), so an
# unscattered mapInPandas encode ran on 1 of 32 cores (guide §2.5
# input skew; the NLineInputFormat analog session.scatter exists for).
# Measured png 3.27→1.19 s, jpeg 4.51→1.19 s at sf0.1, hash-identical
# (row-local work, order-insensitive oracle).  At 100 TB scatter is a
# no-op: wide inputs pass through unshuffled.
from hadoop_20_warehouse_spark.session import scatter as _scatter


@register(
    "pipe_field_extract",
    oracle="""
SELECT CAST(o_orderkey AS VARCHAR) AS key, o_orderpriority AS value
FROM orders
""",
)
def q_pipe_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side external process (Streaming mapper contract,
    PipeMapper.map:84): rows piped tab-separated through ``cut -f1,3``,
    stdout split back into key/value on the separator
    (PipeMapRed.java:341-346)."""
    orders = load_table(spark, sf_dir, "orders")
    inp = orders.select(
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    out = P.pipe_map(inp, "cut -f1,3")
    return P.split_kv(out)


@register(
    "pipe_reduce_uniq",
    oracle="""
SELECT token AS key, COUNT(*) AS cnt
FROM (SELECT unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
""",
)
def q_pipe_reduce_uniq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce-side external process (Streaming reducer contract,
    PipeReducer.reduce:81): tokens co-located by key and sorted within
    each partition, then ``uniq -c`` — because repartition(key) sends
    every copy of a token to one partition, the per-partition counts
    are the global counts (exactly the reference's reducer guarantee)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    piped = P.pipe_reduce(toks, "uniq -c", ["token"])
    return piped.select(
        F.regexp_extract("line", r"^\s*(\d+)\s+(.*)$", 2).alias("key"),
        F.regexp_extract("line", r"^\s*(\d+)\s+(.*)$", 1).cast("long").alias("cnt"),
    )


@register(
    "pipe_combiner_wordcount",
    oracle="""
SELECT token AS key, COUNT(*) AS cnt
FROM (SELECT unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
""",
)
def q_pipe_combiner_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``-combiner`` path (StreamJob -combiner; combiner runs
    over each map partition's key-sorted stream BEFORE the shuffle):
    tokens → awk partial counts per input partition → shuffle on the
    leading key field → same awk as reducer over the co-located
    partials. Same totals as the reducer-only pipe_reduce_uniq, with
    shuffle volume |distinct tokens per partition| instead of
    |tokens|."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    agg_awk = (
        "awk -F'\\t' '{c[$1]+=($2==\"\"?1:$2)} END "
        '{for (t in c) printf "%s\\t%d\\n", t, c[t]}\''
    )
    out = P.pipe_reduce(toks, agg_awk, ["token"], combiner=agg_awk)
    kv = P.split_kv(out)
    return kv.select(F.col("key"), F.col("value").cast("long").alias("cnt"))


@register(
    "pipe_keyfield_partition",
    oracle="""
SELECT DISTINCT o_orderpriority AS key, o_orderstatus AS value FROM orders
""",
)
def q_pipe_keyfield_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyFieldBasedPartitioner + KeyFieldBasedComparator + external
    reducer: lines ``priority<TAB>status`` hash-partitioned on field 1
    (``-k1,1``, KeyFieldBasedPartitioner.java:43) and sorted within
    partitions on the full key (``-k1,1 -k2,2``,
    KeyFieldBasedComparator.java:46), then piped through ``uniq`` —
    per-partition adjacent dedup equals GLOBAL distinct because the
    partitioner co-locates every copy of a field-1 key and the
    comparator makes equal lines adjacent (the classic Streaming
    partition-on-prefix / compare-on-more config)."""
    orders = load_table(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat_ws(
            "\t", F.col("o_orderpriority"), F.col("o_orderstatus")
        ).alias("line")
    )
    parted = SORT.keyfield_partition(
        lines, "line", "-k1,1", sort_spec="-k1,1 -k2,2"
    )
    piped = P.pipe_map(parted, "uniq")
    return P.split_kv(piped)


@register(
    "pipe_stream_job_e2e",
    oracle="""
SELECT token AS key, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
UNION ALL
SELECT '__counter__:wc:map_lines', CAST(COUNT(*) AS BIGINT) FROM documents
""",
)
def q_pipe_stream_job_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE StreamJob wiring in one job (operators/pipe.py
    stream_job; StreamJob.java:457-486,725): an external awk mapper
    that tokenizes documents and reports a ``reporter:counter:`` line
    per input record on stderr, a ``-combiner`` summing counts over
    each map partition's output before the shuffle, the
    KeyFieldBasedPartitioner + comparator shuffle on the token key,
    and an external awk reducer producing global counts.  The output
    unions the reduced data with the aggregated counter total (one
    ``__counter__:wc:map_lines`` row == |documents|), so the oracle
    checks the data path AND the counter protocol in one row set."""
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(F.col("text"))
    mapper = (
        "awk '{for (i = 1; i <= NF; i++) printf \"%s\\t1\\n\", $i; "
        'print "reporter:counter:wc,map_lines,1" > "/dev/stderr"}\''
    )
    agg_awk = (
        "awk -F'\\t' '{c[$1]+=($2==\"\"?1:$2)} END "
        '{for (t in c) printf "%s\\t%d\\n", t, c[t]}\''
    )
    data, counters = P.stream_job(
        lines, mapper, agg_awk, combiner=agg_awk
    )
    kv = P.split_kv(data)
    counts = kv.select("key", F.col("value").cast("long").alias("cnt"))
    crows = counters.select(
        F.concat_ws(":", F.lit("__counter__"), "group", "name").alias("key"),
        F.col("amount").alias("cnt"),
    )
    return counts.unionByName(crows)


@register(
    "multimodal_meta",
    oracle="""
SELECT doc_id AS id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) % 1024 + 1 AS width,
       CAST('0x' || substring(md5(text), 16, 15) AS BIGINT) % 1024 + 1 AS height
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing (multimodal/binary.py): text bytes
    stood in for media payloads in a binary column, metadata extracted
    via Arrow-batched mapInPandas (byte length, digest, stub decode
    dims). The oracle reproduces the digest-derived fake dimensions."""
    docs = load_table(spark, sf_dir, "documents")
    with_bin = docs.select(
        F.col("doc_id"), F.col("text").cast("binary").alias("payload")
    )
    return decode_meta(with_bin, "doc_id", "payload")


@register(
    "multimodal_resize",
    oracle=resize_stub_sql("documents", "doc_id", "text"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-fit resize plumbing (multimodal/binary.py): stub-decoded
    dims, integer-exact fit math, fake resized digest — the per-image
    stage of an image-pipeline, Arrow-batched, shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    with_bin = docs.select(
        F.col("doc_id"), F.col("text").cast("binary").alias("payload")
    )
    return resize_stub(with_bin, "doc_id", "payload")


@register(
    "multimodal_frame_sample",
    oracle=frame_sample_stub_sql("documents", "doc_id", "text"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (multimodal/binary.py): UDTF-shaped
    mapInPandas emitting every 10th frame of a digest-derived fake
    video — the demux stage of a video pipeline, 1→N rows, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    with_bin = docs.select(
        F.col("doc_id"), F.col("text").cast("binary").alias("payload")
    )
    return frame_sample_stub(with_bin, "doc_id", "payload")


@register(
    "kv_text_split",
    oracle="""
WITH lines AS (
  SELECT o_orderstatus || chr(9) || o_orderpriority || chr(9) || CAST(o_custkey AS VARCHAR) AS line
  FROM orders
)
SELECT split_part(line, chr(9), 1) AS key,
       CASE WHEN strpos(line, chr(9)) > 0
            THEN substring(line, strpos(line, chr(9)) + 1)
            ELSE '' END AS value
FROM lines
""",
)
def q_kv_text_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyValueTextInputFormat semantics
    (mapred/KeyValueTextInputFormat.java:34): split each line at the
    FIRST separator only — key before, everything after (including
    further separators) is the value."""
    orders = load_table(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat_ws(
            "\t", F.col("o_orderstatus"), F.col("o_orderpriority"), F.col("o_custkey").cast("string")
        ).alias("line")
    )
    tab = F.lit("\t")
    has_tab = F.instr(F.col("line"), "\t") > 0
    return lines.select(
        F.substring_index(F.col("line"), "\t", 1).alias("key"),
        F.when(
            has_tab,
            F.expr("substring(line, instr(line, '\t') + 1)"),
        ).otherwise(F.lit("")).alias("value"),
    )


@register(
    "logalyzer_grep_sort",
    oracle="""
WITH lines AS (
  SELECT CAST(l_orderkey AS VARCHAR) || chr(9) || l_returnflag || chr(9) ||
         CAST(l_quantity AS VARCHAR) || chr(9) || l_linestatus AS line
  FROM lineitem
),
matched AS (SELECT line FROM lines WHERE regexp_matches(line, chr(9) || 'R' || chr(9)))
SELECT line FROM matched
ORDER BY CAST(string_split(line, chr(9))[3] AS DOUBLE) DESC,
         string_split(line, chr(9))[1] ASC
LIMIT 500
""",
)
def q_logalyzer_grep_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logalyzer (tools/Logalyzer.java:64-145): grep lines by regex,
    then sort by a chosen column with a separator
    (mapred.reducer.sort/separator) — filter + KeyField-style column
    sort, top 500 with orderkey tiebreak."""
    from hadoop_20_warehouse_spark.operators.sort import keyfield_sort_columns

    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.concat_ws(
            "\t",
            F.col("l_orderkey").cast("string"),
            F.col("l_returnflag"),
            F.col("l_quantity").cast("string"),
            F.col("l_linestatus"),
        ).alias("line")
    )
    matched = lines.filter(F.col("line").rlike("\tR\t"))
    cols = keyfield_sort_columns("line", "-k3,3nr -k1,1", "\t")
    return matched.orderBy(*cols).limit(500)


@register(
    "inverse_map",
    oracle="SELECT o_totalprice AS key, o_orderkey AS value FROM orders",
)
def q_inverse_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InverseMapper (mapred/lib/InverseMapper.java:33): (k,v)→(v,k) —
    a pure projection, zero shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_totalprice").alias("key"), F.col("o_orderkey").alias("value")
    )


@register(
    "agg_uniq_capped",
    oracle="""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
r AS (
  SELECT event_type, user_id,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(user_id AS VARCHAR)), user_id
         ) AS rn
  FROM d
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS uniq_capped,
       string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS uniq_members
FROM r WHERE rn <= 10 GROUP BY event_type
""",
)
def q_agg_uniq_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniqValueCount with the maxNumItems cap
    (lib/aggregate/UniqValueCount.java:30, cap at :81-85): the
    reference truncates the distinct SET by insertion order (not
    parallel-reproducible); we keep the bounded-memory contract but
    deterministically — cap winners are the N distinct values smallest
    by (md5(value), value), so count AND surviving members are
    parallel-reproducible and oracle-checked
    (operators/agg.uniq_value_count_capped)."""
    ev = load_table(spark, sf_dir, "events")
    return AGG.uniq_value_count_capped(ev, ["event_type"], "user_id", cap=10)


@register(
    "agg_uniq_approx",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_exact,
       true AS approx_within_5pct
FROM events GROUP BY event_type
""",
)
def q_agg_uniq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (approx_count_distinct / HyperLogLog++) —
    the bounded-memory mode of UniqValueCount for 100 TB cardinalities
    (the reference's maxNumItems cap is itself an approximation
    contract, lib/aggregate/UniqValueCount.java:36,51-68).

    The raw sketch estimate is engine-specific, so the oracle checks
    the estimate's INVARIANT instead (VERDICT r3): emit the exact
    distinct count (DuckDB-reproducible) plus a boolean asserting the
    HLL estimate lands within 5% relative error — far above HLL++'s
    documented ~1.6% standard error at the default precision, so the
    bound is safe at any cardinality.  A hash match therefore proves
    the sketch path actually ran AND estimated within contract."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("uniq_approx"),
            F.countDistinct("user_id").alias("uniq_exact"),
        )
        .select(
            "event_type",
            "uniq_exact",
            (
                F.abs(F.col("uniq_approx") - F.col("uniq_exact"))
                <= 0.05 * F.col("uniq_exact")
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "agg_percentile_approx",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       true AS within_rank_bound
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory percentiles (percentile_approx / Greenwald-
    Khanna) — the approximate counterpart of agg_quartiles the same
    way agg_uniq_approx complements exact distinct: at 100 TB an
    exact per-group median needs a per-group sort, while the GK
    sketch is one mergeable pass at a declared rank-error budget.

    The sketch value is engine-specific, so the oracle checks the
    INVARIANT (the agg_uniq_approx pattern): a second exact pass
    computes the returned value's RANK INTERVAL within its group —
    a value tied across many rows occupies every rank in
    [count(<v)+1, count(<=v)], so the check must accept the whole
    interval, not the single count(<=v) point (an all-equal group
    would otherwise fail on a correct answer; r7 review) — and a
    boolean pins that interval within n/accuracy + 1 of n/2, GK's
    documented guarantee at accuracy=1000.  A hash match proves the
    sketch path ran and met its rank contract in every group."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50"),
    )
    ranked = li.join(F.broadcast(stats), "l_returnflag").groupBy(
        "l_returnflag"
    ).agg(
        F.sum(
            (F.col("l_extendedprice") < F.col("p50")).cast("long")
        ).alias("rank_lo"),
        F.sum(
            (F.col("l_extendedprice") <= F.col("p50")).cast("long")
        ).alias("rank_hi"),
        F.first("n_rows").alias("n_rows"),
    )
    tol = F.col("n_rows") / 1000 + 1
    target = F.col("n_rows") / 2
    return ranked.select(
        "l_returnflag",
        "n_rows",
        (
            (target + tol >= F.col("rank_lo") + 1)
            & (target - tol <= F.col("rank_hi"))
        ).alias("within_rank_bound"),
    )


@register(
    "sketch_store_distinct",
    oracle="""
SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_exact,
       true AS merged_within_5pct
FROM events
""",
)
def q_sketch_store_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch STORE — the incremental form of approximate
    distinct counting that a warehouse actually operates: build one
    HLL sketch per day (Datasketches ``hll_sketch_agg``), persist the
    sketches as a tiny parquet table (binary column, one row per day),
    then answer "distinct users over ALL days" by UNIONING the stored
    sketches (``hll_union_agg``) — no rescan of the raw events.  This
    is UniqValueCount's contract (lib/aggregate/UniqValueCount.java:36)
    made incremental: yesterday's sketches never recompute, today's
    job adds one row, the union costs O(days × sketch_size).

    The sketch bytes are engine-specific, so (same as agg_uniq_approx,
    VERDICT r3) the oracle checks the INVARIANT: day count and exact
    distinct count (DuckDB-reproducible) plus a boolean pinning the
    merged estimate within 5% of exact — well above HLL's ~1.6%
    standard error at default precision.  A hash match proves the
    store round-trip (sketch → parquet → union) really ran and
    estimated within contract."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    path = _fresh_subdir(_scratch_dir("hllstore"), "daily")
    daily.write.parquet(path)
    stored = spark.read.parquet(path)
    merged = stored.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("uniq_approx"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("uniq_exact"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_days",
        "uniq_exact",
        (
            F.abs(F.col("uniq_approx") - F.col("uniq_exact"))
            <= 0.05 * F.col("uniq_exact")
        ).alias("merged_within_5pct"),
    )


_CM_D = 4  # hash rows
_CM_W = 64  # buckets per row
_CM_PROBES = 10

_CM_H = (
    "CAST('0x' || substring(md5('cm' || CAST({r} AS VARCHAR) || ':' "
    "|| CAST({key} AS VARCHAR)), 1, 15) AS BIGINT) % " + str(_CM_W)
)

_CM_SQL = f"""
WITH rs AS (SELECT unnest(generate_series(0, {_CM_D - 1})) AS r),
incs AS (
  SELECT rs.r, {_CM_H.format(r='rs.r', key='e.user_id')} AS bucket
  FROM events e CROSS JOIN rs
),
merged AS (
  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM incs GROUP BY r, bucket
),
probes AS (
  SELECT user_id FROM (SELECT DISTINCT user_id FROM events)
  ORDER BY md5(CAST(user_id AS VARCHAR)), user_id LIMIT {_CM_PROBES}
),
est AS (
  SELECT p.user_id, MIN(m.cnt) AS cm_estimate
  FROM probes p CROSS JOIN rs
  JOIN merged m
    ON m.r = rs.r AND m.bucket = {_CM_H.format(r='rs.r', key='p.user_id')}
  GROUP BY p.user_id
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY user_id
)
SELECT e.user_id, x.exact_n, e.cm_estimate,
       (e.cm_estimate >= x.exact_n) AS no_undercount
FROM est e JOIN exact x USING (user_id)
""".strip()


@register("store_countmin_freq", oracle=_CM_SQL)
def q_store_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch STORE (Cormode & Muthukrishnan 2005) — the
    frequency-estimation member of the mergeable-sketch family
    (sketch_store_distinct = HLL/distinct, store_quantile_histogram =
    quantiles, store_topk_incremental = exact top-k): per-DAY 4×64
    integer sketches of event user_id frequencies persist as a tiny
    parquet table, merge by cell-wise SUM (the defining CM property —
    yesterday's sketches never recompute), and point queries answer
    min over rows of cell counts, which can only OVER-estimate.

    Unlike the HLL store, CM is md5-derivable, so the oracle
    reproduces the sketch EXACTLY — estimates hash-match, not just an
    error-bound boolean; ``no_undercount`` pins the one-sided error
    contract per probe key.  Scale shape: the increment fan-out is
    d=4 rows per event feeding a (day, r, bucket)-keyed partial agg
    (≤ days·256 rows out); the store is O(days·d·w) rows; the merge
    never touches raw events."""
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64

    ev = load_table(spark, sf_dir, "events")
    rs = F.explode(F.array(*[F.lit(r) for r in range(_CM_D)])).alias("r")

    def bucket(r_col, key_col):
        return (
            md5_int64(
                F.concat(
                    F.lit("cm"),
                    r_col.cast("string"),
                    F.lit(":"),
                    key_col.cast("string"),
                )
            )
            % _CM_W
        )

    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id", rs)
        .select("day", "r", bucket(F.col("r"), F.col("user_id")).alias("bucket"))
        .groupBy("day", "r", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    path = _fresh_subdir(_scratch_dir("cmstore"), "daily")
    daily.write.parquet(path)
    merged = (
        spark.read.parquet(path)
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    probes = (
        ev.select("user_id")
        .distinct()
        .orderBy(F.md5(F.col("user_id").cast("string")), F.col("user_id"))
        .limit(_CM_PROBES)
    )
    probe_cells = probes.select("user_id", rs).select(
        "user_id", "r", bucket(F.col("r"), F.col("user_id")).alias("bucket")
    )
    est = (
        probe_cells.join(merged, on=["r", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    return est.join(exact, on="user_id").select(
        "user_id",
        "exact_n",
        "cm_estimate",
        (F.col("cm_estimate") >= F.col("exact_n")).alias("no_undercount"),
    )


@register(
    "reduce_apply_weighted",
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
FROM orders GROUP BY o_custkey
""",
)
def q_reduce_apply_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic user Reducer (mapred/Reducer.java:166 →
    groupBy().applyInPandas, operators/reduce_apply.py): per-customer
    python aggregation over the full group frame. The function is
    self-contained (local imports only) so it ships by value to
    workers. Decimal-exact spend sum keeps the oracle comparable."""
    from hadoop_20_warehouse_spark.operators.reduce_apply import reduce_apply

    orders = load_table(spark, sf_dir, "orders")

    def per_customer(pdf):
        import decimal as _decimal

        import pandas as _pd

        spend = sum(
            _decimal.Decimal(str(v)).quantize(_decimal.Decimal("0.01"))
            for v in pdf["o_totalprice"]
        )
        return _pd.DataFrame(
            {
                "o_custkey": [pdf["o_custkey"].iloc[0]],
                "n_orders": [len(pdf)],
                "total_spend": [float(spend)],
                "last_order": [max(pdf["o_orderdate"]).strftime("%Y-%m-%d")],
            }
        )

    return reduce_apply(
        orders,
        ["o_custkey"],
        per_customer,
        "o_custkey long, n_orders long, total_spend double, last_order string",
    )


@register(
    "inverted_index",
    oracle="""
SELECT token AS term,
       CAST(COUNT(*) AS BIGINT) AS doc_freq,
       CAST(SUM(tf) AS BIGINT) AS term_freq,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (
    SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS token
    FROM documents
  ) WHERE token <> ''
  GROUP BY doc_id, token
)
GROUP BY token
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the Lucene index contrib's analog
    (contrib/index/.../IndexUpdateMapper→Combiner→Reducer, SURVEY.md
    §2.10): doc→term explode, per-(doc,term) tf, per-term postings list
    ordered by doc_id. Two hash aggregations; postings assembled with
    sort_array(collect_list) exactly matching the oracle's ordered
    string_agg. This table underpins the similarity-search operators."""
    from hadoop_20_warehouse_spark.session import scatter

    docs = scatter(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    postings = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id"))), lambda s: s["doc_id"].cast("string")
        ),
        ",",
    )
    return tf.groupBy(F.col("token").alias("term")).agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("tf").alias("term_freq"),
        postings.alias("postings"),
    )


@register(
    "join_theta_next_order",
    oracle="""
SELECT a.o_orderkey AS cur_order,
       MIN(b.o_orderkey) AS next_order_key
FROM orders a
JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND (b.o_orderdate > a.o_orderdate
      OR (b.o_orderdate = a.o_orderdate AND b.o_orderkey > a.o_orderkey))
GROUP BY a.o_orderkey
""",
)
def q_join_theta_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join — the data_join framework's generality
    (contrib/data_join/.../DataJoinReducerBase.java:164-230: arbitrary
    combine over the per-key cross product, inequality filters in
    collect): each order joined to the customer's strictly-later
    orders. Spark plans the equi part (custkey) as the shuffle key and
    applies the inequality as a join residual — the per-key cross
    product never leaves the join operator."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("cur_order"),
        F.col("o_orderdate").alias("d_a"),
    )
    b = orders.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("bk"),
        F.col("o_orderdate").alias("d_b"),
    )
    later = (F.col("d_b") > F.col("d_a")) | (
        (F.col("d_b") == F.col("d_a")) & (F.col("bk") > F.col("cur_order"))
    )
    return (
        a.join(b, on="ck")
        .filter(later)
        .groupBy("cur_order")
        .agg(F.min("bk").alias("next_order_key"))
    )


@register(
    "pi_estimate",
    oracle="""
WITH pts AS (
  SELECT CAST(CAST('0x' || substring(md5('x|' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846975.0 AS x,
         CAST(CAST('0x' || substring(md5('y|' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846975.0 AS y
  FROM (SELECT unnest(generate_series(0, 99999)) AS i)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN (x - 0.5) * (x - 0.5) + (y - 0.5) * (y - 0.5) <= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       4.0 * SUM(CASE WHEN (x - 0.5) * (x - 0.5) + (y - 0.5) * (y - 0.5) <= 0.25 THEN 1 ELSE 0 END) / COUNT(*) AS pi_est
FROM pts
""",
)
def q_pi_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PiEstimator (examples/PiEstimator.java:66): Monte-Carlo π with
    counters as the aggregate. The reference used Halton sequences for
    determinism; we use md5-derived points (same engine-portable
    determinism), spark.range as the distributed generator, and the
    inside/total counters as one aggregation — no driver loop."""
    n = 100_000
    rng = spark.range(0, n)
    denom = float((1 << 60) - 1)
    x = (
        F.conv(F.substring(F.md5(F.concat(F.lit("x|"), F.col("id").cast("string"))), 1, 15), 16, 10)
        .cast("bigint").cast("double") / denom
    )
    y = (
        F.conv(F.substring(F.md5(F.concat(F.lit("y|"), F.col("id").cast("string"))), 1, 15), 16, 10)
        .cast("bigint").cast("double") / denom
    )
    inside = ((x - 0.5) * (x - 0.5) + (y - 0.5) * (y - 0.5)) <= 0.25
    return rng.select(inside.cast("long").alias("inside")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("inside").alias("n_inside"),
        (F.lit(4.0) * F.sum("inside") / F.count(F.lit(1))).alias("pi_est"),
    )


@register(
    "json_extract_histogram",
    oracle="""
SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT)
""",
)
def q_json_extract_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column access: extract a JSON field from the
    events ``props`` string and histogram it in decade buckets. The
    reference's analog is user map() code parsing record payloads by
    hand (no JSON operator existed); Spark's ``get_json_object`` keeps
    the parse JVM-side and Catalyst prunes the scan to the one column.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"))
        .groupBy(F.expr("k DIV 10").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "agg_salted_skew",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
""",
)
def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (operators/skew.py): the
    5-value ``event_type`` key would land whole on 5 reducers at 100 TB;
    salting scatters each key over 16 sub-keys before the final merge.
    Result is exactly the plain groupBy's (mergeable aggregates only) —
    the oracle IS the plain groupBy."""
    from hadoop_20_warehouse_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "value_sum": F.sum(F.col("value").cast("decimal(18,2)")),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
    )


# --- write-path round-trips (MapFile / har analogs) ------------------------


_SCRATCH_DIRS: dict[str, str] = {}


def _scratch_dir(tag: str) -> str:
    """Session-lifetime scratch dir for write+read-back queries, ONE
    per tag — every writer here uses overwrite mode (the SequenceFile
    writers pre-delete), so reuse caps disk at one table copy per query
    however often a long-lived session re-invokes it.

    Cluster locality: the default (a driver-local tempdir) is only
    correct on local[*], where driver and executors share a
    filesystem.  On a real cluster, set ``SPARK_GRAFT_SCRATCH`` to a
    shared path (HDFS/NFS/object-store mount visible to every
    executor) and the round-trips write/read there instead.

    The returned DataFrames read from it lazily (the driver collects
    after the query returns), so cleanup is deferred to process exit —
    and assumes the caller collects each result before re-invoking the
    same query (concurrent re-invocation would race on the shared
    per-tag dir)."""
    import atexit
    import shutil
    import tempfile

    if tag not in _SCRATCH_DIRS:
        root = os.environ.get("SPARK_GRAFT_SCRATCH")
        if root:
            # mkdtemp UNDER the shared root: keeps shared-FS visibility
            # (every executor sees the path) while restoring per-process
            # uniqueness — a deterministic root/h20w_{tag} path would be
            # shared by concurrent processes, and the first to exit
            # would rmtree it out from under the others (ADVICE r5).
            os.makedirs(root, exist_ok=True)
            path = tempfile.mkdtemp(dir=root, prefix=f"h20w_{tag}_")
        else:
            path = tempfile.mkdtemp(prefix=f"h20w_{tag}_")
        atexit.register(shutil.rmtree, path, True)
        _SCRATCH_DIRS[tag] = path
    return _SCRATCH_DIRS[tag]


_FRESH_SUBDIR_LOCK = _threading.Lock()
_FRESH_SUBDIRS: dict[tuple[str, str], list[str]] = {}


def _fresh_subdir(parent: str, name: str, keep: int = 2) -> str:
    """Per-invocation UNIQUE subdir for writers with no overwrite mode
    (``saveAsSequenceFile`` refuses an existing target), generation-
    bounded like ``session.persist_generation``: each call returns a
    fresh ``{name}_{uuid}`` path and deletes generations older than the
    newest ``keep`` for that (parent, name).

    The previous fixed ``parent/name`` path was pre-deleted on every
    call, so two CONCURRENT invocations of the same staging query (a
    supported mode under the FAIR-pool posture) clobbered each other
    mid-read (r7 ADVICE).  With ``keep=2`` two concurrent tenants each
    keep their own copy; disk stays capped at ``keep`` copies per tag.
    A caller re-executing a frame whose generation was evicted fails
    loudly on the missing path — same degraded-contract shape as an
    evicted persist generation."""
    import shutil
    import uuid

    path = f"{parent}/{name}_{uuid.uuid4().hex[:12]}"
    with _FRESH_SUBDIR_LOCK:
        gens = _FRESH_SUBDIRS.setdefault((parent, name), [])
        gens.append(path)
        n_drop = max(0, len(gens) - max(keep, 1))
        dropped, gens[:n_drop] = gens[:n_drop], []
    for old in dropped:
        shutil.rmtree(old, ignore_errors=True)
    return path


@register(
    "mapfile_point_lookup",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS total_price
FROM orders
WHERE o_orderkey = 1234
""",
)
def q_mapfile_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapFileOutputFormat write + ``getEntry`` read-back round-trip
    (mapred/MapFileOutputFormat.java:100, io/MapFile.java:428): the
    orders table is written key-sorted (range-partitioned, sorted
    within files — parquet min/max row-group stats form the sparse
    index MapFile kept in its side file), then one key is point-read
    back; pushdown skips every row group whose [min,max] excludes it.
    The oracle reads the ORIGINAL table: equality proves the write→read
    round-trip is lossless, upgrading the write path from test-only to
    driver-checked."""
    from hadoop_20_warehouse_spark.sources.io import point_lookup, write_sorted_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("total_price"),
    )
    path = _scratch_dir("mapfile")
    write_sorted_table(orders, path, ["o_orderkey"], partitions=8)
    return point_lookup(spark, path, "o_orderkey", 1234)


@register(
    "setfile_membership",
    oracle="""
SELECT DISTINCT c_nationkey AS nationkey
FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
""",
)
def q_setfile_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetFile round-trip (io/SetFile.java:27 — a MapFile with
    NullWritable values, i.e. a sorted on-disk SET): the distinct
    customer nation keys are written as a key-sorted set
    (sources/io.write_key_set), then membership-probed with the
    region-1 nations via a broadcast LEFT SEMI join
    (sources/io.set_membership) — SetFile's seek-based membership
    re-expressed as stats-skipping + semi join.  The oracle computes
    the same intersection from the ORIGINAL tables: equality proves
    the distinct→sorted-write→probe round-trip is lossless."""
    from hadoop_20_warehouse_spark.sources.io import (
        set_membership,
        write_key_set,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    probes = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 1)
        .select(F.col("n_nationkey").alias("nationkey"))
    )
    path = _scratch_dir("setfile")
    write_key_set(cust, path, ["nationkey"], partitions=4)
    return set_membership(spark, path, probes, "nationkey")


@register(
    "arrayfile_position_lookup",
    oracle="""
WITH idxed AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS idx,
         o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
  FROM orders
)
SELECT idx, o_orderkey, orderdate FROM idxed
WHERE idx IN (0, 17, 1024, 9999)
""",
)
def q_arrayfile_position_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrayFile round-trip (io/ArrayFile.java:29 — a MapFile keyed by
    the LongWritable append position): orders are ordinal-indexed
    under a total (o_orderdate, o_orderkey) order and written
    idx-sorted (sources/io.write_indexed_array), then fetched by
    POSITION (sources/io.array_position_get) — ArrayFile.Reader.get(n)
    as parquet stats-skipping on the ordinal.  The oracle recomputes
    the ordinals with ROW_NUMBER over the original table: equality
    proves ordinal assignment and the positional read agree."""
    from hadoop_20_warehouse_spark.sources.io import (
        array_position_get,
        write_indexed_array,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )
    path = _scratch_dir("arrayfile")
    write_indexed_array(orders, path, ["o_orderdate", "o_orderkey"], partitions=4)
    return array_position_get(spark, path, [0, 17, 1024, 9999]).select(
        "idx", "o_orderkey", "orderdate"
    )


@register(
    "compact_roundtrip",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
""",
)
def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadoop Archives round-trip (tools/HadoopArchives.java:73,
    fs/HarFileSystem.java:48): scatter the events table into 32 small
    files (the NameNode-pressure shape har was built for), compact them
    to 4 with a shuffle-free ``coalesce``, and aggregate the compacted
    copy. The oracle aggregates the ORIGINAL table — equality proves
    repacking preserved every record."""
    from hadoop_20_warehouse_spark.sources.io import compact_small_files

    ev = load_table(spark, sf_dir, "events")
    small = _scratch_dir("har_small")
    compacted = _scratch_dir("har_big")
    ev.repartition(32).write.mode("overwrite").parquet(small)
    compact_small_files(spark, small, compacted, target_files=4)
    return (
        spark.read.parquet(compacted)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )


@register(
    "xml_records_roundtrip",
    oracle="""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderkey < 500
GROUP BY o_orderpriority
""",
)
def q_xml_records_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StreamXmlRecordReader round-trip (contrib/streaming/.../
    StreamXmlRecordReader.java:46): serialize rows as <rec>...</rec>
    records to text files, re-extract the records with the
    begin/end-pattern reader, parse a field back out, and aggregate.
    The oracle aggregates the ORIGINAL table — equality proves the
    record framing and extraction are lossless.  Interop path, not a
    hot path: per-file parsing is inherent to pattern-delimited XML
    (records span lines), exactly the constraint the reference's
    reader had."""
    from hadoop_20_warehouse_spark.sources.io import read_xml_records, write_text

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    xml_lines = orders.select(
        F.concat(
            F.lit("<rec><id>"),
            F.col("o_orderkey").cast("string"),
            F.lit("</id><pri>"),
            F.col("o_orderpriority"),
            F.lit("</pri></rec>"),
        ).alias("value")
    )
    path = _scratch_dir("xml")
    write_text(xml_lines, path)
    recs = read_xml_records(spark, path, "<rec>", "</rec>")
    return (
        recs.select(
            F.regexp_extract(F.col("record"), "<pri>(.*?)</pri>", 1).alias("priority")
        )
        .groupBy("priority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "sequence_roundtrip",
    oracle="""
SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
GROUP BY o_orderstatus
""",
)
def q_sequence_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SequenceFile write→read round-trip (SequenceFileOutputFormat →
    SequenceFileInputFormat; io/SequenceFile.java:83): orders keyed
    (LongWritable, Text), written and read back via the Writable
    converters, then aggregated.  The oracle aggregates the ORIGINAL
    table — equality proves the Writable conversion is lossless both
    ways.  Interop path (RDD sequenceFile API is the only route to the
    format); at 100 TB the engine's native format is parquet and this
    exists to exchange data with Hadoop deployments."""
    from hadoop_20_warehouse_spark.sources.io import read_sequence, write_sequence

    orders = load_table(spark, sf_dir, "orders")
    kv = orders.select(
        F.col("o_orderkey").cast("long").alias("key"),
        F.col("o_orderstatus").alias("value"),
    )
    path = _fresh_subdir(_scratch_dir("seqrt"), "seq")
    write_sequence(kv, path)
    back = read_sequence(spark, path)
    return (
        back.select(F.col("value").alias("status"), F.col("key"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("key").cast("long").alias("key_sum"),
        )
    )


@register(
    "bucketed_join_colocated",
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q_bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CompositeInputFormat's zero-shuffle premise, end to end
    (mapred/join/CompositeInputFormat.java:48): both sides are written
    bucketed+sorted on their join key, then joined through the catalog
    — SortMergeJoin reads buckets directly, no Exchange on either side
    (shape pinned by test_bucketing_skew).  The oracle joins the
    ORIGINAL tables: equality proves the bucketed layout round-trip is
    lossless.  At 100 TB this is the pay-layout-once-at-ingest trade
    the reference's co-sorted warehouse sources made."""
    from hadoop_20_warehouse_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = _scratch_dir("bucketed")
    write_bucketed(
        orders, "bq_orders", ["o_custkey"], n_buckets=8, path=base + "/orders"
    )
    write_bucketed(
        cust, "bq_customer", ["c_custkey"], n_buckets=8, path=base + "/customer"
    )
    joined = bucketed_join(
        spark,
        "bq_orders",
        "bq_customer",
        on=[F.col("o_custkey") == F.col("c_custkey")],
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "bloom_table_lookup",
    oracle="""
SELECT CAST(SUM(CASE WHEN c_custkey = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       CAST(SUM(CASE WHEN c_custkey = 987654321 THEN 1 ELSE 0 END) AS BIGINT) AS n_absent
FROM customer
""",
)
def q_bloom_table_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BloomMapFile round-trip (io/BloomMapFile.java:45): the customer
    table is written sorted with a parquet bloom filter on the key,
    then probed for one present and one absent key.  The absent probe
    is the whole point — the bloom filter (plus min/max stats) lets the
    reader skip every row group without decoding, the reference's
    'cheap negative' MapFile.get().  Oracle computes both counts from
    the ORIGINAL table."""
    from hadoop_20_warehouse_spark.sources.io import write_bloom_table

    cust = load_table(spark, sf_dir, "customer")
    path = _scratch_dir("bloom")
    write_bloom_table(cust, path, ["c_custkey"], ndv=10_000, partitions=4)
    back = spark.read.parquet(path)
    return back.agg(
        F.sum((F.col("c_custkey") == 7).cast("int")).cast("long").alias("n_present"),
        F.sum((F.col("c_custkey") == 987654321).cast("int"))
        .cast("long")
        .alias("n_absent"),
    )


@register(
    "partitioned_output_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
WHERE event_type = 'purchase'
""",
)
def q_partitioned_output_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultipleOutputFormat/MultipleOutputs round-trip
    (mapred/lib/MultipleOutputFormat.java, MultipleOutputs.java:116):
    events are fanned out to per-event_type directories, then ONE
    partition is read back through a partition-pruned scan and
    aggregated.  The oracle filters the ORIGINAL table — equality
    proves the routed write is lossless, and unlike the reference's
    per-key files the reader gets partition PRUNING for free (only the
    event_type=purchase directory is listed)."""
    from hadoop_20_warehouse_spark.sources.io import write_partitioned

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _scratch_dir("multi_out")
    write_partitioned(ev, path, ["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )


@register(
    "map_writable_roundtrip",
    oracle="""
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderkey < 2000
GROUP BY o_orderstatus, o_orderpriority
""",
)
def q_map_writable_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-Writable round-trip (io/MapWritable.java:35): rows are
    written as (Text key, MapWritable value) SequenceFile records via
    the dict write path, read back through the recursive Writable
    converter under an explicit map schema, and the map entries are
    pulled out and aggregated.  The oracle aggregates the ORIGINAL
    table — equality proves dict→MapWritable→map<string,string> is
    lossless both ways.  Interop path for exchanging keyed composite
    records with Hadoop deployments; parquet structs are the native
    equivalent at scale."""
    from hadoop_20_warehouse_spark.sources.io import (
        read_sequence_composite,
        write_sequence,
    )

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    kv = orders.select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.create_map(
            F.lit("status"),
            F.col("o_orderstatus"),
            F.lit("pri"),
            F.col("o_orderpriority"),
        ).alias("value"),
    )
    path = _fresh_subdir(_scratch_dir("mapwr"), "seq")
    write_sequence(kv, path)
    back = read_sequence_composite(
        spark, path, "key string, value map<string,string>", value_cast=str
    )
    return (
        back.select(
            F.col("value")["status"].alias("status"),
            F.col("value")["pri"].alias("priority"),
        )
        .groupBy("status", "priority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "bad_files_skip",
    oracle="""
SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE o_orderkey % 4 <> 3
GROUP BY o_orderkey % 4
""",
)
def q_bad_files_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level corrupt-input skipping — the OTHER half of
    SkipBadRecords (mapred/SkipBadRecords.java:31: narrow down and skip
    over the bad range instead of failing the job; record-level
    TRY_CAST skipping is ``sql_bad_records_skip``): the orders table is
    written as one parquet file per key bucket, one file is then
    TRUNCATED on disk (footer destroyed — a torn write / bad block, the
    failure HDFS surfaces as a corrupt replica), and the read back runs
    with ``ignoreCorruptFiles`` so the scan skips the dead file and the
    job completes on the surviving ones.

    The oracle aggregates the ORIGINAL table MINUS the corrupted
    bucket — equality proves the reader skipped exactly the corrupt
    file, losing no intact row.  At 100 TB this is per-file (per-split)
    behavior in the scan itself: no driver-side listing pass, no retry
    storm, the lost data is bounded by one file."""
    import glob as _glob

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 4).alias("bucket")
    )
    path = _fresh_subdir(_scratch_dir("badfiles"), "orders")
    orders.repartition(4, "bucket").write.partitionBy("bucket").parquet(path)
    victims = _glob.glob(os.path.join(path, "bucket=3", "*.parquet"))
    assert victims, f"expected a bucket=3 data file under {path}"
    for victim in victims:
        with open(victim, "r+b") as fh:
            fh.truncate(16)  # keeps the PAR1 magic, destroys the footer
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(path)
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


@register(
    "avro_roundtrip",
    oracle="""
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderstatus END AS status,
         o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
GROUP BY status
""",
)
def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File round-trip — the Hadoop ecosystem's
    canonical exchange format, spoken WITHOUT spark-avro or any avro
    library (sources/avro.py: zigzag varints, length-prefixed
    strings, ['null', T] unions, raw-DEFLATE blocks, sync markers —
    stdlib + the repo's recordio discipline).  Orders project to
    (key, nullable status, cents); every 97th key's status is NULLED
    so the union null-branch is load-bearing; the frame writes one
    deflate-codec OCF per partition, reads back one task per file,
    and aggregates.  The oracle aggregates the ORIGINAL table, so the
    hash proves the zigzag/union/deflate/sync wire format round-trips
    losslessly — including the null branch and multi-block framing.

    Interop boundary, not a hot path (the recordio_binary_roundtrip
    posture): per-record Python codec cost is the price of the exact
    byte format; parallelism is per-file both ways."""
    from hadoop_20_warehouse_spark.sources.avro import read_avro, write_avro

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("o_orderkey"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus")).alias("status"),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias(
            "cents"
        ),
    )
    path = _fresh_subdir(_scratch_dir("avrort"), "orders")
    write_avro(orders, path, codec="deflate")
    back = read_avro(spark, path)
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


@register(
    "avro_nested_roundtrip",
    oracle="""
WITH per AS (
  SELECT o_custkey AS custkey,
         COUNT(*) AS n_orders,
         SUM(o_orderkey) AS sum_orders,
         COUNT(DISTINCT o_orderstatus) AS n_status,
         MIN(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS lo,
         MAX(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS hi
  FROM orders GROUP BY 1
), st AS (
  SELECT o_custkey AS custkey, o_orderstatus, COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), stm AS (
  SELECT custkey, MAX(cnt) AS max_status_cnt FROM st GROUP BY 1
)
SELECT p.custkey,
       CAST(p.n_orders AS BIGINT) AS n_orders,
       CAST(p.sum_orders AS BIGINT) AS sum_orders,
       CAST(p.n_status AS BIGINT) AS n_status,
       CAST(s.max_status_cnt AS BIGINT) AS max_status_cnt,
       CASE WHEN p.n_orders >= 2 THEN p.lo END AS lo_cents,
       CASE WHEN p.n_orders >= 2 THEN p.hi END AS hi_cents
FROM per p JOIN stm s USING (custkey)
""",
)
def q_avro_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro NESTED-type + block-split round-trip (r16 VERDICT #6):
    per customer, an ``array<long>`` of order keys, a
    ``map<string,long>`` of status→count, and a NULLABLE nested
    record (price range) — written as multi-block OCFs
    (sources/avro.py recursive binary encoding: count-prefixed item
    blocks, inline record fields, ['null', T] unions at every level)
    and read back through :func:`read_avro_split`, the sync-marker
    block splitter (the Hadoop AvroInputFormat contract: each task
    seeks to its byte range, scans to the first 16-byte sync, owns
    the blocks whose preceding sync starts in-range).  The final
    projection reduces every collection to scalars the oracle
    computes straight from ``orders``, so the hash proves arrays,
    maps, nested records, the null branch, AND the split ownership
    rule (no row lost or doubled across split boundaries) all at
    once.

    Interop boundary, not a hot path (the avro_roundtrip posture);
    parallelism is per-split on the read side."""
    from hadoop_20_warehouse_spark.sources.avro import (
        read_avro_split,
        write_avro,
    )

    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("cast(round(o_totalprice * 100, 0) as bigint)")
    st = orders.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    nested = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sort_array(F.collect_list("o_orderkey")).alias("keys"),
            F.min(cents).alias("_lo"),
            F.max(cents).alias("_hi"),
        )
        .join(
            st.groupBy(F.col("o_custkey").alias("custkey")).agg(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(F.struct("o_orderstatus", "cnt"))
                    )
                ).alias("status_counts")
            ),
            "custkey",
        )
        .select(
            "custkey",
            "keys",
            "status_counts",
            F.when(
                F.size("keys") >= 2,
                F.struct(
                    F.col("_lo").alias("lo"), F.col("_hi").alias("hi")
                ),
            ).alias("price_range"),
        )
    )
    path = _fresh_subdir(_scratch_dir("avront"), "orders")
    write_avro(nested, path, codec="deflate", block_records=256)
    back = read_avro_split(spark, path, split_bytes=32 * 1024)
    zero = F.lit(0).cast("long")
    return back.select(
        "custkey",
        F.size("keys").cast("long").alias("n_orders"),
        F.aggregate("keys", zero, lambda a, x: a + x)
        .cast("long")
        .alias("sum_orders"),
        F.size(F.map_keys("status_counts")).cast("long").alias("n_status"),
        F.array_max(F.map_values("status_counts"))
        .cast("long")
        .alias("max_status_cnt"),
        F.col("price_range.lo").alias("lo_cents"),
        F.col("price_range.hi").alias("hi_cents"),
    )


@register(
    "recordio_binary_roundtrip",
    oracle="""
SELECT c_custkey AS custkey, c_name AS name,
       CAST(c_acctbal AS DOUBLE) AS acctbal,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS sum_orders,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
       CAST(COUNT(o_orderkey) AS BIGINT) AS sum_status
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY 1, 2, 3
""",
)
def q_recordio_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record I/O BINARY wire-format round-trip
    (record/BinaryRecordOutput.java:70-118; DDL grammar
    record/package.html:189-200): build a nested record per customer
    — vlong key, ustring name, big-endian double balance, a vector of
    order keys, and a map of order-status counts — write it in the
    zero-compressed binary format (io/WritableUtils.java:261-288 vints),
    read the raw bytes back through the schema-driven decoder, and
    reduce the collections to scalars.  The oracle computes the same
    scalars straight from the base tables, so a hash-match proves every
    field type (vlong, ustring, double, vector, map, empty collections
    for order-less customers) survived the wire format bit-exactly.

    Interop boundary, not a hot path: the per-record Python codec is
    the cost of speaking the reference's exact byte format (the
    reference pays the same per-record serialization in generated
    Java).  Parallelism is per-file — the writer emits one file per
    partition and the reader schedules one task per file (no sync
    markers, the reference's isSplitable=false contract)."""
    from hadoop_20_warehouse_spark.sources.recordio import (
        read_record_binary,
        write_record_binary,
    )
    from hadoop_20_warehouse_spark.types import parse_record_ddl

    schema = parse_record_ddl(
        """
        module interop {
          class CustOrders {
            long custkey;
            ustring name;
            double acctbal;
            vector<long> orderkeys;
            map<ustring, long> status_n;
          }
        }
        """
    )["CustOrders"]

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("orderkeys")
    )
    status = (
        orders.groupBy("o_custkey", "o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .groupBy("o_custkey")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("o_orderstatus", "n")))
            ).alias("status_n")
        )
    )
    records = (
        cust.join(keys, cust.c_custkey == keys.o_custkey, "left")
        .drop(keys.o_custkey)
        .join(status, cust.c_custkey == status.o_custkey, "left")
        .select(
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.coalesce(
                "orderkeys", F.expr("CAST(array() AS array<bigint>)")
            ).alias("orderkeys"),
            F.coalesce(
                "status_n", F.expr("CAST(map() AS map<string,bigint>)")
            ).alias("status_n"),
        )
    )
    path = _fresh_subdir(_scratch_dir("recbin"), "custorders")
    write_record_binary(records, path, schema)
    back = read_record_binary(spark, path, schema)
    return back.select(
        "custkey",
        "name",
        "acctbal",
        F.size("orderkeys").cast("long").alias("n_orders"),
        F.aggregate(
            "orderkeys", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_orders"),
        F.size(F.map_keys("status_n")).cast("long").alias("n_status"),
        F.aggregate(
            F.map_values("status_n"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_status"),
    )


@register(
    "recordio_csv_roundtrip",
    oracle="""
SELECT doc_id, COALESCE(lang, '') AS lang,
       CAST(LENGTH(COALESCE(text, '')) AS BIGINT) AS text_chars,
       md5(COALESCE(text, '')) AS digest
FROM documents
""",
)
def q_recordio_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record I/O CSV wire-format round-trip
    (record/CsvRecordOutput.java:57-140): serialize each document as a
    CSV record — vlong id, ustring lang, ustring text with the
    %-escape alphabet of record/Utils.java:108-144 (NUL/LF/CR/comma/
    '}'/'%') — through text files and back, then digest the text.  The
    oracle digests the ORIGINAL table: a hash-match proves the escape/
    unescape cycle preserved every byte of free text (documents contain
    the delimiters and newlines the escaping exists for).  Unlike the
    binary format, CSV records are line-framed (newlines are escaped),
    so the files keep Spark's normal line-splittable scan planning."""
    from hadoop_20_warehouse_spark.sources.recordio import (
        read_record_csv,
        write_record_csv,
    )
    from hadoop_20_warehouse_spark.types import parse_record_ddl

    schema = parse_record_ddl(
        "class Doc { long doc_id; ustring lang; ustring text; }"
    )["Doc"]
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long"),
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("text", F.lit("")).alias("text"),
    )
    path = _fresh_subdir(_scratch_dir("reccsv"), "docs")
    write_record_csv(docs, path, schema)
    back = read_record_csv(spark, path, schema)
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("text_chars"),
        F.md5(F.col("text").cast("binary")).alias("digest"),
    )


@register(
    "schema_evolution_read",
    oracle="""
SELECT COALESCE(CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END,
                'unversioned') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
GROUP BY 1
""",
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — the table grew a
    column mid-life: generation-1 files carry (o_orderkey), the later
    generation-2 files add o_orderpriority, and ONE read with
    ``mergeSchema`` unifies them (old rows surface the new column as
    NULL).  This is the warehouse-format answer to the reference's
    versioned-record problem (Record I/O docs a version field per
    record class, record/package.html — readers of old data must
    tolerate newer schemas); parquet makes evolution per-FILE and the
    engine reconciles at scan time.

    The oracle rebuilds the same union from the base table (odd keys =
    gen-1 rows with NULL priority); a hash-match proves no row was
    dropped and NULL-fill semantics are exact.  Scale note: schema
    merging reads FOOTERS of (a sample of) files at planning time —
    at 100 TB you set spark.sql.parquet.mergeSchema per-read exactly
    as here, not globally, so evolved tables pay the footer pass only
    where needed."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    base = _fresh_subdir(_scratch_dir("schevo"), "orders")
    orders.filter(F.col("o_orderkey") % 2 == 1).select("o_orderkey").write.parquet(
        os.path.join(base, "gen1")
    )
    orders.filter(F.col("o_orderkey") % 2 == 0).write.parquet(
        os.path.join(base, "gen2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen1"), os.path.join(base, "gen2")
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("unversioned")).alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@register(
    "recordio_xml_roundtrip",
    oracle="""
SELECT doc_id, COALESCE(lang, '') AS lang,
       CAST(LENGTH(COALESCE(text, '')) AS BIGINT) AS text_chars,
       md5(COALESCE(text, '')) AS digest,
       CAST(doc_id + doc_id * 2 + 1 AS BIGINT) AS mark_sum
FROM documents
""",
)
def q_recordio_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record I/O XML wire-format round-trip — the third codec of the
    reference's triple (record/XmlRecordOutput.java:144-246,
    XmlRecordInput.java:63-243; escaping record/Utils.java:44-101):
    serialize each document as an XML record — vlong id, ustring lang,
    ustring text through the &lt;/&amp;/%XXXX escape alphabet, plus a
    vector<long> exercising the compound envelope — one document per
    record, read back through the schema-order-driven value-list
    decoder, then digest the text.  The oracle digests the ORIGINAL
    table: a hash-match proves the XML escape/unescape cycle preserved
    every character of free text (documents contain '<', '&', '%',
    newlines, and non-ASCII — everything the alphabet covers), and
    mark_sum proves vector elements survive the bare-<value> envelope.

    Documents span lines, so like the binary format the file is the
    split unit (one task per file, isSplitable=false contract); the
    writer's partition count is the read parallelism."""
    from hadoop_20_warehouse_spark.sources.recordio import (
        read_record_xml,
        write_record_xml,
    )
    from hadoop_20_warehouse_spark.types import parse_record_ddl

    schema = parse_record_ddl(
        "class DocX { long doc_id; ustring lang; ustring text; "
        "vector<long> marks; }"
    )["DocX"]
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long"),
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("text", F.lit("")).alias("text"),
        F.array(
            F.col("doc_id").cast("long"),
            (F.col("doc_id") * 2 + 1).cast("long"),
        ).alias("marks"),
    )
    path = _fresh_subdir(_scratch_dir("recxml"), "docs")
    write_record_xml(docs, path, schema)
    back = read_record_xml(spark, path, schema)
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("text_chars"),
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.aggregate(
            "marks", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("mark_sum"),
    )


@register(
    "jsonl_gzip_roundtrip",
    oracle="""
SELECT doc_id, COALESCE(lang, '') AS lang,
       md5(COALESCE(text, '')) AS digest
FROM documents
""",
)
def q_jsonl_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL-over-gzip round-trip — TextOutputFormat plus the
    compression-codec lookup (mapred/TextOutputFormat.java:47 wraps
    the stream in the configured codec; mapred/TextInputFormat.java:40
    picks the decompressor by extension), carried to the format modern
    corpus pipelines actually interchange: one JSON object per line.
    Docs serialize with ``to_json``, write as gzip text (codec chosen
    by option, exactly the reference's pluggable-codec seam), read
    back with automatic by-extension decompression, and re-parse with
    ``from_json``.  The oracle digests the ORIGINAL table — a
    hash-match proves serialization, compression, splitting, and
    parsing are jointly lossless.  Gzip files are NOT splittable (one
    task per file — the same constraint the reference documents for
    compressed text); the writer's partition count is the read
    parallelism, and a real deployment picks a splittable codec or
    sizes files to the partition target."""
    import glob as _glob

    from hadoop_20_warehouse_spark.sources.io import read_text, write_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("text", F.lit("")).alias("text"),
    )
    path = _fresh_subdir(_scratch_dir("jsonl"), "docs")
    write_text(
        docs.select(F.to_json(F.struct("doc_id", "lang", "text")).alias("value")),
        path,
        compression="gzip",
    )
    assert _glob.glob(os.path.join(path, "*.gz")), "expected gzip part files"
    parsed = read_text(spark, path).select(
        F.from_json(
            "value", "doc_id long, lang string, text string"
        ).alias("r")
    )
    return parsed.select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.lang").alias("lang"),
        F.md5(F.col("r.text").cast("binary")).alias("digest"),
    )


_ORC_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate >= DATE '1995-06-01'
GROUP BY l_returnflag
"""


@register("orc_roundtrip", oracle=_ORC_SQL)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read round-trip with predicate pushdown — the
    columnar-format seam of the reference's Hive warehouse layer
    (RCFile, hive/ql/io/RCFile.java: the row-group columnar container
    ORC superseded in the same lineage).  A lineitem projection is
    written to ORC, read back with a date predicate, and aggregated;
    the oracle runs the same query against the ORIGINAL parquet, so a
    hash match proves the ORC codec round-trips values AND the
    date/decimal types exactly.

    The read-side plan is the part that matters at 100 TB: the date
    filter reaches the ORC scan as PushedFilters (asserted in
    tests/test_plans.py), so row groups outside the range never
    decompress — the same stats-skipping contract the parquet paths
    are plan-tested for."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_shipdate"
    )
    path = _fresh_subdir(_scratch_dir("orcrt"), "lineitem")
    li.write.orc(path)
    back = spark.read.orc(path)
    return back.filter(F.col("l_shipdate") >= F.lit("1995-06-01")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )


_NAMED_OUTPUTS_SQL = """
SELECT 'urgent' AS output_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT 'openorders' AS output_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT 'bystatus' AS output_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
"""


@register("named_outputs_roundtrip", oracle=_NAMED_OUTPUTS_SQL)
def q_named_outputs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultipleOutputs named multi-sink fan-out round-trip
    (mapred/lib/MultipleOutputs.java:283 addNamedOutput, :306
    addMultiNamedOutput; test mapred/lib/TestMultipleOutputs.java): one
    pass over orders routes records to THREE named outputs — a
    predicate+projection parquet sink, a predicate CSV sink (different
    format per name, the reference's per-name OutputFormat), and a
    multi-named parquet sink sub-partitioned by o_orderstatus (the
    ``getCollector(name, subName)`` fan-out).  Each output is read
    back and aggregated; the oracle computes the same aggregates from
    the ORIGINAL table, so a hash match proves per-name routing,
    projection, format conversion, and sub-partitioning are all
    lossless.  Single-pass discipline: the input plan is staged to
    scratch parquet once and every sink reads the staged copy with its
    own pushed filter + pruned columns (plan-pinned in
    tests/test_plans.py); the stage is removed after the writes."""
    from hadoop_20_warehouse_spark.sources.io import (
        NamedOutput,
        write_named_outputs,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = _fresh_subdir(_scratch_dir("namedout"), "orders")
    paths = write_named_outputs(
        orders,
        base,
        {
            "urgent": NamedOutput(
                predicate="o_orderpriority = '1-URGENT'",
                select=["o_orderkey", "o_totalprice"],
            ),
            "openorders": NamedOutput(
                predicate="o_orderstatus = 'O'",
                select=["o_orderkey", "o_orderpriority"],
                fmt="csv",
                options={"header": "true"},
            ),
            "bystatus": NamedOutput(
                select=["o_orderkey", "o_orderstatus"],
                multi_col="o_orderstatus",
            ),
        },
    )

    def _stats(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("o_orderkey").cast("long")).cast("long").alias("key_sum"),
        ).select(F.lit(name).alias("output_name"), "n", "key_sum")

    urgent = spark.read.parquet(paths["urgent"])
    openorders = spark.read.option("header", "true").csv(paths["openorders"])
    bystatus = spark.read.parquet(paths["bystatus"])
    return (
        _stats(urgent, "urgent")
        .unionAll(_stats(openorders, "openorders"))
        .unionAll(_stats(bystatus, "bystatus"))
    )


_GENERIC_UNION_SQL = """
SELECT 'LongWritable' AS type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS long_sum,
       CAST(NULL AS VARCHAR) AS min_text
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'Text' AS type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS long_sum,
       MIN(o_orderpriority) AS min_text
FROM orders WHERE o_orderkey % 2 = 1
"""


@register("generic_writable_union", oracle=_GENERIC_UNION_SQL)
def q_generic_writable_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GenericWritable tagged-union round-trip (io/GenericWritable.java:
    118 readFields — one tag byte indexing getTypes(), then the wrapped
    Writable's wire bytes): orders rows are serialized as a two-variant
    union (even keys → LongWritable custkey, odd → Text priority) into
    a JVM-WRITTEN SequenceFile, read back through the pure-Python
    container parser (sources/seqfile.py — no user subclass on any
    classpath, the type LIST replaces getTypes()), and aggregated per
    variant.  The oracle computes the same per-variant aggregates from
    the ORIGINAL table: a hash match proves tag routing and both
    variants' wire decoding are lossless."""
    from hadoop_20_warehouse_spark.sources.seqfile import (
        encode_tagged_value,
        read_sequence_tagged,
    )

    LONG = "org.apache.hadoop.io.LongWritable"
    TEXT = "org.apache.hadoop.io.Text"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )

    def to_kv(row):
        if row.o_orderkey % 2 == 0:
            payload = encode_tagged_value(0, LONG, row.o_custkey)
        else:
            payload = encode_tagged_value(1, TEXT, row.o_orderpriority)
        return (str(row.o_orderkey), bytearray(payload))

    path = _fresh_subdir(_scratch_dir("genw"), "union")
    orders.rdd.map(to_kv).saveAsSequenceFile(path)
    tagged = read_sequence_tagged(
        spark,
        path,
        [LONG, TEXT],
        key_class="org.apache.hadoop.io.Text",
    )
    return tagged.groupBy("type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_LongWritable").cast("long").alias("long_sum"),
        F.min("v_Text").alias("min_text"),
    )


_LZMA_SQL = """
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
GROUP BY o_orderstatus
"""


@register("lzma_text_roundtrip", oracle=_LZMA_SQL)
def q_lzma_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LzmaCodec round-trip (io/compress/LzmaCodec.java — FB addition):
    orders serialized as tab-separated lines, written as one ``.lzma``
    file per partition via stdlib lzma (no JVM codec exists here),
    inflated back one file per task, re-parsed, and aggregated.  The
    oracle aggregates the ORIGINAL table — equality proves the codec
    and line framing round-trip losslessly.  Legacy-migration surface:
    non-splittable by the reference's own contract, so parallelism =
    file count, same as its gzip text inputs."""
    from hadoop_20_warehouse_spark.sources.io import (
        read_text_lzma,
        write_text_lzma,
    )

    orders = load_table(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat_ws(
            "\t", F.col("o_orderkey").cast("string"), F.col("o_orderstatus")
        ).alias("value")
    )
    path = _fresh_subdir(_scratch_dir("lzmart"), "orders")
    write_text_lzma(lines, path)
    back = read_text_lzma(spark, path)
    parsed = back.select(
        F.split_part("value", F.lit("\t"), F.lit(1)).cast("long").alias("o_orderkey"),
        F.split_part("value", F.lit("\t"), F.lit(2)).alias("status"),
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


_IMG_DECODE_SQL = """
SELECT o_orderkey AS id,
       CASE WHEN o_orderkey % 2 = 1 THEN 'bmp' ELSE 'ppm' END AS fmt,
       CAST(o_orderkey % 31 + 2 AS BIGINT) AS width,
       CAST(o_orderkey % 17 + 2 AS BIGINT) AS height,
       CAST(o_custkey % 256 AS DOUBLE) AS mean_r,
       CAST((o_orderkey * 7) % 256 AS DOUBLE) AS mean_g,
       CAST((o_orderkey * 13) % 256 AS DOUBLE) AS mean_b
FROM orders
"""


@register("multimodal_image_decode", oracle=_IMG_DECODE_SQL)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (round 10 — the multimodal gate narrowed):
    per-row PPM/BMP container bytes are SYNTHESIZED from order columns
    (dims and a constant fill color derived from keys; even keys → P6
    PPM, odd → 24-bit bottom-up BMP), then decoded by the pure
    numpy/stdlib codecs (multimodal/codecs.py) — format sniff, header
    parse, pixel decode, channel means over actual pixels.  The oracle
    recomputes the expected dims/means from the SAME generating
    columns: a hash match proves the decoder parsed real container
    bytes, not metadata.  Both stages are Arrow-batched mapInPandas,
    zero shuffle."""
    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_meta

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 31 + 2).cast("int").alias("w"),
        (F.col("o_orderkey") % 17 + 2).cast("int").alias("h"),
        (F.col("o_custkey") % 256).cast("int").alias("r"),
        ((F.col("o_orderkey") * 7) % 256).cast("int").alias("g"),
        ((F.col("o_orderkey") * 13) % 256).cast("int").alias("b"),
        (F.col("o_orderkey") % 2).cast("int").alias("use_bmp"),
    )

    def enc(batches):
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import (
            encode_bmp,
            encode_ppm,
        )

        for pdf in batches:
            payloads = [
                encode_bmp(w, h, (r, g, b))
                if ub
                else encode_ppm(w, h, (r, g, b))
                for w, h, r, g, b, ub in zip(
                    pdf["w"], pdf["h"], pdf["r"], pdf["g"], pdf["b"], pdf["use_bmp"]
                )
            ]
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    imgs = _scatter(orders).mapInPandas(enc, "id long, payload binary")
    return decode_image_meta(imgs, "id", "payload")


# gradient pixels c(x,y) = c0 + x + y with c0 < 200, x < 32, y < 18 —
# never wraps 256, so the channel mean is exactly
# c0 + (w-1)/2 + (h-1)/2 (halves are exact in binary floats)
_PNG_DECODE_SQL = """
SELECT o_orderkey AS id,
       'png' AS fmt,
       CAST(o_orderkey % 31 + 2 AS BIGINT) AS width,
       CAST(o_orderkey % 17 + 2 AS BIGINT) AS height,
       CASE WHEN o_orderkey % 2 = 0
            THEN o_custkey % 200 ELSE (o_custkey * 3) % 200 END
         + (o_orderkey % 31 + 1) / 2.0
         + (o_orderkey % 17 + 1) / 2.0 AS mean_r,
       CASE WHEN o_orderkey % 2 = 0
            THEN (o_orderkey * 7) % 200 ELSE (o_custkey * 3) % 200 END
         + (o_orderkey % 31 + 1) / 2.0
         + (o_orderkey % 17 + 1) / 2.0 AS mean_g,
       CASE WHEN o_orderkey % 2 = 0
            THEN (o_orderkey * 13) % 200 ELSE (o_custkey * 3) % 200 END
         + (o_orderkey % 31 + 1) / 2.0
         + (o_orderkey % 17 + 1) / 2.0 AS mean_b
FROM orders
"""


@register("multimodal_png_decode", oracle=_PNG_DECODE_SQL)
def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, zero image libraries (round 16 — the gate
    narrowed again): per-order PNG container bytes are synthesized
    from order columns (a +1-per-pixel x+y GRADIENT, not a constant
    fill, so unfiltering is load-bearing; even keys → RGB color type
    2, odd → grayscale type 0; scanline filters CYCLE through all
    five types per image), then decoded by the stdlib-zlib + numpy
    codec (multimodal/codecs.decode_png — chunk walk, IHDR parse,
    inflate, per-row unfilter, channel means over actual pixels).
    The oracle recomputes dims and the closed-form gradient means
    from the SAME generating columns: a hash match proves the five
    filter reversals reconstructed every pixel exactly — any
    off-by-one in Sub/Average/Paeth shifts a mean.  Reference
    analog: binary payload rows in SequenceFiles
    (io/BytesWritable.java); both stages Arrow-batched mapInPandas,
    zero shuffle."""
    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_meta

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 31 + 2).cast("int").alias("w"),
        (F.col("o_orderkey") % 17 + 2).cast("int").alias("h"),
        (F.col("o_custkey") % 200).cast("int").alias("r0"),
        ((F.col("o_orderkey") * 7) % 200).cast("int").alias("g0"),
        ((F.col("o_orderkey") * 13) % 200).cast("int").alias("b0"),
        ((F.col("o_custkey") * 3) % 200).cast("int").alias("gray0"),
        (F.col("o_orderkey") % 2 == 1).alias("use_gray"),
    )

    def enc(batches):
        import numpy as _np
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import encode_png

        for pdf in batches:
            payloads = []
            for w, h, r0, g0, b0, gray0, ug in zip(
                pdf["w"], pdf["h"], pdf["r0"], pdf["g0"], pdf["b0"],
                pdf["gray0"], pdf["use_gray"],
            ):
                grad = (
                    _np.arange(h)[:, None] + _np.arange(w)[None, :]
                ).astype(_np.uint8)
                if ug:
                    img = (gray0 + grad).astype(_np.uint8)
                else:
                    img = _np.stack(
                        [c0 + grad for c0 in (r0, g0, b0)], axis=2
                    ).astype(_np.uint8)
                payloads.append(encode_png(img, filters="cycle"))
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    imgs = _scatter(orders).mapInPandas(enc, "id long, payload binary")
    return decode_image_meta(imgs, "id", "payload")


# even-gray JPEG exactness: a uniform block's only nonzero DCT
# coefficient is DC = 8·(v−128); at quality 50 the Annex-K DC quant
# step is 16, so even v quantizes with zero remainder and
# decode(encode(v)) == v bit-exactly — a LOSSY codec with a
# closed-form oracle on this fixture family.
_JPEG_DECODE_SQL = """
SELECT o_orderkey AS id,
       'jpeg' AS fmt,
       CAST(o_orderkey % 31 + 2 AS BIGINT) AS width,
       CAST(o_orderkey % 17 + 2 AS BIGINT) AS height,
       CAST((o_custkey % 127) * 2 AS DOUBLE) AS mean_r,
       CAST((o_custkey % 127) * 2 AS DOUBLE) AS mean_g,
       CAST((o_custkey % 127) * 2 AS DOUBLE) AS mean_b
FROM orders
"""


@register("multimodal_jpeg_decode", oracle=_JPEG_DECODE_SQL)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, zero image libraries (round 16 —
    the codec gate now holds only video): per-order JPEG container
    bytes are synthesized from order columns (uniform grayscale at
    the EVEN value 2·(o_custkey % 127); odd keys additionally carry a
    DRI/RSTn restart structure, which must decode identically) and
    decoded by the pure numpy T.81 pipeline (multimodal/jpeg.py —
    marker walk, Huffman, dequant, IDCT, clamp).  Keys ≡ 0 (mod 3)
    are written PROGRESSIVE (SOF2: interleaved DC-first with
    successive approximation, per-band AC scans with EOB runs, AC/DC
    refinement — r17, r16 VERDICT #4), so the Annex G scan machinery
    is load-bearing in the registered query, not just pytest.  Lossy
    codecs normally defeat hash oracles; the even-gray contract
    (module docstring: DC = 8·(v−128) divisible by the quality-50
    quant step) makes this fixture family decode BIT-EXACTLY for BOTH
    serializations, so the oracle predicts dims and channel means in
    closed form — any drift in the Huffman tables, dequant, IDCT
    scaling, restart resync, or progressive coefficient accumulation
    shifts a mean.  Gradients/color/4:2:0 are covered by
    round-trip-tolerance pytest (test_codecs).  Reference analog:
    binary payload rows in SequenceFiles (io/BytesWritable.java);
    both stages Arrow-batched mapInPandas, zero shuffle."""
    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_meta

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 31 + 2).cast("int").alias("w"),
        (F.col("o_orderkey") % 17 + 2).cast("int").alias("h"),
        ((F.col("o_custkey") % 127) * 2).cast("int").alias("v"),
        (F.col("o_orderkey") % 2).cast("int").alias("use_rst"),
        (F.col("o_orderkey") % 3 == 0).alias("use_prog"),
    )

    def enc(batches):
        import numpy as _np
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.jpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        for pdf in batches:
            payloads = [
                encode_jpeg_progressive(_np.full((h, w), v, _np.uint8))
                if prog
                else encode_jpeg(
                    _np.full((h, w), v, _np.uint8),
                    restart_interval=2 if rst else 0,
                )
                for w, h, v, rst, prog in zip(
                    pdf["w"], pdf["h"], pdf["v"], pdf["use_rst"],
                    pdf["use_prog"],
                )
            ]
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    imgs = _scatter(orders).mapInPandas(enc, "id long, payload binary")
    return decode_image_meta(imgs, "id", "payload")


# two-color vertical stripes with EVEN width: each row holds exactly
# w/2 pixels of each color, so the channel mean is (a+b)/2 — exact in
# binary doubles, no rounding seam
_GIF_DECODE_SQL = """
SELECT o_orderkey AS id,
       'gif' AS fmt,
       CAST((o_orderkey % 15) * 2 + 2 AS BIGINT) AS width,
       CAST(o_orderkey % 17 + 2 AS BIGINT) AS height,
       (o_custkey % 256 + (o_orderkey * 7) % 256) / 2.0 AS mean_r,
       ((o_custkey * 3) % 256 + (o_orderkey * 11) % 256) / 2.0 AS mean_g,
       ((o_custkey * 5) % 256 + (o_orderkey * 13) % 256) / 2.0 AS mean_b
FROM orders
"""


@register("multimodal_gif_decode", oracle=_GIF_DECODE_SQL)
def q_multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, pure-Python LZW (round 16 — with PNG and
    baseline JPEG this completes every sniffable image format):
    per-order GIF89a containers are synthesized from order columns —
    two-color vertical stripes (palette build + LZW compress inside
    encode_gif; EVEN width so each color covers exactly half the
    pixels), odd keys written INTERLACED so the 4-pass de-interlace
    is load-bearing — then decoded by the pure LZW + palette-lookup
    pipeline (multimodal/codecs.decode_gif).  GIF is lossless, so the
    oracle predicts the exact (a+b)/2 channel means from the SAME
    generating columns; any drift in the LZW table growth, the
    variable code widths, or the interlace row order scrambles a
    stripe and shifts a mean.  Reference analog: BytesWritable
    payload rows (io/BytesWritable.java).  Both stages Arrow-batched
    mapInPandas, zero shuffle."""
    from hadoop_20_warehouse_spark.multimodal.binary import decode_image_meta

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 15) * 2 + 2).cast("int").alias("w"),
        (F.col("o_orderkey") % 17 + 2).cast("int").alias("h"),
        (F.col("o_custkey") % 256).cast("int").alias("ar"),
        ((F.col("o_custkey") * 3) % 256).cast("int").alias("ag"),
        ((F.col("o_custkey") * 5) % 256).cast("int").alias("ab"),
        ((F.col("o_orderkey") * 7) % 256).cast("int").alias("br"),
        ((F.col("o_orderkey") * 11) % 256).cast("int").alias("bg"),
        ((F.col("o_orderkey") * 13) % 256).cast("int").alias("bb"),
        (F.col("o_orderkey") % 2 == 1).alias("il"),
    )

    def enc(batches):
        import numpy as _np
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import encode_gif

        for pdf in batches:
            payloads = []
            for w, h, ar, ag, ab, br, bg, bb, il in zip(
                pdf["w"], pdf["h"], pdf["ar"], pdf["ag"], pdf["ab"],
                pdf["br"], pdf["bg"], pdf["bb"], pdf["il"],
            ):
                img = _np.empty((h, w, 3), _np.uint8)
                img[:, 0::2] = (ar, ag, ab)
                img[:, 1::2] = (br, bg, bb)
                payloads.append(encode_gif(img, interlace=bool(il)))
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    imgs = _scatter(orders).mapInPandas(enc, "id long, payload binary")
    return decode_image_meta(imgs, "id", "payload")


_MP4_META_SQL = """
SELECT o_orderkey AS id,
       'isom' AS brand,
       CAST(o_orderkey % 3600 * 1000 + 500 AS BIGINT) AS duration_ms,
       CAST((o_orderkey % 3) + CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_tracks,
       CAST(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_video,
       CAST(o_orderkey % 3 AS BIGINT) AS n_audio,
       CAST(CASE WHEN o_custkey % 2 = 0 THEN 320 + (o_orderkey % 4) * 320 ELSE 0 END AS BIGINT) AS width,
       CAST(CASE WHEN o_custkey % 2 = 0 THEN 180 + (o_orderkey % 4) * 180 ELSE 0 END AS BIGINT) AS height,
       CAST(CASE WHEN o_custkey % 2 = 0 THEN o_orderkey % 24 ELSE 0 END AS BIGINT) AS n_samples
FROM orders
"""


@register("multimodal_mp4_meta", oracle=_MP4_META_SQL)
def q_multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) container metadata, zero codecs (round 16
    — the honest middle of the video gate): per-order MP4 files are
    synthesized from order columns (ftyp + moov with mvhd duration,
    an optional vide trak carrying 16.16 fixed-point tkhd dims and an
    stsz sample table, 0-2 soun traks) by multimodal/mp4.build_mp4,
    then walked back by parse_mp4_meta — box framing, 64-bit-size and
    version-aware full-box parsing, fixed-point width/height, handler
    classification.  The oracle recomputes every field from the SAME
    generating columns, so the hash pins the byte-level box layout
    AND the parse.  Frame DECODE stays honestly gated behind ffmpeg
    (frame_sample_stub); a 100 TB video ingest runs THIS stage —
    catalog, validate, route by resolution/duration — before any
    codec, and it needs only these bytes.  Reference analog:
    BytesWritable payload rows (io/BytesWritable.java).  Both stages
    Arrow-batched mapInPandas, zero shuffle."""
    from hadoop_20_warehouse_spark.multimodal.binary import (
        video_container_meta,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 3600 * 1000 + 500).cast("long").alias("dur"),
        (F.col("o_custkey") % 2 == 0).alias("has_video"),
        (F.col("o_orderkey") % 3).cast("int").alias("n_audio"),
        (320 + (F.col("o_orderkey") % 4) * 320).cast("int").alias("w"),
        (180 + (F.col("o_orderkey") % 4) * 180).cast("int").alias("h"),
        (F.col("o_orderkey") % 24).cast("int").alias("ns"),
    )

    def enc(batches):
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.mp4 import build_mp4

        for pdf in batches:
            payloads = [
                build_mp4(
                    int(dur),
                    width=int(w) if hv else 0,
                    height=int(h) if hv else 0,
                    n_audio=int(na),
                    n_samples=int(ns) if hv else 0,
                )
                for dur, hv, na, w, h, ns in zip(
                    pdf["dur"], pdf["has_video"], pdf["n_audio"],
                    pdf["w"], pdf["h"], pdf["ns"],
                )
            ]
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    vids = _scatter(orders).mapInPandas(enc, "id long, payload binary")
    return video_container_meta(vids, "id", "payload")


# per-frame gray value 2·((custkey + 7·i) % 127) is EVEN → the
# quality-50 even-gray JPEG contract makes every frame decode
# bit-exactly, so a LOSSY video decode gets a closed-form oracle
_VIDEO_FRAMES_SQL = """
WITH base AS (
  SELECT o_orderkey AS id, o_custkey,
         o_orderkey % 3 + 2 AS n_frames,
         o_orderkey % 15 + 4 AS width,
         o_orderkey % 11 + 4 AS height,
         CASE WHEN o_orderkey % 2 = 0 THEN 'avi' ELSE 'mp4' END
           AS container
  FROM orders
)
SELECT id, container,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height,
       CAST(2 * ((o_custkey + 7 * frame_idx) % 127) AS DOUBLE) AS mean_r,
       CAST(2 * ((o_custkey + 7 * frame_idx) % 127) AS DOUBLE) AS mean_g,
       CAST(2 * ((o_custkey + 7 * frame_idx) % 127) AS DOUBLE) AS mean_b
FROM (
  SELECT *, unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
  FROM base
)
"""


@register("multimodal_video_frames", oracle=_VIDEO_FRAMES_SQL)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame decode (r17 — r16 VERDICT #2, the last
    tractable multimodal gap): per-order MJPEG videos are synthesized
    from order columns — 2-4 even-gray JPEG frames per clip, packed
    into a RIFF/AVI container (even keys: avih/strh/strf headers,
    00dc chunks, idx1) or an ISO-BMFF file whose video track carries
    REAL sample tables (odd keys: stsd 'jpeg' entry, stsz sizes,
    stsc chunk mapping with 2 frames per chunk so the multi-chunk
    walk is load-bearing, stco offsets into mdat) — then demuxed and
    decoded by multimodal/video.decode_video_frames: container walk +
    per-frame pure-numpy T.81 decode, every 2nd frame sampled (the
    frame_sample_stub UDTF plumbing with digest fakes replaced by
    pixels).  Frame i's gray value 2·((custkey + 7i) % 127) is even,
    so each frame decodes BIT-EXACTLY (the even-gray contract) and
    the oracle predicts container, frame inventory, dims, and
    per-frame channel means in closed form.  Generic H.264 stays
    honestly gated (NotImplementedError names ffmpeg).  Reference
    analog: BytesWritable payload rows (io/BytesWritable.java).
    Both stages Arrow-batched mapInPandas, zero shuffle."""
    from hadoop_20_warehouse_spark.multimodal.video import (
        decode_video_frames,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 3 + 2).cast("int").alias("nf"),
        (F.col("o_orderkey") % 15 + 4).cast("int").alias("w"),
        (F.col("o_orderkey") % 11 + 4).cast("int").alias("h"),
        (F.col("o_custkey") % 127).cast("int").alias("v0"),
        (F.col("o_orderkey") % 2 == 0).alias("use_avi"),
    )

    def enc(batches):
        import numpy as _np
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
        from hadoop_20_warehouse_spark.multimodal.video import (
            build_avi_mjpeg,
            build_mp4_mjpeg,
        )

        for pdf in batches:
            payloads = []
            for nf, w, h, v0, avi in zip(
                pdf["nf"], pdf["w"], pdf["h"], pdf["v0"], pdf["use_avi"]
            ):
                frames = [
                    encode_jpeg(
                        _np.full(
                            (h, w), 2 * ((v0 + 7 * i) % 127), _np.uint8
                        )
                    )
                    for i in range(nf)
                ]
                payloads.append(
                    build_avi_mjpeg(frames, int(w), int(h))
                    if avi
                    # half the ISO-BMFF fixtures carry an audio-FIRST
                    # stub trak, so the parser's first-MJPEG-track
                    # selection is load-bearing in the query (r17
                    # review fix)
                    else build_mp4_mjpeg(
                        frames, int(w), int(h), frames_per_chunk=2,
                        n_audio=int(nf) % 2,
                    )
                )
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    vids = _scatter(orders).mapInPandas(enc, "id long, payload binary")
    return decode_video_frames(vids, "id", "payload", step=2)


_SSF_SQL = """
SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
)
WHERE w <> ''
GROUP BY 1
"""


@register("ssf_seekable_text", oracle=_SSF_SQL)
def q_ssf_seekable_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimpleSeekableFormat — the reference's OWN splittable-
    compressed-stream format, implemented rather than mapped away
    (r17; SURVEY §2.1 previously noted 'Parquet/ORC blocks do it
    natively', which covers columnar tables but not the compressed
    TEXT streams the FB format serves;
    src/core/org/apache/hadoop/io/simpleseekableformat/
    SimpleSeekableFormat.java:19-40).  The documents' text writes as
    independently-deflated chunks, each framed by a 16-byte sync and
    the (uncompressed, compressed) offset pair that IS the format's
    interleaved metadata (sources/seekable.py); the read side cuts
    the COMPRESSED files into byte ranges — each task seeks, scans to
    the first chunk sync in-range, and inflates only its own chunks
    (16 KB splits here, so the single part file fans out over
    several tasks).  Chunks hold whole lines, so no record tears.
    The wordcount over the split-read lines hash-matches the oracle's
    wordcount over the source table — proving the chunk framing, the
    ownership rule, AND lossless line reassembly across split
    boundaries.  The uncompressed-offset seek (resume/tail contract)
    is pytest-covered."""
    from hadoop_20_warehouse_spark.sources.seekable import (
        read_ssf_lines,
        write_ssf,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = _fresh_subdir(_scratch_dir("ssf"), "documents")
    write_ssf(docs.select("text"), "text", path, chunk_bytes=8192)
    lines = read_ssf_lines(spark, path, split_bytes=16 * 1024)
    return (
        lines.select(F.explode(F.split(F.col("line"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# frame identity = (width, height, decoded gray value): the decoder
# recovers v bit-exactly (even-gray contract), so content-keyed dedup
# has a closed-form oracle over the generating columns
_FRAME_DEDUP_SQL = """
WITH base AS (
  SELECT o_orderkey AS id, o_custkey,
         o_orderkey % 3 + 2 AS n_frames,
         o_orderkey % 15 + 4 AS width,
         o_orderkey % 11 + 4 AS height
  FROM orders
), frames AS (
  SELECT id, width, height,
         2 * ((o_custkey + 7 * frame_idx) % 127) AS v
  FROM (
    SELECT *, unnest(generate_series(0, n_frames - 1)) AS frame_idx
    FROM base
  )
)
SELECT CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height,
       CAST(v AS BIGINT) AS gray,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT id) AS BIGINT) AS n_clips,
       CAST(MIN(id) AS BIGINT) AS keeper_clip
FROM frames
GROUP BY 1, 2, 3
HAVING COUNT(*) > 1
"""


@register("multimodal_frame_dedup", oracle=_FRAME_DEDUP_SQL)
def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-clip FRAME dedup by decoded content (r17) — the
    multimodal curation step a video training pipeline runs after
    demux: near-identical frames repeated across clips (intros,
    slates, test cards) waste tokens and leak across train/eval
    splits, so dedup keys on DECODED content, not container bytes.
    Clips are the multimodal_video_frames MJPEG fixtures (AVI even
    keys / multi-chunk ISO-BMFF odd keys); every frame (step=1) is
    demuxed and decoded executor-side, its identity is the decoded
    (width, height, gray) triple — recoverable bit-exactly by the
    even-gray contract — and ONE partial-aggregable groupBy elects
    per duplicate-group occurrence count, clip spread, and the
    min-clip keeper (the dedup_exact election shape on frame
    identities).  The oracle expands the same frame inventory from
    the generating columns, so the hash proves demux + decode +
    dedup end-to-end.  At 100 TB the identity would be a perceptual
    hash over the same decoded pixels — the plan (decode mapInPandas
    → keyed partial agg) is unchanged.  Reference analog:
    BytesWritable payloads + the wordcount combiner discipline."""
    from hadoop_20_warehouse_spark.multimodal.video import (
        decode_video_frames,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 3 + 2).cast("int").alias("nf"),
        (F.col("o_orderkey") % 15 + 4).cast("int").alias("w"),
        (F.col("o_orderkey") % 11 + 4).cast("int").alias("h"),
        (F.col("o_custkey") % 127).cast("int").alias("v0"),
        (F.col("o_orderkey") % 2 == 0).alias("use_avi"),
    )

    def enc(batches):
        import numpy as _np
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.jpeg import encode_jpeg
        from hadoop_20_warehouse_spark.multimodal.video import (
            build_avi_mjpeg,
            build_mp4_mjpeg,
        )

        for pdf in batches:
            payloads = []
            for nf, w, h, v0, avi in zip(
                pdf["nf"], pdf["w"], pdf["h"], pdf["v0"], pdf["use_avi"]
            ):
                frames = [
                    encode_jpeg(
                        _np.full(
                            (h, w), 2 * ((v0 + 7 * i) % 127), _np.uint8
                        )
                    )
                    for i in range(nf)
                ]
                payloads.append(
                    build_avi_mjpeg(frames, int(w), int(h))
                    if avi
                    else build_mp4_mjpeg(
                        frames, int(w), int(h), frames_per_chunk=2
                    )
                )
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    vids = _scatter(orders).mapInPandas(enc, "id long, payload binary")
    frames = decode_video_frames(vids, "id", "payload", step=1)
    return (
        frames.select(
            "id",
            "width",
            "height",
            F.round(F.col("mean_r")).cast("long").alias("gray"),
        )
        .groupBy("width", "height", "gray")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("id").cast("long").alias("n_clips"),
            F.min("id").cast("long").alias("keeper_clip"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


_AUDIO_SQL = """
SELECT c_custkey AS id,
       CAST(8000 + (c_custkey % 3) * 4000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(c_custkey % 1900 + 100 AS BIGINT) AS n_samples,
       CAST(c_custkey % 30000 + 1 AS BIGINT) AS peak,
       CAST(c_custkey % 30000 + 1 AS DOUBLE) AS rms
FROM customer
"""


@register("multimodal_audio_features", oracle=_AUDIO_SQL)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: per-customer PCM16 WAV files are synthesized
    (stdlib ``wave`` writer; a ±A square wave whose RMS is exactly A)
    and parsed back by ``audio_features`` — true header fields and
    numpy sample statistics over the actual int16 frames.  Oracle
    recomputes every feature from the generating columns."""
    from hadoop_20_warehouse_spark.multimodal.binary import audio_features

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (F.lit(8000) + (F.col("c_custkey") % 3) * 4000).cast("int").alias("sr"),
        (F.col("c_custkey") % 1900 + 100).cast("int").alias("n"),
        (F.col("c_custkey") % 30000 + 1).cast("int").alias("amp"),
    )

    def enc(batches):
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import (
            encode_wav_square,
        )

        for pdf in batches:
            payloads = [
                encode_wav_square(sr, n, amp)
                for sr, n, amp in zip(pdf["sr"], pdf["n"], pdf["amp"])
            ]
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    wavs = _scatter(cust).mapInPandas(enc, "id long, payload binary")
    return audio_features(wavs, "id", "payload")


_RESIZE_REAL_SQL = """
WITH meta AS (
  SELECT doc_id AS id,
         CAST(doc_id % 120 + 20 AS BIGINT) AS width,
         CAST(doc_id % 90 + 10 AS BIGINT) AS height,
         CAST(doc_id % 256 AS DOUBLE) AS out_mean_r
  FROM documents
)
SELECT id, width, height,
       CASE WHEN width <= 64 AND height <= 48 THEN width
            WHEN 64 * height <= 48 * width THEN 64
            ELSE greatest(1, (width * 48) // height) END AS out_width,
       CASE WHEN width <= 64 AND height <= 48 THEN height
            WHEN 64 * height <= 48 * width THEN greatest(1, (height * 64) // width)
            ELSE 48 END AS out_height,
       out_mean_r
FROM meta
"""


@register("multimodal_resize_real", oracle=_RESIZE_REAL_SQL)
def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL aspect-fit resize: synthesized PPM pixels are decoded and
    nearest-neighbor-resampled by numpy into a 64x48 box (integer-exact
    fit math shared with resize_stub's SQL twin; never upscale — the
    small-image branch is exercised), and the resampled pixels' mean
    proves the output payload is the real resample of the input.
    Oracle reproduces dims via the same CASE math and the mean from
    the generating color column."""
    from hadoop_20_warehouse_spark.multimodal.binary import resize_image_real

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 120 + 20).cast("int").alias("w"),
        (F.col("doc_id") % 90 + 10).cast("int").alias("h"),
        (F.col("doc_id") % 256).cast("int").alias("r"),
    )

    def enc(batches):
        import pandas as _pd

        from hadoop_20_warehouse_spark.multimodal.codecs import encode_ppm

        for pdf in batches:
            payloads = [
                encode_ppm(w, h, (r, (r * 3) % 256, (r * 5) % 256))
                for w, h, r in zip(pdf["w"], pdf["h"], pdf["r"])
            ]
            yield _pd.DataFrame({"id": pdf["id"], "payload": payloads})

    imgs = _scatter(docs).mapInPandas(enc, "id long, payload binary")
    return resize_image_real(imgs, "id", "payload", box_w=64, box_h=48).drop(
        "resized_ppm"
    )


_TFILE_SQL = """
SELECT o_orderkey, o_orderstatus AS status,
       md5(CAST(o_orderkey AS VARCHAR)) AS digest
FROM orders
ORDER BY o_orderkey LIMIT 400
"""


@register("tfile_roundtrip", oracle=_TFILE_SQL)
def q_tfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFile/BCFile interop round-trip (sources/tfile.py; reference
    io/file/tfile/TFile.java:128): 400 orders rows serialize as
    memcmp-sorted (key = zero-padded orderkey) gz-compressed TFile
    records through the DISTRIBUTED pure-Python writer (r18: one
    file per partition, executor-side encoding — the avro.py mold,
    replacing the driver-local py4j loop), then the classpath-free
    parser reads the containers back inside mapInPandas — BCFile
    tail/meta-index/data-index, TFile.meta record count, chunked
    values, zlib blocks — and the oracle regenerates the content from
    the original table: equality proves the byte-level format
    round-trips losslessly.  JVM-reader parity for the SAME encoder
    bytes is pinned by tests/test_seqfile.py
    (test_tfile_python_writer_jvm_reader_parity).  Legacy-migration
    surface (SURVEY maps TFile's ROLE to parquet); parallelism = file
    count, the format's own contract."""
    from hadoop_20_warehouse_spark.sources.tfile import (
        read_tfile,
        write_tfile,
    )

    orders = load_table(spark, sf_dir, "orders")
    kv = (
        orders.select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .limit(400)
        .select(
            F.encode(F.format_string("%020d", "o_orderkey"), "UTF-8").alias(
                "key"
            ),
            F.encode(
                F.concat_ws(
                    "\t",
                    "o_orderstatus",
                    F.md5(F.col("o_orderkey").cast("string")),
                ),
                "UTF-8",
            ).alias("value"),
        )
        .repartition(4)
    )
    path = _fresh_subdir(_scratch_dir("tfilert"), "orders")
    write_tfile(kv, path, compression="gz")
    back = read_tfile(spark, path + "/*.tfile")
    return back.select(
        F.col("key").cast("string").cast("long").alias("o_orderkey"),
        F.split_part(F.col("value").cast("string"), F.lit("\t"), F.lit(1)).alias(
            "status"
        ),
        F.split_part(F.col("value").cast("string"), F.lit("\t"), F.lit(2)).alias(
            "digest"
        ),
    )


# ===========================================================================
# SequenceFile-sourced curation end-to-end (VERDICT r14 stretch #8):
# the reference's actual production shape — binary SequenceFile in,
# curated warehouse out — composed with the LLM surface in one
# hash-checked plan.
# ===========================================================================

_SEQC_BUDGET = 512
_SEQC_SHARDS = 8


def _seqfile_curate_oracle() -> str:
    from hadoop_20_warehouse_spark.functions.hashing import (
        md5_bucket_sql,
        md5_int64_sql,
    )
    from hadoop_20_warehouse_spark.functions.text import token_count_sql
    from hadoop_20_warehouse_spark.inventory_curation import _CLS_SQL

    row_fp = md5_int64_sql(
        "concat_ws('|', doc_id, source, tok_len, batch_id, batch_offset)"
    )
    return f"""
WITH cls AS (
  SELECT doc_id FROM ( {_CLS_SQL} ) WHERE keep
),
d AS (
  SELECT d.doc_id, d.source,
         {token_count_sql('d.text')} AS tok_len,
         CAST({md5_bucket_sql("CAST(d.doc_id AS VARCHAR)", _SEQC_SHARDS)} AS BIGINT) AS shard,
         md5(CAST(d.doc_id AS VARCHAR)) AS h
  FROM documents d JOIN cls ON cls.doc_id = d.doc_id
),
c AS (
  SELECT doc_id, source, shard, tok_len,
         SUM(tok_len) OVER (PARTITION BY shard ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok_len AS start_off
  FROM d
),
placed AS (
  SELECT doc_id, source, shard, tok_len,
         CAST(start_off // {_SEQC_BUDGET} AS BIGINT) AS batch_id,
         CAST(start_off % {_SEQC_BUDGET} AS BIGINT) AS batch_offset
  FROM c
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_batches,
       CAST(SUM(tok_len) AS BIGINT) AS total_tokens,
       CAST(bit_xor({row_fp}) AS BIGINT) AS digest
FROM placed
GROUP BY shard
"""


@register("pipeline_seqfile_curate", oracle=_seqfile_curate_oracle())
def q_pipeline_seqfile_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SequenceFile in, warehouse out — the reference's production
    shape (io/SequenceFile.java:186 is the warehouse interchange
    format; jobs consumed SequenceFile shards and wrote curated
    SequenceFile/warehouse output) driven through the LLM surface:

    (1) the documents table is serialized to a real SequenceFile
    (LongWritable doc_id -> Text "source\\ttext",
    SequenceFileOutputFormat via the Writable converters); (2) read
    back (SequenceFileInputFormat) and parsed on the FIRST tab (the
    KeyValueTextInputFormat separator discipline,
    KeyValueLineRecordReader.java:45 — text may itself contain tabs);
    (3) classifier-gated (the fastText-shaped zero-shuffle gate the
    endgames pin); (4) token-budget packed per md5 shard; (5)
    physically exported partitionBy(shard) and read back; (6) audited
    per shard with an order-insensitive row-fingerprint XOR.

    The oracle runs gate+pack+audit on the ORIGINAL parquet table, so
    a hash match proves the binary round-trip was lossless (key
    widening, tab framing, Writable conversion) AND the curation
    wiring is identical on both input paths — the §1 interop seam and
    the LLM surface compose.

    Scale shape: the SequenceFile leg is the RDD interop path
    (per-partition readers, no shuffle); gate is row-local broadcast
    inference; the pack window is per-md5-shard; export is one
    partitionBy fan-out.  At 100 TB the engine's native format stays
    parquet — this query exists to exchange corpora with Hadoop
    deployments without losing the curation contract."""
    from hadoop_20_warehouse_spark.functions.hashing import md5_int64
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget
    from hadoop_20_warehouse_spark.inventory_curation import _classifier_gate
    from hadoop_20_warehouse_spark.sources.io import (
        read_sequence,
        write_sequence,
    )

    docs = load_table(spark, sf_dir, "documents")
    kv = docs.select(
        F.col("doc_id").cast("long").alias("key"),
        F.concat_ws("\t", F.col("source"), F.col("text")).alias("value"),
    )
    seq = _fresh_subdir(_scratch_dir("seq_curate"), "seq")
    write_sequence(kv, seq)
    back = read_sequence(spark, seq)
    tabpos = F.instr(F.col("value"), "\t")
    parsed = back.select(
        F.col("key").cast("long").alias("doc_id"),
        F.substring_index(F.col("value"), "\t", 1).alias("source"),
        F.col("value").substr(tabpos + 1, F.length("value")).alias("text"),
    )
    gated = _classifier_gate(parsed, "doc_id", "source", "text")
    packed = pack_token_budget(
        gated,
        budget=_SEQC_BUDGET,
        n_shards=_SEQC_SHARDS,
        passthrough=("source",),
    )
    out = _fresh_subdir(_scratch_dir("seq_curate"), "shards")
    packed.write.partitionBy("shard").parquet(out)
    rb = spark.read.schema(packed.schema).parquet(out)
    row_fp = md5_int64(
        F.concat_ws(
            "|",
            *[
                F.col(c).cast("string")
                for c in ("doc_id", "source", "tok_len", "batch_id", "batch_offset")
            ],
        )
    )
    return rb.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("batch_id").cast("long").alias("n_batches"),
        F.sum("tok_len").cast("long").alias("total_tokens"),
        F.bit_xor(row_fp).cast("long").alias("digest"),
    )


# declared type by doc_id % 4; payloads get a REAL magic prefix for
# ids % 4 in {0,1,2} and a corrupted (magic-less) body for % 4 == 3 —
# the planted mismatch the validator must catch
_MAGIC_SQL = """
WITH payloads AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'image/ppm' WHEN 1 THEN 'image/bmp'
           WHEN 2 THEN 'audio/wav' ELSE 'image/ppm' END AS declared_mime,
         CASE doc_id % 4
           WHEN 0 THEN 'P6' || chr(10) || text
           WHEN 1 THEN 'BM' || text
           WHEN 2 THEN 'RIFF' || text
           ELSE text END AS payload
  FROM documents
),
sniffed AS (
  SELECT doc_id, declared_mime,
         CASE WHEN payload LIKE 'P6' || chr(10) || '%' THEN 'image/ppm'
              WHEN payload LIKE 'BM%' THEN 'image/bmp'
              WHEN payload LIKE 'RIFF%' THEN 'audio/wav'
              ELSE 'unknown' END AS detected_mime
  FROM payloads
)
SELECT declared_mime, detected_mime,
       CAST(COUNT(*) AS BIGINT) AS n_blobs,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
FROM sniffed GROUP BY declared_mime, detected_mime
""".strip()


@register("multimodal_validate_magic", oracle=_MAGIC_SQL)
def q_multimodal_validate_magic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload validation by MAGIC BYTES: sniff each blob's
    container signature (PPM 'P6\\n', BMP 'BM', RIFF/WAV — the three
    containers multimodal/codecs.py really decodes) and cross-tab
    declared vs detected mime with an example doc id per cell — the
    first gate of a multimodal ingest (a corrupted or mislabeled blob
    fails HERE, one row-local prefix check, before any decoder ever
    runs; decoders crash, sniffers count).  A quarter of the payloads
    are deliberately built WITHOUT their declared magic, so the
    (declared=ppm, detected=unknown) cell is the planted mismatch the
    hash pins.

    Payload construction (text bytes prefixed with real magics) is
    identical string arithmetic on both engines, so the oracle covers
    sniff logic byte-for-byte; detection order is fixed and the cells
    carry MIN(doc_id) so the mapping, not just the counts, is hashed.

    Scale: one row-local projection (prefix LIKE on the binary's head
    — never reads the blob body) + one small keyed agg; at 100 TB
    this is the cheapest full-corpus pass the pipeline owns, which is
    the point of running it FIRST."""
    docs = load_table(spark, sf_dir, "documents")
    declared = F.expr(
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'image/ppm' "
        "WHEN 1 THEN 'image/bmp' WHEN 2 THEN 'audio/wav' "
        "ELSE 'image/ppm' END"
    )
    payload = F.expr(
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'P6' || chr(10) || text "
        "WHEN 1 THEN 'BM' || text WHEN 2 THEN 'RIFF' || text "
        "ELSE text END"
    )
    sniffed = docs.select(
        "doc_id",
        declared.alias("declared_mime"),
        payload.alias("_pl"),
    ).select(
        "doc_id",
        "declared_mime",
        F.expr(
            "CASE WHEN _pl LIKE CONCAT('P6', chr(10), '%') THEN 'image/ppm' "
            "WHEN _pl LIKE 'BM%' THEN 'image/bmp' "
            "WHEN _pl LIKE 'RIFF%' THEN 'audio/wav' "
            "ELSE 'unknown' END"
        ).alias("detected_mime"),
    )
    return sniffed.groupBy("declared_mime", "detected_mime").agg(
        F.count(F.lit(1)).cast("long").alias("n_blobs"),
        F.min("doc_id").cast("long").alias("example_doc_id"),
    )


# ===========================================================================
# r18: compressed SequenceFile write + har:// archive read (VERDICT #4, #5)
# ===========================================================================


@register(
    "sequence_compressed_roundtrip",
    oracle="""
SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS priority
FROM orders WHERE o_orderkey % 5 = 0
""",
)
def q_sequence_compressed_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compressed SequenceFile WRITE (r18; the reference's
    RecordCompressWriter/BlockCompressWriter variants —
    io/SequenceFile.java:779,1047,1158): orders write block-gzip via
    the JVM SequenceFileOutputFormat knobs, the JVM reader consumes
    them back (the legacy-Hadoop-consumer contract), and the oracle
    regenerates the rows from the source table — equality proves the
    compressed container round-trips losslessly.  The pure-Python
    parser's independent decode of the same bytes (all three stock
    codecs, record AND block layout) is pinned by
    tests/test_seqfile.py.  Scale: per-partition files, compression
    inside the JVM write path, zero extra shuffle."""
    from hadoop_20_warehouse_spark.sources.io import (
        read_sequence,
        write_sequence,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 0
    )
    kv = orders.select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("value"),
    )
    path = _fresh_subdir(_scratch_dir("seqcomp"), "orders")
    write_sequence(kv, path, compression="gzip", compress_type="block")
    back = read_sequence(spark, path)
    return back.select(
        F.col("key").cast("long").alias("o_orderkey"),
        F.split_part(F.col("value"), F.lit("|"), F.lit(1)).alias("status"),
        F.split_part(F.col("value"), F.lit("|"), F.lit(2)).alias("priority"),
    )


@register(
    "har_archive_read",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS nbytes,
       md5(text) AS digest
FROM documents
""",
)
def q_har_archive_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """har:// Hadoop Archive end-to-end (r18; fs/HarFileSystem.java:48
    index grammar + tools/HadoopArchives.java:570-699 writer): every
    document becomes a member file, archived into part files +
    hash-sorted ``_index`` + ``_masterindex`` hash-range blocks by the
    per-partition writer, then served BACK out of the archive by the
    index-driven distributed reader (sources/har.py) — so a user
    arriving with historical .har data can land it.  doc_id parses
    from the member NAME; byte length and md5 come from the member
    PAYLOAD; the oracle recomputes all three from the source table —
    equality proves naming, index round-trip, and payload slicing are
    all lossless.  Scale: only index metadata (one line per member)
    crosses the driver, exactly what the reference's single reducer
    materializes; payload reads are (part, offset, length) slices
    sorted for sequential access, fanned out across executors;
    ``har_lookup`` point reads touch only the master-range-selected
    index bytes (pytest-pinned)."""
    from hadoop_20_warehouse_spark.sources.har import (
        read_har_files,
        write_har,
    )

    docs = load_table(spark, sf_dir, "documents")
    named = docs.select(
        F.format_string(
            "/corpus/%s/doc_%08d.txt", F.col("lang"), F.col("doc_id")
        ).alias("name"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    path = _fresh_subdir(_scratch_dir("har"), "corpus")
    write_har(named, "name", "payload", path, num_indexes=64)
    back = read_har_files(spark, path, prefix="/corpus/")
    return back.select(
        F.regexp_extract("name", r"doc_(\d+)\.txt", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("payload").cast("long").alias("nbytes"),
        F.md5("payload").alias("digest"),
    )


@register(
    "sequence_sorter_total_order",
    oracle="""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
         AS position,
       o_orderkey, o_orderstatus AS status
FROM orders WHERE o_orderkey % 3 = 0
""",
)
def q_sequence_sorter_total_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``SequenceFile.Sorter`` as a hash-CHECKED query (r18; reference
    io/SequenceFile.java:2269 sort/merge — previously a pytest-only
    row because a sorted WRITE is invisible to an order-insensitive
    hash).  Unsorted orders write a SequenceFile; the Sorter analog is
    the engine's total-order sort (range exchange) re-written as
    block-gzip SequenceFiles whose part-file NAME order carries the
    global key order — exactly the sorted-runs contract Sorter.merge
    produces.  The readback makes sortedness a COLUMN: the pure parser
    (compressed-container path) emits per-file record ordinals, and
    per-file prefix offsets (O(files) metadata, the
    global_shuffle_order discipline — no corpus-wide window) lift them
    to a global ``position``.  The oracle's ROW_NUMBER over the source
    table must match position-for-position: one hash proves the sort
    is total, the zero-padded Text keys collate like the numeric
    oracle order, AND the compressed write/parse round-trips.  Scale:
    sort is one range exchange; readback is per-file parallel +
    broadcast offsets."""
    from hadoop_20_warehouse_spark.sources.io import write_sequence
    from hadoop_20_warehouse_spark.sources.seqfile import (
        read_sequence_with_position,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 0
    )
    kv = orders.select(
        F.format_string("%020d", "o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("value"),
    )
    raw = _fresh_subdir(_scratch_dir("seqsort"), "unsorted")
    write_sequence(kv, raw)
    # the Sorter: read back, total-order sort, sorted-runs re-write
    from hadoop_20_warehouse_spark.sources.io import read_sequence

    sorted_dir = _fresh_subdir(_scratch_dir("seqsort"), "sorted")
    write_sequence(
        read_sequence(spark, raw).orderBy("key"),
        sorted_dir,
        compression="gzip",
        compress_type="block",
    )
    back = read_sequence_with_position(spark, sorted_dir + "/part-*")
    return back.select(
        "position",
        F.col("key").cast("long").alias("o_orderkey"),
        F.col("value").alias("status"),
    )


@register(
    "mapfile_interop_lookup",
    oracle="""
SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS priority
FROM orders
WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 = 0
""",
)
def q_mapfile_interop_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-format MapFile point lookups (r18; io/MapFile.java:33 —
    complements mapfile_point_lookup's parquet-native analog with the
    legacy byte format itself).  A MapFile directory is written
    through the actual JVM MapFile.Writer (Text keys sorted, interval
    index), then probed entirely classpath-free: the pure parser loads
    the interval index ONCE, bisects every probe to its position
    group, and does one BOUNDED data read + single forward merge-scan
    per group (sources/mapfile.mapfile_get_many — never the whole
    data file).  Probes mix present keys (%21 == 0) with absent ones;
    the oracle recomputes the present set from the source table, so
    the hash proves index bisection, bounded seeks, sync handling,
    and the absent-probe walk all land exactly.  Scale: lookups are
    the DRIVER-side serving pattern by design
    (MapFileOutputFormat.getEntry's contract); the full-scan path
    (read_mapfile) is per-file parallel."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        mapfile_get_many,
        write_mapfile_jvm,
    )

    orders = load_table(spark, sf_dir, "orders")
    rows = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
        .collect()
    )
    pairs = [
        (
            f"{r['o_orderkey']:020d}",
            r["o_orderstatus"] + "|" + r["o_orderpriority"],
        )
        for r in rows
    ]
    d = _fresh_subdir(_scratch_dir("mapfile_real"), "orders")
    write_mapfile_jvm(spark, d, pairs, index_interval=32)
    probes = [
        f"{k:020d}"
        for k in range(0, rows[-1]["o_orderkey"] + 1, 3)
    ]
    hits = mapfile_get_many(d, probes)
    out = [
        (int(k), v.split("|", 1)[0], v.split("|", 1)[1])
        for k, v in hits.items()
    ]
    return spark.createDataFrame(
        out, "o_orderkey long, status string, priority string"
    )


@register(
    "mapfile_sharded_serve",
    oracle="""
SELECT c_custkey, c_mktsegment AS segment
FROM customer WHERE c_custkey % 3 = 0
""",
)
def q_mapfile_sharded_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-sharded MapFile SERVING, written AND read classpath-free
    (r18; mapred/MapFileOutputFormat.java:41 writer shape + :78
    getEntry routing): customers range-partition into 4 shards, each
    shard written by the executors as a REAL MapFile directory
    (pure-Python v6 SequenceFile encoder with pre-append index
    positions — sources/mapfile.write_mapfile; JVM MapFile.Reader
    parity pytest-pinned), then a probe set (every third custkey,
    plus absent keys past the range) is served by getEntry routing:
    shard chosen by bisecting the O(shards) first-key bounds, probes
    answered per shard with one batched bounded-I/O merge-scan.  The
    oracle recomputes the hit set from the source table — the hash
    proves the distributed write, the shard routing, and the lookup
    walk end-to-end.  Scale: write is per-partition with zero extra
    shuffle beyond the range exchange; serving I/O is
    index-metadata + one bounded window per probe GROUP."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        mapfile_shards_get_many,
        write_mapfile,
    )

    cust = load_table(spark, sf_dir, "customer")
    kv = cust.select(
        F.format_string("%010d", "c_custkey").alias("key"),
        F.col("c_mktsegment").alias("value"),
    ).repartitionByRange(4, "key")
    root = _fresh_subdir(_scratch_dir("mapfile_shards"), "customer")
    write_mapfile(kv, root, index_interval=64, compression="gzip")
    max_key = cust.agg(F.max("c_custkey")).first()[0]
    probes = [f"{k:010d}" for k in range(0, max_key + 151, 3)]
    hits = mapfile_shards_get_many(root, probes)
    return spark.createDataFrame(
        [(int(k), v) for k, v in hits.items()],
        "c_custkey long, segment string",
    )


@register(
    "setfile_interop_membership",
    oracle="""
SELECT p_partkey FROM part WHERE p_partkey % 6 = 0
""",
)
def q_setfile_interop_membership(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Real-format SetFile membership (r18; io/SetFile.java:34 — a
    MapFile whose values are NullWritable, so PRESENCE is the
    payload): even partkeys write as range-sharded SetFile
    directories through the classpath-free per-partition encoder,
    then every third partkey probes the set via getEntry shard
    routing — the intersection (%6) must hash-match the oracle's
    recomputation.  JVM SetFile.Reader parity is pytest-pinned.
    Scale: write is per-partition; probes are index-metadata +
    bounded windows, the format's own serving pattern."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        setfile_contains_many,
        write_setfile,
    )

    part = load_table(spark, sf_dir, "part")
    members = (
        part.filter(F.col("p_partkey") % 2 == 0)
        .select(F.format_string("%011d", "p_partkey").alias("key"))
        .repartitionByRange(3, "key")
    )
    root = _fresh_subdir(_scratch_dir("setfile_real"), "part")
    write_setfile(members, root, index_interval=64)
    max_key = part.agg(F.max("p_partkey")).first()[0]
    probes = [f"{k:011d}" for k in range(0, max_key + 1, 3)]
    hits = setfile_contains_many(root, probes)
    return spark.createDataFrame(
        [(int(k),) for k in hits], "p_partkey long"
    )


@register(
    "arrayfile_interop_lookup",
    oracle="""
SELECT position, name FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS BIGINT)
           AS position,
         c_name AS name
  FROM customer
) WHERE position % 5 = 0
""",
)
def q_arrayfile_interop_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format ArrayFile ordinal lookups (r18; io/ArrayFile.java:34
    — a MapFile keyed by the global APPEND ordinal): customer names in
    custkey order (range partitions + within-partition sort pin the
    zipWithIndex global numbering deterministically) write as sharded
    ArrayFile directories; every fifth ordinal then reads back through
    the shard-routed bounded lookup, and the oracle's ROW_NUMBER
    recomputes the same (position, name) pairs — the hash proves the
    global numbering, the shard routing, and the LongWritable wire
    round-trip at once.  JVM ArrayFile.Reader parity is
    pytest-pinned."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        arrayfile_get_many,
        write_arrayfile,
    )

    cust = load_table(spark, sf_dir, "customer")
    ordered = (
        cust.select("c_custkey", "c_name")
        .repartitionByRange(4, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .select("c_name")
    )
    root = _fresh_subdir(_scratch_dir("arrayfile_real"), "customer")
    n = write_arrayfile(ordered, root, index_interval=64)
    hits = arrayfile_get_many(root, list(range(0, n, 5)))
    return spark.createDataFrame(
        [(i, v) for i, v in hits.items()], "position long, name string"
    )


@register(
    "bloommapfile_interop_lookup",
    oracle="""
SELECT o_orderkey, o_orderstatus AS status
FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 3 = 0
""",
)
def q_bloommapfile_interop_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Real-format BloomMapFile serving (r18; io/BloomMapFile.java:47
    + util/bloom/DynamicBloomFilter): every fourth order writes as
    range-sharded BloomMapFile directories — MapFile data/index PLUS
    the murmur-hashed DynamicBloomFilter ``bloom`` side file, all
    encoded classpath-free on the executors (JVM BloomMapFile.Reader
    parity and bit-exact MurmurHash parity pytest-pinned).  Every
    third orderkey then probes the shards: the bloom GATE drops
    absent keys before any data I/O (the format's reason to exist),
    and survivors go through the exact bounded lookup — so the result
    is deterministic even though the gate is probabilistic, and the
    oracle's closed-form intersection (%12) must hash-match.  Scale:
    gate cost is O(bloom bits) driver-side metadata per shard; data
    I/O is touched only for maybe-present keys."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        bloom_shards_get_many,
        write_bloommapfile,
    )

    orders = load_table(spark, sf_dir, "orders")
    members = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.format_string("%020d", "o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("value"),
        )
        .repartitionByRange(3, "key")
    )
    root = _fresh_subdir(_scratch_dir("bloommapfile"), "orders")
    write_bloommapfile(members, root, index_interval=64)
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    probes = [f"{k:020d}" for k in range(0, max_key + 1, 3)]
    hits, _skipped = bloom_shards_get_many(root, probes)
    return spark.createDataFrame(
        [(int(k), v) for k, v in hits.items()],
        "o_orderkey long, status string",
    )
