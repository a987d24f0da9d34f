"""Physical-plan assertions (SURVEY.md §4 posture): broadcasts chosen,
pushdown reaching the scan, no row-at-a-time Python, bounded shuffle
counts — the '100 TB review' encoded as tests so refactors can't
regress the plan shape silently."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.plans.explain import (
    physical_plan,
    count_exchanges,
    pushed_filters,
    read_schema,
    uses_broadcast_join,
    uses_python_row_eval,
)
from hadoop_20_warehouse_spark.registry import QUERIES
import hadoop_20_warehouse_spark.inventory  # noqa: F401 - registers queries


def test_dim_joins_broadcast(spark, sf_dir):
    df = QUERIES["join_broadcast_dims"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_scan_filter_projects_and_pushes(spark, sf_dir):
    df = QUERIES["scan_filter_sample"](spark, sf_dir)
    # column pruning: only the 6 referenced columns reach the scan
    rs = read_schema(df)
    assert "l_comment" not in rs and "l_orderkey" in rs
    # a pure filter+project plan has zero shuffles
    assert count_exchanges(df) == 0


def test_predicate_pushdown_reaches_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    pf = pushed_filters(df)
    assert "l_quantity" in pf, f"expected quantity pushdown, got: {pf!r}"


def test_single_agg_single_shuffle(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    # one hash-aggregate pair → one exchange, plus at most the scatter
    # round-robin (paid only on single-split local inputs so the
    # decimal partial agg parallelizes — r18; a well-split production
    # scan passes through and the plan is back to exactly one)
    assert 1 <= count_exchanges(df) <= 2
    # the partial-agg pair must still sit under the exchange
    assert "HashAggregate" in physical_plan(df)


def test_no_python_row_eval_on_jvm_operators(spark, sf_dir):
    for name in ("pricing_summary", "wordcount", "join_inner", "dedup_minhash_lsh",
                 "knn_cosine_brute", "text_lang_id"):
        df = QUERIES[name](spark, sf_dir)
        assert not uses_python_row_eval(df), f"{name} fell into BatchEvalPython"


def test_override_join_single_shuffle(spark, sf_dir):
    # union + window max: one shuffle on the key, no join
    df = QUERIES["join_override"](spark, sf_dir)
    assert count_exchanges(df) == 1


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    """The as-of union+window construction must compile to exactly one
    key exchange and contain no physical join at all."""
    df = QUERIES["join_asof_attribution"](spark, sf_dir)
    assert count_exchanges(df) == 1
    plan = physical_plan(df)
    assert "Join" not in plan, f"asof should be join-free, got:\n{plan}"


def test_band_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketized band join must be an equi-join (hash or
    sort-merge) — a BroadcastNestedLoopJoin/CartesianProduct means the
    range predicate leaked into the join and the bucket trick broke."""
    df = QUERIES["join_band_events"](spark, sf_dir)
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_centroids_broadcast(spark, sf_dir):
    """IVF quantization must broadcast the centroid table; the corpus
    is never shuffled for assignment."""
    df = QUERIES["knn_ivf"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_minhash_no_python_and_bounded_shuffles(spark, sf_dir):
    df = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    assert not uses_python_row_eval(df)
    # The band frame's hash exchange on (band_idx, band_hash), printed
    # under each side of the self-join (AQE reuses it at run time), and
    # the scatter round-robin below the signature worker, which this
    # count sees on one side only. Each pair is kept at its first shared
    # band, so no pair distinct adds an exchange above the join.
    assert count_exchanges(df) <= 3, physical_plan(df)


def test_pricing_summary_pushes_date_filter(spark, sf_dir):
    """The flagship's shipdate predicate must reach the parquet scan
    (scan-time filtering is the reference's SequenceFileInputFilter
    idea — free in Spark only if the filter stays below the agg)."""
    df = QUERIES["pricing_summary"](spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf, f"expected shipdate pushdown, got: {pf!r}"


def test_sql_entrypoint_pushdown_and_no_python(spark, sf_dir):
    """spark.sql over the catalog views keeps full Catalyst treatment:
    filters pushed to scans, no Python in the plan."""
    df = QUERIES["sql_shipping_priority"](spark, sf_dir)
    pf = pushed_filters(df)
    assert "c_mktsegment" in pf or "o_orderdate" in pf, pf
    assert not uses_python_row_eval(df)


def test_curation_maps_are_shuffle_free(spark, sf_dir):
    """The per-document curation stats (scrub, quantize) and the
    fixed-k sample must stay pure maps / TakeOrdered: zero exchanges,
    no Python, and only the referenced columns read — at 100 TB these
    are single-pass scans. Repetition stats is the same map plus the
    scatter round-robin (it pays one exchange on a single-split local
    input so the CPU-dense sort+run-length work parallelizes; a
    well-split production scan passes through with zero)."""
    for name in ("text_stopword_scrub", "embedding_quantize_int8",
                 "sample_fixed_k"):
        df = QUERIES[name](spark, sf_dir)
        assert count_exchanges(df) == 0, f"{name}: {physical_plan(df)}"
        assert not uses_python_row_eval(df), name
    rep = QUERIES["text_repetition_stats"](spark, sf_dir)
    assert count_exchanges(rep) <= 1, physical_plan(rep)
    assert not uses_python_row_eval(rep)
    rs = read_schema(rep)
    assert "lang" not in rs and "source" not in rs, rs


def test_sample_per_group_window_is_bounded(spark, sf_dir):
    """The per-group quota must be two-phase (VERDICT r2): a window
    partitioned by (lang, salt) feeding a <=K-per-subgroup filter, then
    the exact-rank window over the sliver. A single window partitioned
    by the low-cardinality group key alone is a one-task sort of most
    of the corpus at 100 TB."""
    df = QUERIES["sample_per_group"](spark, sf_dir)
    plan = physical_plan(df)
    assert "_salt" in plan and "_rk1" in plan, plan
    # both windows present: the salted partial and the final rank
    assert plan.count("Window") >= 2, plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-slice gram set is the small side — it must broadcast
    so the train corpus is never shuffled by the contamination join."""
    df = QUERIES["decontaminate_ngram"](spark, sf_dir)
    assert uses_broadcast_join(df)
    assert not uses_python_row_eval(df)


def test_decontaminate_hint_guarded_by_size(spark, sf_dir):
    """The eval-gram broadcast is guarded, not forced: when the size
    estimate exceeds the threshold (simulated by dropping the
    threshold to 1 byte), the hint must disappear and the join fall
    back to the planner/AQE choice — a corpus-proportional eval slice
    must not be force-collected to the driver (VERDICT r2)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        df = QUERIES["decontaminate_ngram"](spark, sf_dir)
        assert not uses_broadcast_join(df), physical_plan(df)
    finally:
        spark.conf.set(key, prior)
    # guard helper: unknown/huge estimates pass through unhinted
    from hadoop_20_warehouse_spark.session import hint_broadcast_if_small

    ev = QUERIES["decontaminate_ngram"](spark, sf_dir).select("doc_id")
    hinted = hint_broadcast_if_small(ev, threshold_bytes=1)
    assert hinted is ev


def test_point_lookup_pushes_key_to_parquet(spark, sf_dir, tmp_path):
    """MapFile.getEntry analog: the point-lookup key must reach the
    parquet scan as a pushed filter so min/max row-group stats (the
    sparse-index analog) can skip non-matching groups."""
    from hadoop_20_warehouse_spark.sources.io import point_lookup, write_sorted_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    path = str(tmp_path / "sorted_orders")
    write_sorted_table(orders, path, ["o_orderkey"], partitions=4)
    df = point_lookup(spark, path, "o_orderkey", 1234)
    pf = pushed_filters(df)
    assert "o_orderkey" in pf, f"expected key pushdown, got: {pf!r}"
    assert count_exchanges(df) == 0


def test_pii_redact_is_row_local(spark, sf_dir):
    """Redaction is a pure regexp_replace chain: zero exchanges, no
    Python row eval — linear at any scale."""
    df = QUERIES["pii_redact"](spark, sf_dir)
    assert count_exchanges(df) == 0
    assert not uses_python_row_eval(df)


def test_dedup_paragraph_bounded_shuffles_no_python(spark, sf_dir):
    """C4-style span dedup: chunk-agg + chunk-join + doc-agg — a fixed
    number of keyed exchanges (no all-pairs, no window-over-chunk), all
    JVM-side."""
    df = QUERIES["dedup_paragraph_exact"](spark, sf_dir)
    assert not uses_python_row_eval(df)
    n = count_exchanges(df)
    assert n <= 4, f"expected <=4 keyed exchanges, plan has {n}"


def test_pack_token_budget_single_exchange_no_python(spark, sf_dir):
    """Sequence packing is one shard-keyed window: exactly one exchange
    (by shard), no Python row eval — the shard count, not the corpus
    size, bounds every window partition."""
    df = QUERIES["pack_token_budget"](spark, sf_dir)
    assert not uses_python_row_eval(df)
    n = count_exchanges(df)
    assert n == 1, f"expected 1 shard exchange, plan has {n}"


def test_pipeline_curate_pack_bounded_exchanges_no_python(spark, sf_dir):
    """The composed pipeline must be exactly the union of its stages'
    plans: keyed exchanges for (chunk firsts, doc reassembly, pack
    shard window) plus at most a broadcast for the firsts side and
    the scatter under the scan — no extra shuffle from composition
    (the stats passthrough replaces a corpus-sized join) and no
    Python fallback anywhere."""
    df = QUERIES["pipeline_curate_pack"](spark, sf_dir)
    assert not uses_python_row_eval(df)
    assert count_exchanges(df) <= 5, physical_plan(df)


def test_global_shuffle_windows_are_sharded(spark, sf_dir):
    """corpus_global_shuffle's corpus-side window must be PARTITIONED
    (by shard) — the only unpartitioned window allowed is the prefix
    sum over the n_shards-row offsets frame, and the offsets must
    reach the corpus via broadcast, not a shuffled join."""
    df = QUERIES["corpus_global_shuffle"](spark, sf_dir)
    plan = physical_plan(df)
    assert not uses_python_row_eval(df)
    assert uses_broadcast_join(df), plan
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines, plan
    corpus_wins = [l for l in win_lines if "row_number" in l]
    assert corpus_wins and all(
        "windowspecdefinition(shard" in l for l in corpus_wins
    ), f"corpus window must partition by shard:\n{plan}"


def test_lang_id_is_pure_map(spark, sf_dir):
    """Language ID is an in-row argmax over the per-language stopword
    scores — zero exchanges, a pure map over the scan (the union+
    window form this replaced shuffled |corpus| x #langs rows)."""
    df = QUERIES["text_lang_id"](spark, sf_dir)
    assert count_exchanges(df) == 0, physical_plan(df)
    assert not uses_python_row_eval(df)


def test_epoch_expand_is_pure_map(spark, sf_dir):
    """Epoch expansion is one row-local sequence explode over the
    scan: zero exchanges, no Python row eval — output multiplies, the
    plan does not shuffle."""
    df = QUERIES["corpus_epoch_expand"](spark, sf_dir)
    assert count_exchanges(df) == 0, physical_plan(df)
    assert not uses_python_row_eval(df)


def test_mixture_sample_windows_are_domain_sharded(spark, sf_dir):
    """Domain-mixture sampling must never window over a bare domain
    (the dominant domain of a real corpus would sort through one
    partition): the corpus-side cumsum partitions by (domain, shard),
    the only narrower window is the prefix sum over the domains x
    shards offsets frame, and the offsets reach the corpus via
    broadcast."""
    df = QUERIES["corpus_mixture_sample"](spark, sf_dir)
    plan = physical_plan(df)
    assert not uses_python_row_eval(df)
    assert uses_broadcast_join(df), plan
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines, plan
    corpus_wins = [l for l in win_lines if "sum(tok_len" in l]
    assert corpus_wins and all(
        "windowspecdefinition(source" in l and "shard" in l for l in corpus_wins
    ), f"corpus cumsum must partition by (domain, shard):\n{plan}"


def _strip_cached_subtrees(plan: str) -> str:
    """Drop every InMemoryRelation DEFINITION subtree from a plan
    string: toString() reprints the cached plan under each consumer,
    so naive node counting double-charges work that executes once."""
    out, skip_col = [], None
    for line in plan.splitlines():
        pos = line.find("+- ")
        if skip_col is not None:
            if pos >= 0 and pos <= skip_col:
                skip_col = None
            else:
                continue
        if "InMemoryRelation" in line:
            skip_col = pos
            continue
        out.append(line)
    return "\n".join(out)


def test_pipeline_mix_place_composes_without_recompute(spark, sf_dir):
    """The composed mixing recipe must evaluate the mixture subtree
    ONCE: payload rides passthrough columns (no re-joins), and the one
    parquet STAGING CHECKPOINT (written eagerly inside the query, r7 —
    replacing the r6 persist whose cache outlived the call, ADVICE r6)
    feeds BOTH of global_shuffle_order's passes (rank + counts).  The
    returned plan must read only the staged parquet — exactly two
    scans of it, zero scans of the raw tables — with only the
    placement exchanges downstream; without staging the mixture
    pipeline re-ran once per consumer (23 exchanges, 4 raw scans).
    No cache may remain after the query returns."""
    before_caches = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = QUERIES["pipeline_mix_place"](spark, sf_dir)
    assert (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        == before_caches
    ), "pipeline_mix_place must not leave a persisted frame behind"
    assert not uses_python_row_eval(df)
    plan = physical_plan(df)
    assert plan.count("InMemoryTableScan") == 0, plan
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 2, plan
    assert all("mix_place" in l for l in scans), (
        f"both scans must read the staged parquet, not raw tables:\n{plan}"
    )
    n = plan.count("Exchange")
    assert n <= 5, f"expected <=5 placement exchanges, got {n}:\n{plan}"


def test_weighted_sample_is_partial_topk(spark, sf_dir):
    """Top-K-by-key must compile to TakeOrderedAndProject (per-
    partition partial top-K merged on the driver) with ZERO exchanges
    — a global orderBy without the limit fusing would shuffle the
    whole corpus to rank 200 rows."""
    df = QUERIES["corpus_weighted_sample"](spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert count_exchanges(df) == 0, plan
    assert not uses_python_row_eval(df)


def test_cluster_representative_election_is_partial_agg(spark, sf_dir):
    """The per-cluster argmax must be a partial-aggregable
    min(struct(-tok, id)) — NO window over component (a mega-cluster
    would serialize into one task) and no Python eval."""
    df = QUERIES["dedup_cluster_representative"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "min(" in plan, plan
    assert not uses_python_row_eval(df)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the scan-time pruning that makes a
    partitioned 100 TB fact table readable: joining a FILTERED dim
    onto the fact's partition column must inject a dynamicpruning
    subquery into the fact scan's partition filters, so only the
    surviving partitions' files are read (the reference's equivalent
    was choosing input paths per job; Spark derives it from the join
    at runtime)."""
    fact_dir = str(tmp_path / "fact")
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn("bucket", F.col("o_orderkey") % 16).write.partitionBy(
        "bucket"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.range(16).select(
        F.col("id").alias("bucket"), (F.col("id") * 10).alias("tag")
    )
    joined = fact.join(dim.filter(F.col("tag") < 20), "bucket")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert "PartitionFilters" in plan, plan


def test_runtime_bloom_filter_semijoin_reduction(spark, sf_dir):
    """Runtime bloom-filter injection — the shuffle-side sibling of
    dynamic partition pruning: joining a selectively-FILTERED dim onto
    a large fact over a non-partition key must inject a bloom filter
    (built from the dim's join keys) into the fact side, so fact rows
    that cannot match are dropped BEFORE the join's shuffle.  At 100 TB
    this turns a full-fact shuffle into a semi-join-reduced one; the
    size thresholds (applicationSideScanSizeThreshold, default 10 GB)
    gate it in production, so the test lowers them to fire at test
    scale — asserting the OPTIMIZER path works under our session conf,
    with broadcast disabled (a broadcast join needs no reduction and
    suppresses the filter)."""
    # save-and-restore, NOT unset: unset() reverts to Spark's hard
    # default (10MB broadcast threshold), not the session factory's
    # configured value — polluting later tests (r8 review)
    prior_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "bloomfilter" in plan or "bloommight" in plan, plan
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bcast)


def test_orc_read_pushes_date_filter(spark, sf_dir, tmp_path):
    """The ORC round-trip's read side must push the date predicate to
    the scan (PushedFilters) — the stats-skipping contract that makes
    the columnar seam usable at 100 TB, same as the parquet paths."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_shipdate"
    )
    path = str(tmp_path / "orc")
    li.write.orc(path)
    df = spark.read.orc(path).filter(F.col("l_shipdate") >= F.lit("1995-06-01"))
    plan = physical_plan(df)
    assert "Format: ORC" in plan, plan
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(l_shipdate" in plan, plan


def test_named_outputs_sinks_scan_staged_copy(spark, sf_dir, tmp_path):
    """write_named_outputs single-pass discipline: every named sink's
    plan scans the STAGED parquet copy with its own pushed filter and
    pruned columns — the upstream pipeline runs once regardless of N
    (MultipleOutputs.java's one-job/one-pass point)."""
    from hadoop_20_warehouse_spark.plans.explain import (
        pushed_filters,
        read_schema,
    )
    from hadoop_20_warehouse_spark.sources.io import (
        NamedOutput,
        named_output_frame,
    )
    import os

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    stage = str(tmp_path / "stage")
    orders.write.parquet(stage)
    src = spark.read.parquet(stage)
    sink = named_output_frame(
        src,
        NamedOutput(
            predicate="o_orderpriority = '1-URGENT'",
            select=["o_orderkey", "o_totalprice"],
        ),
    )
    # the sink's scan is the staged copy, filter pushed, columns pruned.
    # Check via inputFiles(), not the plan string: FileScan's Location
    # is width-truncated, and a long enough tmp_path cuts the "stage"
    # suffix mid-word (observed with pytest-of-root/pytest-103/...).
    files = sink.inputFiles()
    assert files and all("/stage/" in f or f.rstrip("/").endswith("/stage") for f in files), files
    assert "EqualTo(o_orderpriority,1-URGENT)" in pushed_filters(sink)
    schema = read_schema(sink)
    assert "o_orderkey" in schema and "o_totalprice" in schema
    assert "o_comment" not in schema, schema


def test_release_endgame_placement_windows_sharded(spark):
    """The release endgame's placement chain — mixture on a
    precomputed subword-count column -> token-budget pack -> global
    shuffle with passthrough — composed exactly as
    q_pipeline_release_endgame wires it: every corpus-side window
    (mixture cumsum, pack cumsum, rank) must stay shard-partitioned,
    offsets must reach the corpus via broadcast, and nothing may drop
    to Python row evaluation.  (The gate/tokenize stages upstream of
    the checkpoint are hash-checked by the registered query; this
    pins the placement composition's 100 TB shape.)"""
    from hadoop_20_warehouse_spark.dedup.spans import (
        global_shuffle_order,
        mixture_sample,
        pack_token_budget,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
        ((F.col("id") % 37) + 1).cast("long").alias("bpe_len"),
    )
    kept = mixture_sample(
        docs,
        {"src0": 500, "src1": 200, "src2": 100},
        n_shards=4,
        tok_len_col="bpe_len",
    )
    packed = pack_token_budget(
        kept, budget=64, n_shards=4, tok_len_col="tok_len", passthrough=("source",)
    )
    placed = global_shuffle_order(
        packed, passthrough=("source", "tok_len", "batch_id", "batch_offset")
    )
    plan = physical_plan(placed)
    assert not uses_python_row_eval(placed)
    assert uses_broadcast_join(placed), plan
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    corpus_wins = [
        l for l in win_lines if "sum(tok_len" in l or "row_number" in l
    ]
    assert corpus_wins, plan
    for l in corpus_wins:
        spec = l.split("windowspecdefinition(", 1)[1]
        assert "shard" in spec.split("specifiedwindowframe")[0], (
            f"corpus window must partition by shard:\n{l}\n{plan}"
        )


def test_scd2_point_in_time_is_join_free_single_exchange(spark, sf_dir):
    """The SCD2 point-in-time lookup must run the as-of union+window
    construction: TWO user-key exchanges (dimension-build window +
    the union lookup window — the facts' only shuffle) and no
    physical join anywhere (the interval join lives only in the
    oracle)."""
    df = QUERIES["scd2_point_in_time_join"](spark, sf_dir)
    assert count_exchanges(df) == 2
    plan = physical_plan(df)
    assert "Join" not in plan, f"pit lookup should be join-free, got:\n{plan}"


def test_jdbc_partitioned_read_splits_and_pushdown(spark, tmp_path):
    """DBInputFormat's per-split contract (r15 VERDICT #7), plan-
    asserted against an embedded Derby database: the reference built
    one ``LIMIT len OFFSET start`` query per split
    (mapred/lib/db/DBInputFormat.java:87-115); the Spark analog is a
    partitionColumn range read — the scan must plan numPartitions
    JDBC partitions (one bounded WHERE per task, the same
    parallel-read contract), and a filter must reach the database as
    a pushed predicate, not a post-scan Spark filter.  The registered
    db_count_pageview query runs the count core over parquet; THIS
    pins the JDBC endpoints themselves on a multi-partition
    fixture."""
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_spark.sources.io import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("name"),
    )
    write_jdbc(df, url, "pageviews", mode="overwrite", driver=drv)
    back = read_jdbc(
        spark, url, "pageviews",
        partition_column="id", lower_bound=0, upper_bound=1000,
        num_partitions=4, driver=drv,
    )
    # the parallel-read contract: 4 range splits, all rows exactly once
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 1000
    assert [r.n for r in back.groupBy().agg(
        F.countDistinct("id").alias("n")).collect()] == [1000]
    plan = physical_plan(back.filter(F.col("grp") == 3).select("id"))
    assert "JDBCRelation(pageviews) [numPartitions=4]" in plan
    # predicate pushed to the database (DBInputFormat's WHERE clause)
    assert "EqualTo(grp,3)" in plan
    # round-trip values survive both JDBC legs
    got = sorted(
        (r.id, r.grp, r.name)
        for r in back.filter(F.col("id") < 3).collect()
    )
    assert got == [(0, 0, "u0"), (1, 1, "u1"), (2, 2, "u2")]


def test_cdc_merge_plan_partial_agg_no_window(spark, sf_dir):
    """cdc_merge_current's 100 TB claim, plan-asserted: the winner
    election must be a hash AGGREGATE on the delta (partial_max
    combines map-side — a hot key's changes collapse before the
    shuffle), NOT the oracle's sort-based window (whose per-key sort
    is the last-reducer straggler at scale)."""
    df = QUERIES["cdc_merge_current"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan
    # untouched rows split off via a real anti join
    assert "LeftAnti" in plan
