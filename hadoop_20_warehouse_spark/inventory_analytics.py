"""Round-8 analytics inventory: the incremental-store family members
(exact top-k via per-day partials, quantile histograms), iterative
integer PageRank, robust (MAD) anomaly detection, the two extra dedup
modalities (blocked edit-distance, rare-gram containment), z-order
locality layout, and BPE merge-step pair statistics.

Each query follows the repo's oracle discipline (registry.register):
deterministic arithmetic only on the compared columns (integer scaling
for iterative ranks, exact binary halves for medians, integer rank
tests for histogram quantiles), and every computed column aliased
identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.catalog import load_table
from hadoop_20_warehouse_spark.functions import text as T
from hadoop_20_warehouse_spark.registry import register

# ===========================================================================
# Incremental exact top-k via a per-day partial-aggregate store
# ===========================================================================

_TOPK_STORE_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total_events
FROM events GROUP BY user_id
ORDER BY total_events DESC, user_id
LIMIT 10
"""


@register("store_topk_incremental", oracle=_TOPK_STORE_SQL)
def q_store_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT top-k — the heavy-hitters companion of the HLL
    sketch store (inventory_ext.q_sketch_store_distinct): persist one
    compacted partial aggregate per day ((day, user_id, cnt) — the
    combiner output a MapReduce job would spill,
    lib/LongSumReducer.java:27, made durable), then answer "top users
    over ALL days" by merging the stored partials — summing counts per
    user and taking the top-k — without rescanning raw events.
    Yesterday's partials never recompute; today's job appends one
    day's rows; the merge costs O(days × distinct users/day), not
    O(raw events).

    THE ORACLE IS THE FULL RESCAN (global groupBy + top-k over raw
    events): a hash match proves per-day partial aggregation + store
    round-trip + merge ≡ the direct global aggregate — the associativity
    contract that makes count-like aggregates incrementally
    maintainable.

    Scale shape: the daily partials partial-aggregate map-side (keyed
    count); the merge is a keyed sum over the small store; top-k
    compiles to TakeOrderedAndProject (per-partition partial top-k,
    K rows to the driver, no global sort)."""
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    path = _fresh_subdir(_scratch_dir("topkstore"), "daily")
    daily.write.parquet(path)
    stored = spark.read.parquet(path)
    merged = stored.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("total_events")
    )
    return merged.orderBy(
        F.col("total_events").desc(), "user_id"
    ).limit(10)


# ===========================================================================
# Fixed-iteration PageRank with integer-scaled ranks
# ===========================================================================

_PR_SCALE = 1_000_000_000
_PR_ITERS = 5
_PR_TOPN = 20


def _pr_iter_sql(prev: str, cur: str) -> str:
    """One oracle iteration: the SAME integer arithmetic as the Spark
    side (floor division via //; bigint sums are order-independent)."""
    return f"""
{cur} AS (
  SELECT n.node,
         CAST({15 * _PR_SCALE // 100} + (85 * COALESCE(s.inc, 0)) // 100
              AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(p.r // e.d) AS BIGINT) AS inc
    FROM edges_d e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""


_PR_SQL = (
    """
WITH edges AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
edges_d AS (SELECT e.src, e.dst, g.d FROM edges e JOIN deg g USING (src)),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
it0 AS (SELECT node, CAST(%d AS BIGINT) AS r FROM nodes),"""
    % _PR_SCALE
    + ",".join(
        _pr_iter_sql(f"it{i}", f"it{i + 1}") for i in range(_PR_ITERS)
    )
    + f"""
SELECT node, r AS rank_scaled FROM it{_PR_ITERS}
ORDER BY rank_scaled DESC, node
LIMIT {_PR_TOPN}
"""
)


@register("graph_pagerank", oracle=_PR_SQL)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999; damping 0.85, 5
    iterations) over the part→supplier link graph — the second
    iterative-dataflow operator family beside connected components
    (dedup/components.py): rank propagation instead of label
    propagation, weighted by out-degree.

    Cross-engine determinism: ranks are INTEGER-scaled (1e9 = rank
    1.0) and every step is integer arithmetic — contributions are
    floor divisions ``r div out_degree`` and the damping update is
    ``(15*SCALE) div 100 + (85*incoming) div 100`` — so partial sums
    commute bit-exactly in both engines (the repo's order-independent
    sum discipline applied to an iterative algorithm).  Dangling-node
    mass is dropped (the standard simplification; both engines drop it
    identically).  The oracle unrolls the same 5 iterations as chained
    CTEs with DuckDB's ``//``.

    Scale shape: each iteration is one src-keyed join (contributions)
    + one dst-keyed partial-aggregable sum + one node-keyed left join
    (re-attach silent nodes) — all keyed shuffles, no all-pairs; the
    edge list with degrees is computed once and reused.  A hub dst
    (many in-links) partial-aggregates map-side like every keyed sum.
    Library form: graph.pagerank_integer (checkpoint_every for
    web-graph iteration counts; 5 rounds keeps plan depth trivial)."""
    from hadoop_20_warehouse_spark.graph import pagerank_integer

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 10_000_000).alias("dst"),
    ).distinct()
    ranks = pagerank_integer(edges, iterations=_PR_ITERS, scale=_PR_SCALE)
    return (
        ranks.select("node", F.col("r").alias("rank_scaled"))
        .orderBy(F.col("rank_scaled").desc(), "node")
        .limit(_PR_TOPN)
    )


# ===========================================================================
# Robust anomaly detection: median / MAD gate over hourly counts
# ===========================================================================

_MAD_K = 3

_MAD_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(cnt, 0.5) AS med
  FROM hourly GROUP BY event_type
),
mad AS (
  SELECT h.event_type, quantile_cont(abs(h.cnt - m.med), 0.5) AS mad
  FROM hourly h JOIN med m USING (event_type)
  GROUP BY h.event_type
)
SELECT h.event_type, strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hour, h.cnt,
       m.med, d.mad
FROM hourly h JOIN med m USING (event_type) JOIN mad d USING (event_type)
WHERE abs(h.cnt - m.med) > {_MAD_K} * d.mad
ORDER BY h.event_type, hour
"""


@register("events_anomaly_mad", oracle=_MAD_SQL)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection: flag (event_type, hour) cells
    whose count deviates from the type's median by more than
    {K}×MAD (median absolute deviation) — the outlier gate a pipeline
    runs over ingest volumes, robust where mean/stddev is dragged by
    the very outliers it hunts (Leys et al. 2013, the standard MAD
    recommendation).

    Cross-engine determinism: counts are integers, so exact medians
    are x.0 or x.5 — exact in binary — and abs deviations, the MAD,
    and the K×MAD comparison are all exact-half arithmetic with no
    rounding drift (the agg_quartiles discipline).  Output keeps
    (med, mad) so the gate itself is hash-checked, not just the
    survivor set.

    Scale shape: hourly counts partial-aggregate map-side; medians are
    per-type exact percentiles (per-group sort at test scale; the
    documented percentile_approx swap applies at 100 TB); the gate is
    two broadcast-sized joins (one row per event_type)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    mad = (
        hourly.join(med, "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(cnt - med), 0.5)").alias("mad"))
    )
    return (
        hourly.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("cnt") - F.col("med")) > _MAD_K * F.col("mad"))
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "cnt",
            "med",
            "mad",
        )
        .orderBy("event_type", "hour")
    )


# ===========================================================================
# Blocked edit-distance near-dup (character-level fuzzy dedup)
# ===========================================================================

_EDIT_T = 12  # max edit distance
_EDIT_BLOCK = 16  # length-bucket width; must be >= _EDIT_T (see proof below)

_EDIT_SQL = f"""
WITH d AS (
  SELECT doc_id, lower(COALESCE(text, '')) AS tx,
         length(lower(COALESCE(text, ''))) AS ln
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.tx, b.tx) AS BIGINT) AS dist
FROM d a JOIN d b
  ON a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= {_EDIT_T}
WHERE levenshtein(a.tx, b.tx) <= {_EDIT_T}
ORDER BY id_a, id_b
"""


@register("dedup_fuzzy_edit", oracle=_EDIT_SQL)
def q_dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy near-dup: pairs within Levenshtein
    distance {T} — the edit-distance modality of the dedup family
    (MinHash = token-set overlap, SimHash = weighted-feature angle,
    this = character edits: catches small in-place edits, typo
    variants, template instantiations).

    Candidate generation is LENGTH-BLOCKED, not all-pairs: each doc
    lands in length buckets floor(len/W) and floor(len/W)+1 with
    W = {W} >= T, so any pair with |len_a - len_b| <= T (a NECESSARY
    condition for distance <= T, since each edit changes length by at
    most 1) shares a bucket: their bucket indices differ by at most 1,
    and the +1 overlap row covers that straddle.  Pairs are verified
    with the THRESHOLDED JVM levenshtein (early-abandons the DP past
    T — O(T·min(m,n)) per pair, not O(m·n)) and deduped (a pair can
    share two buckets).

    Between blocking and the DP sits a CHARACTER-FREQUENCY L1 filter:
    each doc carries a 37-dim count vector (a-z, 0-9, space; computed
    once, row-locally, PACKED 6 counts per bigint into 7 scalar
    columns so the candidate join ships ~72 bytes per doc and the
    per-pair test is pure codegen'd shift/mask/abs arithmetic — the
    unpacked-array form spent its time copying arrays through the
    join), and a pair proceeds to levenshtein only if
    Σ_c |count_c(A) - count_c(B)| <= 2T — a NECESSARY condition (one
    substitution moves two counts by one each; an indel moves one;
    edits on out-of-alphabet characters move none).  The candidate
    join is NARROW (ids, lengths, packed counts — never the text);
    texts are fetched by two id-keyed joins for only the ~0.2% of
    pairs surviving the filter, then the thresholded JVM levenshtein
    (early-abandons past T, O(T·len) not O(len²)) scores them.  All
    of this is purely an optimization: no pair the DP would accept is
    ever dropped, so the result — and the oracle hash — are unchanged
    (measured at sf0.1: 34 s naive -> ~2.8 s; ~1M length-banded pairs
    collapse to ~2.4k candidates before any text ships).

    THE ORACLE IS EXHAUSTIVE: DuckDB verifies every length-compatible
    pair directly, so a hash match proves the blocking scheme AND the
    L1 pre-filter are COMPLETE (no candidate lost), not merely that
    verified candidates were scored identically.

    Scale shape: bucket join fan-out is 2 rows/doc; per-bucket
    population is bounded by the corpus length distribution (a skewed
    bucket — e.g. all docs ~300 chars — degrades toward quadratic
    within that bucket in PAIR COUNT, each pair paying only ~150
    codegen'd integer ops).  That per-pair cost is why there is no
    second blocking key: a PassJoin chunk-signature key lost even on a
    dense 5k-doc single-length band, 2.3 s against 1.1 s (PLANS.md).

    Library form: dedup/editdist.fuzzy_edit_pairs (the hypothesis
    property test there proves candidate completeness against a
    brute-force reference on mutation shapes this corpus lacks)."""
    from hadoop_20_warehouse_spark.dedup.editdist import fuzzy_edit_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_edit_pairs(
        docs, max_dist=_EDIT_T, block_w=_EDIT_BLOCK
    )


# keep the docstring format placeholders honest
q_dedup_fuzzy_edit.__doc__ = q_dedup_fuzzy_edit.__doc__.replace(
    "{T}", str(_EDIT_T)
).replace("{W}", str(_EDIT_BLOCK))
q_events_anomaly_mad.__doc__ = q_events_anomaly_mad.__doc__.replace(
    "{K}", str(_MAD_K)
)


# ===========================================================================
# Containment near-dup (near-subset detection) via rare-gram anchors
# ===========================================================================

_CONT_W = 4       # gram width in tokens
_CONT_DF_MAX = 8  # rare-gram document-frequency cap (blocking fan-out bound)
_CONT_T = 0.8     # containment threshold

_CONT_SQL = f"""
WITH toks AS (
  SELECT doc_id, {T.tokens_sql('text')} AS toks
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_CONT_W - 1}], ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_CONT_W - 1})) AS i
        FROM toks)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng FROM grams GROUP BY doc_id),
gf AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
rare AS (SELECT gram FROM gf WHERE df BETWEEN 2 AND {_CONT_DF_MAX}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM grams a JOIN rare r ON a.gram = r.gram
  JOIN grams b ON b.gram = a.gram AND a.doc_id < b.doc_id
),
shared AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM cand c JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b,
       CAST(s.n_shared AS DOUBLE) / LEAST(sa.ng, sb.ng) AS containment
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE CAST(s.n_shared AS DOUBLE) / LEAST(sa.ng, sb.ng) >= {_CONT_T}
ORDER BY id_a, id_b
"""


@register("dedup_containment", oracle=_CONT_SQL)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup: pairs where the SMALLER doc's token
    {W}-gram set is >= {T} contained in the other's — the one-sided
    overlap that catches near-SUBSET relationships (a doc quoting
    another, a page wrapping a template) which symmetric Jaccard
    misses by construction (a small doc inside a big one has low
    Jaccard but containment ~1; Broder 1997 distinguishes exactly
    these two resemblance measures).

    Candidate generation is RARE-GRAM ANCHORED, not length- or
    source-blocked (containment pairs have very different lengths, so
    the Jaccard query's length blocking would be wrong here): only
    grams whose document frequency is in [2, {DF}] generate pairs —
    unique grams pair nothing, and the df cap bounds fan-out per gram
    at C({DF},2) pairs, making the candidate stage skew-immune by
    construction (a boilerplate mega-gram is simply not an anchor;
    the C4/CCNet boilerplate scrub is the operator that handles those).
    The containment VERIFY then runs on candidates only, exact.

    Scale shape (reworked in the r19 optimization round, guide §3
    candidate pruning / §2.3 shuffle fewer bytes): staging now runs
    in TWO parquet stages — the distinct (doc, gram) stream first
    (unchanged derivation), then the same rows ANNOTATED with the
    gram's corpus document frequency (df) and the doc's distinct-gram
    count (ng), each aggregate computed ONCE from stage 1.  Every
    read-side term is then a pure filter or a carried column:

    - anchors are ``df BETWEEN 2 AND {DF}`` — a parquet-pushed
      filter, replacing the twice-computed rare-gram aggregation +
      join of the old plan;
    - both VERIFY sides drop grams with ``df = 1`` before the join: a
      gram in exactly one document can never be shared, so n_shared
      is unchanged — EXACT — while the verify join ships only the
      shareable minority of the gram stream (sf0.1: 82% of distinct
      gram rows are df=1);
    - ``ng`` rides the verify join (+8 bytes on the df>=2 rows), so
      the two ``sizes`` aggregations and their pair-keyed join-backs
      disappear.

    The old single-stage plan re-ran rare TWICE and sizes TWICE from
    the staged file (explain-audited); the r8 finding stands (an
    in-memory persist was slower than parquet staging, and at 100 TB
    corpus-scale grams don't fit memory) — the second stage is the
    same medicine applied to the aggregates.  A row-local
    ``array_distinct`` per-doc dedup (which would hand ng out for
    free and skip the distinct shuffle) was A/B-measured 8x WORSE
    (7.3 s vs 0.9 s for the explode+distinct derivation at sf0.1):
    Catalyst's array_distinct is quadratic on large string arrays.
    Caveat (same class as every
    anchor scheme): a true near-subset pair sharing ONLY ubiquitous
    grams is missed; lowering the df cap trades recall for fan-out,
    the documented knob."""
    from hadoop_20_warehouse_spark.functions import text as T
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    gram_stage = (
        toks.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= _CONT_W,
                    F.transform(
                        F.sequence(F.lit(0), F.size("toks") - _CONT_W),
                        lambda i: F.array_join(
                            F.slice(F.col("toks"), i + 1, _CONT_W), " "
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .distinct()
    )
    staged_raw = _fresh_subdir(_scratch_dir("containment"), "grams_raw")
    gram_stage.write.parquet(staged_raw)
    raw = spark.read.parquet(staged_raw)
    gf = raw.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    sizes = raw.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("ng")
    )
    staged = _fresh_subdir(_scratch_dir("containment"), "grams")
    raw.join(gf, "gram").join(sizes, "doc_id").select(
        "doc_id", "gram", "ng", "df"
    ).write.parquet(staged)
    grams = spark.read.parquet(staged)
    anchored = grams.filter(
        (F.col("df") >= 2) & (F.col("df") <= _CONT_DF_MAX)
    )
    cand = (
        anchored.select(F.col("doc_id").alias("id_a"), "gram")
        .join(anchored.select(F.col("doc_id").alias("id_b"), "gram"), "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    shareable = grams.filter(F.col("df") >= 2)
    ga = shareable.select(
        F.col("doc_id").alias("id_a"), "gram", F.col("ng").alias("ng_a")
    )
    gb = shareable.select(
        F.col("doc_id").alias("id_b"), "gram", F.col("ng").alias("ng_b")
    )
    shared = (
        cand.join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.min("ng_a").alias("ng_a"),
            F.min("ng_b").alias("ng_b"),
        )
    )
    cont = F.col("n_shared").cast("double") / F.least("ng_a", "ng_b")
    return shared.select(
        "id_a", "id_b", cont.alias("containment")
    ).filter(F.col("containment") >= _CONT_T).orderBy("id_a", "id_b")


q_dedup_containment.__doc__ = (
    q_dedup_containment.__doc__
    .replace("{W}", str(_CONT_W))
    .replace("{T}", str(_CONT_T))
    .replace("{DF}", str(_CONT_DF_MAX))
)


# ===========================================================================
# Z-order (Morton) layout: multidimensional locality clustering
# ===========================================================================

_Z_BITS = 14  # bits per dimension -> 28-bit z-value
_Z_BUCKET_SHIFT = 12  # bucket = z div 2^12


def _z_expr(x: str, y: str, shr) -> str:
    """Bit-interleave builder: z = Σ ((x>>i)&1)·4^i·1 + ((y>>i)&1)·4^i·2.
    ``shr(expr, i)`` renders a right-shift in the target dialect
    (Spark: shiftright(); DuckDB: >>); multiplication stands in for
    left-shift, which both dialects fold constant."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({shr(x, i)} & 1) * {1 << (2 * i)})")
        terms.append(f"(({shr(y, i)} & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def _z_xy_sql() -> tuple[str, str]:
    """The two dimensions, from engine-portable date parts (no epoch
    arithmetic — session-timezone-sensitive) and a modulo'd id."""
    x = f"(user_id % {1 << _Z_BITS})"
    y = (
        "(hour(ts) + 24 * ((day(ts) - 1) + 31 * (month(ts) - 1)))"
    )
    return x, y


_Z_SQL = f"""
WITH z AS (
  SELECT {_z_expr(*_z_xy_sql(), shr=lambda e, i: f"(({e}) >> {i})")} AS zval,
         {_z_xy_sql()[0]} AS x, {_z_xy_sql()[1]} AS y
  FROM events
)
SELECT zval // {1 << _Z_BUCKET_SHIFT} AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(x) - MIN(x) AS BIGINT) AS x_span,
       CAST(MAX(y) - MIN(y) AS BIGINT) AS y_span
FROM z
GROUP BY 1
ORDER BY n_rows DESC, zbucket
LIMIT 50
"""


@register("zorder_layout", oracle=_Z_SQL)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of the events table on
    (user_id, time) — the layout that makes parquet min/max row-group
    stats prune BOTH a user predicate and a time predicate from ONE
    sort order (Morton 1966; the technique behind Delta/Iceberg
    Z-ORDER table maintenance).  A table sorted by one dimension
    prunes only that dimension; sorted by the interleaved z-value,
    each contiguous run (= row group at write time) covers a small
    RECTANGLE in (user, time) space, so either predicate skips most
    groups.

    The query computes z-values with pure integer bit arithmetic
    (identical expression tree in both engines — shifts render as
    shiftright/>> per dialect, left-shifts as constant multiplies)
    and reports per-z-bucket occupancy plus the bucket's x/y SPANS:
    the spans being small fractions of the global ranges IS the
    locality property, hash-checked rather than asserted.

    Scale shape: the z-value is row-local; the bucket report is one
    keyed partial agg.  The production use writes ``orderBy(zval)``
    parquet — a total-order sort, the full_sort shape — then relies
    on stats pruning; the report here is the layout-quality audit a
    maintenance job would emit."""
    ev = load_table(spark, sf_dir, "events")
    xs, ys = _z_xy_sql()
    zs = _z_expr(xs, ys, shr=lambda e, i: f"shiftright(({e}), {i})")
    z = ev.select(
        F.expr(zs).alias("zval"),
        F.expr(xs).alias("x"),
        F.expr(ys).alias("y"),
    )
    return (
        z.groupBy(
            F.expr(f"zval div {1 << _Z_BUCKET_SHIFT}").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.max("x") - F.min("x")).cast("long").alias("x_span"),
            (F.max("y") - F.min("y")).cast("long").alias("y_span"),
        )
        .orderBy(F.col("n_rows").desc(), "zbucket")
        .limit(50)
    )


# ===========================================================================
# Mergeable quantile-histogram store (the third store-family member)
# ===========================================================================

_QH_W = 5  # bucket width over l_quantity (1..50 -> 10 buckets)

_QH_SQL = f"""
WITH hist AS (
  SELECT CAST(FLOOR((l_quantity - 1) / {_QH_W}) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM hist),
cum AS (
  SELECT bucket, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum
  FROM hist
)
SELECT CAST((SELECT COUNT(DISTINCT date_trunc('month', l_shipdate))
             FROM lineitem) AS BIGINT) AS n_periods,
       (SELECT total FROM tot) AS n_rows,
       CAST((SELECT MIN((bucket + 1) * {_QH_W}) FROM cum, tot
             WHERE 2 * cum >= total) AS BIGINT) AS p50_est,
       CAST((SELECT MIN((bucket + 1) * {_QH_W}) FROM cum, tot
             WHERE 10 * cum >= 9 * total) AS BIGINT) AS p90_est
"""


@register("store_quantile_histogram", oracle=_QH_SQL)
def q_store_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-HISTOGRAM store — the third member of the
    incremental-store family (HLL sketches for distinct, per-day
    partials for top-k, equi-width histograms for quantiles): persist
    one bucket-count histogram per month, answer "p50/p90 over ALL
    months" by SUMMING stored bucket counts — counts are the
    mergeable sufficient statistic for rank queries at fixed bucket
    grain, the same reduction ValueHistogram made per key
    (lib/aggregate/ValueHistogram.java:78) turned into a durable
    incremental artifact.  Estimate error is bounded by the bucket
    width by construction.

    Everything is INTEGER arithmetic (bucket = floor((q-1)/w), rank
    test 2·cum >= total avoids fractions), so unlike the engine-
    specific GK sketch (agg_percentile_approx's rank-interval oracle)
    the estimate itself is bit-comparable: the oracle computes the
    SAME histogram directly from raw rows, so a hash match proves
    per-month partials + store round-trip + merge ≡ the one-shot
    histogram AND pins the estimator.

    Scale shape: monthly histograms partial-aggregate map-side; the
    store is O(periods × buckets) rows; the merge never rescans raw
    data; the cumulative pass runs over B=10 bucket rows (a
    single-partition window over BUCKETS, not data — bounded by the
    histogram grain, never by corpus size)."""
    from pyspark.sql import Window

    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("period"),
        F.floor((F.col("l_quantity") - 1) / _QH_W).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    path = _fresh_subdir(_scratch_dir("qhstore"), "monthly")
    monthly.write.parquet(path)
    stored = spark.read.parquet(path)

    merged = stored.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.select(
        "bucket", "cnt", F.sum("cnt").over(w).cast("long").alias("cum")
    )
    total = merged.agg(F.sum("cnt").cast("long").alias("total"))
    n_periods = stored.agg(
        F.countDistinct("period").cast("long").alias("n_periods")
    )
    est = (
        cum.crossJoin(F.broadcast(total))
        .agg(
            F.min(
                F.when(
                    2 * F.col("cum") >= F.col("total"),
                    (F.col("bucket") + 1) * _QH_W,
                )
            ).cast("long").alias("p50_est"),
            F.min(
                F.when(
                    10 * F.col("cum") >= 9 * F.col("total"),
                    (F.col("bucket") + 1) * _QH_W,
                )
            ).cast("long").alias("p90_est"),
        )
    )
    return (
        n_periods.crossJoin(F.broadcast(total.withColumnRenamed("total", "n_rows")))
        .crossJoin(F.broadcast(est))
        .select("n_periods", "n_rows", "p50_est", "p90_est")
    )


# ===========================================================================
# BPE merge-step pair statistics (tokenizer vocabulary induction)
# ===========================================================================

_BPE_TOPN = 20

_BPE_SQL = f"""
WITH toks AS (
  SELECT unnest({T.tokens_sql('text')}) AS w
  FROM documents
),
wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wf FROM toks GROUP BY w),
pairs AS (
  SELECT wf, substr(w, CAST(i AS INTEGER), 2) AS pair
  FROM wc, unnest(range(1, length(w))) AS u(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(wf) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT {_BPE_TOPN}
"""


@register("text_bpe_pair_stats", oracle=_BPE_SQL)
def q_text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-step statistics: corpus-wide adjacent character-pair
    frequencies, weighted by word frequency — the quantity one
    byte-pair-encoding iteration maximizes when inducing a tokenizer
    vocabulary (Sennrich et al. 2016 §3: merge the most frequent
    symbol pair; this query reports the top candidates for the FIRST
    merge, the primitive an iterative trainer repeats on re-segmented
    words).

    Scale shape — the BPE trick itself: pair counting runs over the
    DISTINCT-WORD table weighted by word frequency, never over raw
    corpus positions, so the explode is O(vocab × word_len) while the
    corpus contributes only a keyed word-count partial agg (100 TB of
    text has a vocab millions of times smaller than its token
    stream).  Final top-k compiles to TakeOrderedAndProject."""
    from hadoop_20_warehouse_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("wf"))
    pairs = wc.select(
        "wf",
        F.explode(
            F.when(
                F.length("w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.substring(F.col("w"), i, 2),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(_BPE_TOPN)
    )


# ===========================================================================
# Equi-depth decile assignment without a global sort
# ===========================================================================

_DECILE_SQL = f"""
WITH tk AS (
  SELECT doc_id, {T.token_count_sql('text')} AS tok_len FROM documents
),
hist AS (SELECT tok_len AS tok, CAST(COUNT(*) AS BIGINT) AS c
         FROM tk GROUP BY tok_len),
cum AS (SELECT tok, CAST(SUM(c) OVER (ORDER BY tok) AS BIGINT) AS cum
        FROM hist),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk),
thr AS (
  SELECT d, MIN(tok) AS v
  FROM cum, tot, UNNEST(range(1, 10)) AS u(d)
  WHERE 10 * cum >= d * n
  GROUP BY d
)
SELECT t.doc_id, t.tok_len,
       CAST(1 + (SELECT COUNT(*) FROM thr WHERE v < t.tok_len) AS BIGINT)
         AS decile
FROM tk t
ORDER BY doc_id
"""


@register("corpus_length_deciles", oracle=_DECILE_SQL)
def q_corpus_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile assignment by token count WITHOUT a global
    sort — the deterministic alternative to NTILE for quality-bucketed
    mixture construction: NTILE splits ties arbitrarily across bucket
    boundaries (non-deterministic under re-partitioning, useless as a
    stable doc attribute), while threshold-based deciles give every
    doc with the same value the same bucket, reproducibly.

    Plan (the corpus_token_summary no-sort trick, generalized to a
    per-doc LABEL): per-doc counts collapse to a distinct-value
    HISTOGRAM (bounded cardinality); one cumulative window runs over
    that tiny frame; the 9 integer-rank thresholds (10·cum >= d·n —
    no fractions) fold into ONE broadcast array row; each doc's
    decile is a row-local count of thresholds below its value.  The
    anti-pattern (NTILE = row_number over a single global order = one
    giant window partition) never appears; the corpus is scanned,
    aggregated map-side, and labeled via broadcast — no corpus-sized
    sort or shuffle beyond the histogram agg."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", T.token_count(F.col("text")).alias("tok_len"))
    hist = tk.groupBy(F.col("tok_len").alias("tok")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window

    cum = hist.select(
        "tok",
        F.sum("c")
        .over(
            Window.orderBy("tok").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("cum"),
    )
    total = tk.agg(F.count(F.lit(1)).cast("long").alias("n"))
    thr = (
        cum.crossJoin(F.broadcast(total))
        .crossJoin(
            F.broadcast(
                spark.range(1, 10).select(F.col("id").alias("d"))
            )
        )
        .filter(10 * F.col("cum") >= F.col("d") * F.col("n"))
        .groupBy("d")
        .agg(F.min("tok").alias("v"))
    )
    thr_arr = thr.agg(F.collect_list("v").alias("vs"))
    return (
        tk.crossJoin(F.broadcast(thr_arr))
        .select(
            "doc_id",
            "tok_len",
            (
                1
                + F.size(
                    F.filter("vs", lambda v: v < F.col("tok_len"))
                )
            ).cast("long").alias("decile"),
        )
        .orderBy("doc_id")
    )


_DECILE_GRP_SQL = f"""
WITH tk AS (
  SELECT doc_id, source, {T.token_count_sql('text')} AS tok_len FROM documents
),
hist AS (SELECT source, tok_len AS tok, CAST(COUNT(*) AS BIGINT) AS c
         FROM tk GROUP BY source, tok_len),
cum AS (SELECT source, tok,
               CAST(SUM(c) OVER (PARTITION BY source ORDER BY tok)
                    AS BIGINT) AS cum
        FROM hist),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY source),
thr AS (
  SELECT cum.source, d, MIN(tok) AS v
  FROM cum JOIN tot ON tot.source = cum.source,
       UNNEST(range(1, 10)) AS u(d)
  WHERE 10 * cum >= d * n
  GROUP BY cum.source, d
)
SELECT t.doc_id, t.source, t.tok_len,
       CAST(1 + (SELECT COUNT(*) FROM thr
                 WHERE thr.source = t.source AND v < t.tok_len) AS BIGINT)
         AS decile
FROM tk t
ORDER BY doc_id
"""


@register("corpus_length_deciles_by_source", oracle=_DECILE_GRP_SQL)
def q_corpus_length_deciles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-SOURCE equi-depth deciles — the grouped form of
    corpus_length_deciles, which is how mixture construction actually
    buckets (quality/length percentiles are computed within each
    domain, not globally, so a verbose domain doesn't push every
    terse domain into the bottom buckets).

    Plan difference from the global form: thresholds are (source, d)
    keyed rows — O(sources × 9), too many for one scalar broadcast
    array — so the label step is a source-keyed JOIN against the
    collected per-source threshold arrays (one row per source,
    broadcast-sized for any realistic domain count).  The histogram
    window partitions by source: each partition is that source's
    distinct-value histogram, bounded by value cardinality, never by
    doc count."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "source", T.token_count(F.col("text")).alias("tok_len")
    )
    hist = tk.groupBy("source", F.col("tok_len").alias("tok")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window

    cum = hist.select(
        "source",
        "tok",
        F.sum("c")
        .over(
            Window.partitionBy("source")
            .orderBy("tok")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long")
        .alias("cum"),
    )
    total = tk.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    thr = (
        cum.join(total, "source")
        .crossJoin(
            F.broadcast(spark.range(1, 10).select(F.col("id").alias("d")))
        )
        .filter(10 * F.col("cum") >= F.col("d") * F.col("n"))
        .groupBy("source", "d")
        .agg(F.min("tok").alias("v"))
    )
    thr_arr = thr.groupBy("source").agg(F.collect_list("v").alias("vs"))
    # LEFT join + coalesce-to-empty (ADVICE r8): an inner join would
    # silently DROP NULL-source docs while the DuckDB oracle's
    # correlated COUNT(*) keeps them at decile 1 (a NULL source matches
    # no threshold row) — a latent cross-engine divergence masked only
    # because the fixture has no NULL sources.
    empty = F.array().cast("array<bigint>")
    return (
        tk.join(F.broadcast(thr_arr), "source", "left")
        .select(
            "doc_id",
            "source",
            "tok_len",
            (
                1
                + F.size(
                    F.filter(
                        F.coalesce(F.col("vs"), empty),
                        lambda v: v < F.col("tok_len"),
                    )
                )
            ).cast("long").alias("decile"),
        )
        .orderBy("doc_id")
    )


# ===========================================================================
# BPE tokenizer: induction, application, and BPE-driven packing
# (functions/bpe.py; Sennrich et al. 2016 — the trainer the
# text_bpe_pair_stats primitive anticipated)
# ===========================================================================

_BPE_N_MERGES = 12
_BPE_MAX_WORDS = 1000


def _bpe_mod():
    from hadoop_20_warehouse_spark.functions import bpe as B

    return B


def _bpe_train_oracle() -> str:
    return _bpe_mod().train_merges_sql(
        "documents", n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )


@register("bpe_train_merges", oracle=_bpe_train_oracle())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction (functions/bpe.train_merges; Sennrich
    et al. 2016): 12 rounds of (adjacent symbol-pair counts weighted by
    word frequency → merge the argmax, lexicographic ties).  The corpus
    contributes ONE shuffle (the word-count partial agg, capped to the
    top-1000 words — the bound that makes every round corpus-size-
    independent); each round is a vocab-sized agg + 1-row collect with
    periodic lineage checkpoints (the train_centroids posture).  The
    entire merge SEQUENCE — pairs, merged tokens, and integer counts —
    is hash-checked against a DuckDB oracle that unrolls the rounds as
    generated materialized CTE stages; all-integer, no floats, so the
    reproduction is exact."""
    docs = load_table(spark, sf_dir, "documents")
    return _bpe_mod().train_merges(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )


def _bpe_tokenize_oracle() -> str:
    return _bpe_mod().tokenize_sql(
        "documents", n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )


@register("tokenize_bpe", oracle=_bpe_tokenize_oracle())
def q_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-apply tokenization (functions/bpe.tokenize_with_merges):
    train the 12-merge BPE vocabulary, then tokenize every document
    with it — per doc the subword-token COUNT and an md5 digest of the
    full space-joined token stream, so the oracle hash-checks the
    exact token sequences, not just counts.  Application is one
    row-local projection (the trained merges ride as nested replace
    literals — bounded metadata, no UDF, no shuffle), so at 100 TB
    tokenization costs exactly one corpus scan after the bounded
    training job."""
    B = _bpe_mod()
    docs = load_table(spark, sf_dir, "documents")
    merges = [
        tuple(r)
        for r in sorted(
            B.train_merges(
                docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
            ).collect()
        )
    ]
    return B.tokenize_with_merges(docs, merges)


def _bpe_pack_oracle() -> str:
    return _bpe_mod().pack_bpe_sql(
        "documents",
        n_merges=_BPE_N_MERGES,
        max_words=_BPE_MAX_WORDS,
        budget=512,
        n_shards=8,
    )


@register("pack_token_bpe", oracle=_bpe_pack_oracle())
def q_pack_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing driven by REAL tokenizer counts: the
    pack_token_budget layout (md5-shard cumulative-sum placement,
    T5-style) with per-doc lengths from the trained BPE tokenizer
    instead of whitespace words — the combination a pretraining
    pipeline actually runs (pack by the counts the model will see).
    Wiring: tokenize_with_merges supplies (doc_id, bpe_len);
    dedup/spans.pack_token_budget(tok_len_col='bpe_len') packs by it.
    The oracle composes the tokenize chain with the packing window
    verbatim, so the CROSS-STAGE wiring is hash-checked."""
    B = _bpe_mod()
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        tuple(r)
        for r in sorted(
            B.train_merges(
                docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
            ).collect()
        )
    ]
    lens = B.tokenize_with_merges(docs, merges).select(
        "doc_id", "bpe_len"
    )
    return pack_token_budget(
        docs.join(lens, on="doc_id"),
        budget=512,
        n_shards=8,
        tok_len_col="bpe_len",
    )


def _bpe_vocab_oracle() -> str:
    return _bpe_mod().vocab_sql(
        "documents", n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )


@register("bpe_vocab", oracle=_bpe_vocab_oracle())
def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer's SYMBOL INVENTORY (functions/bpe.
    vocab_after_merges): after the 12 merges, every surviving subword
    across the capped word table's segmentations with its
    frequency-weighted count and distinct-word support — the second
    half of the artifact a tokenizer ships (merge table + vocabulary).
    Cost = the trainer plus one vocab-sized explode/agg; the oracle
    replays the training chain and aggregates its final word table,
    so the hash pins the post-merge segmentations themselves."""
    docs = load_table(spark, sf_dir, "documents")
    return _bpe_mod().vocab_after_merges(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )


_BPE_CHUNK_W, _BPE_CHUNK_S = 48, 32


def _bpe_chunk_oracle() -> str:
    return _bpe_mod().chunk_bpe_sql(
        "documents",
        n_merges=_BPE_N_MERGES,
        max_words=_BPE_MAX_WORDS,
        window=_BPE_CHUNK_W,
        stride=_BPE_CHUNK_S,
    )


@register("doc_chunk_bpe", oracle=_bpe_chunk_oracle())
def q_doc_chunk_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking over the BPE SUBWORD stream — the
    context-window layout cut by the counts the model actually sees:
    train the 12-merge vocabulary, tokenize each document row-locally
    (functions/bpe.bpe_tokens_expr as chunk_sliding_windows'
    tokens_expr hook), then the established window/stride/integer-ceil
    slice+digest rule over subwords instead of whitespace words.
    Map-only after the bounded training job; the oracle composes the
    tokenize chain with the chunk rule verbatim, hash-checking the
    exact chunk contents (digests), boundaries, and tail handling."""
    from pyspark.sql import functions as FF

    from hadoop_20_warehouse_spark.dedup.spans import chunk_sliding_windows

    B = _bpe_mod()
    docs = load_table(spark, sf_dir, "documents")
    merges = [
        tuple(r)
        for r in sorted(
            B.train_merges(
                docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
            ).collect()
        )
    ]
    return chunk_sliding_windows(
        docs,
        window=_BPE_CHUNK_W,
        stride=_BPE_CHUNK_S,
        tokens_expr=FF.expr(B.bpe_tokens_expr("text", merges)),
    )


# ===========================================================================
# BPE at production merge counts (round 12 — functions/bpe_scale.py):
# driver-local exact training, distributed batched training, and
# merge-count-independent mapInPandas application, all at 2048 merges.
#
# The documents table has only 31 distinct words (vocabulary exhausts
# at ~106 merges), so these queries synthesize a deterministic md5-hex
# corpus from order keys — the multimodal-codec precedent
# (inventory_ext.q_multimodal_image_decode): both engines derive
# identical inputs from the same generating columns, so the heavy
# transform is pinned end-to-end.  1500 distinct words of length 8-24
# over the hex alphabet ≈ 17k weighted symbols in the capped table —
# comfortably more merge capacity than the 2048 demonstrated.
# ===========================================================================

_BPEL_ROUNDS, _BPEL_BATCH = 8, 256  # 2048 merges
_BPEL_MAX_WORDS = 1000
_BPEL_SEQ_MERGES = 2048
_BPEL_PREFIX = 128  # exact cross-engine prefix depth (B=1 oracle)

# DuckDB word-rows subquery (did, j, w) — the corpus derivation both
# engines share.  Must stay in lockstep with _bpe_synth_docs below.
_BPEL_WORDROWS = """
  SELECT o_orderkey AS did, j,
         substr(md5(CAST((o_orderkey * 7 + j * 13) % 1500 AS VARCHAR)), 1,
                8 + CAST((o_orderkey * 7 + j * 13) % 1500 AS INTEGER) % 17) AS w
  FROM orders, UNNEST(generate_series(1, 8)) AS g(j)
"""


def _bpe_synth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text): 8 md5-hex words per order row, word v_j =
    substr(md5((o_orderkey·7 + j·13) mod 1500), 1, 8 + v mod 17) —
    1500 distinct words, deterministic and identical in both engines
    (md5 of the decimal string, the repo's cross-engine hash
    convention)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return orders.select(
        F.col("o_orderkey").alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(1, 8), j -> "
            "substr(md5(cast((o_orderkey * 7 + j * 13) % 1500 as string)), 1, "
            "8 + cast((o_orderkey * 7 + j * 13) % 1500 as int) % 17)), ' ')"
        ).alias("text"),
    )


def _bpes_mod():
    from hadoop_20_warehouse_spark.functions import bpe_scale as BS

    return BS


def _bpel_seq_prefix_oracle() -> str:
    return _bpes_mod().seq_prefix_sql(
        _BPEL_WORDROWS, n_prefix=_BPEL_PREFIX, max_words=_BPEL_MAX_WORDS
    )


@register("bpe_train_merges_large", oracle=_bpel_seq_prefix_oracle())
def q_bpe_train_merges_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sequential BPE training at a production merge count
    (functions/bpe_scale.train_merges_driver): 2048 Sennrich rounds
    over the capped word table, run DRIVER-LOCALLY on the collected
    ≤1000-row table — one corpus shuffle + one bounded collect TOTAL
    (the r11 trainer paid ~1 Spark job per round; at 32k merges that
    is 32k jobs vs. still exactly one here).  Emits the first
    {prefix} rounds; the oracle reproduces them cross-engine with the
    batch=1 instantiation of the batched derivation (top-1 per round
    IS the sequential update), so the hash pins the driver trainer's
    argmax, tie-breaks, counts, and encodings verbatim.  Training is
    sequential — rounds beyond the prefix run the identical loop;
    their full-depth validity is hash-checked by
    bpe_train_large_invariants, and tests pin python == Spark-round
    trainer to vocabulary exhaustion."""
    BS = _bpes_mod()
    docs = _bpe_synth_docs(spark, sf_dir)
    full = BS.train_merges_driver(
        docs, n_merges=_BPEL_SEQ_MERGES, max_words=_BPEL_MAX_WORDS
    )
    return full.filter(F.col("step") <= _BPEL_PREFIX)


def _bpel_invariants_oracle() -> str:
    return _bpes_mod().train_large_invariants_sql(
        _BPEL_WORDROWS, n_merges=_BPEL_SEQ_MERGES, max_words=_BPEL_MAX_WORDS
    )


@register("bpe_train_large_invariants", oracle=_bpel_invariants_oracle())
def q_bpe_train_large_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-depth validity of the 2048-merge driver-local training run
    as EXACT INTEGER facts (the invariant-oracle pattern —
    agg_uniq_approx precedent): the capped table's initial
    frequency-weighted symbol mass (recomputed independently by the
    oracle from the corpus — pins the word table), merge count, the
    applied-mass conservation identity (final mass == initial − Σ
    applied merges, exact over all 2048 rounds), incremental-trainer ==
    independent-replay state equality (the trainer's pair-count index
    cross-validated against the apply kernel, token-exact per word),
    non-increasing argmax counts, and merge-table structural closure.
    See functions/bpe_scale.train_large_invariants."""
    BS = _bpes_mod()
    docs = _bpe_synth_docs(spark, sf_dir)
    return BS.train_large_invariants(
        docs, n_merges=_BPEL_SEQ_MERGES, max_words=_BPEL_MAX_WORDS
    )


def _bpel_batched_oracle() -> str:
    return _bpes_mod().batched_train_sql(
        _BPEL_WORDROWS,
        rounds=_BPEL_ROUNDS,
        batch=_BPEL_BATCH,
        max_words=_BPEL_MAX_WORDS,
    )


@register("bpe_train_batched", oracle=_bpel_batched_oracle())
def q_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batched top-B BPE (functions/bpe_scale.
    train_merges_batched): 8 rounds × top-256 pairs = the FULL
    2048-row merge table hash-checked cross-engine (the oracle derives
    every round: one pair aggregation + a row-wise replay recursion
    per round — ~9s at sf0.01).  This is the scalable-trainer
    construction for vocabularies beyond the driver path's comfort: a
    32k-merge vocabulary costs 32k/B bounded Spark jobs over the
    capped word table (the corpus is touched once, by the word count),
    and with B=1 the procedure IS exact Sennrich — the property the
    sequential prefix oracle exploits."""
    BS = _bpes_mod()
    docs = _bpe_synth_docs(spark, sf_dir)
    return BS.train_merges_batched(
        docs,
        rounds=_BPEL_ROUNDS,
        batch=_BPEL_BATCH,
        max_words=_BPEL_MAX_WORDS,
        strict=True,
    )


def _bpel_tokenize_oracle() -> str:
    return _bpes_mod().batched_tokenize_sql(
        _BPEL_WORDROWS,
        rounds=_BPEL_ROUNDS,
        batch=_BPEL_BATCH,
        max_words=_BPEL_MAX_WORDS,
    )


@register("tokenize_bpe_large", oracle=_bpel_tokenize_oracle())
def q_tokenize_bpe_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-count-independent tokenization (functions/bpe_scale.
    tokenize_with_merges_large): train the 2048-merge batched
    vocabulary, then tokenize every document in ONE Arrow-batched
    mapInPandas corpus pass — merge table broadcast, per-word replay
    with a present-pair-set guard, distinct words memoized per worker.
    Emits the small form's exact contract (bpe_len + md5 digest of the
    space-joined token stream), so the oracle — which derives the same
    merge table and replays it over every distinct corpus word, OOV
    words included — hash-checks the exact token sequences of all
    15000 documents under a vocabulary 170× the r11 form's
    demonstrated depth.  The r11 nested-replace expression remains the
    dispatch target below LARGE_MERGE_THRESHOLD=64 merges."""
    BS = _bpes_mod()
    docs = _bpe_synth_docs(spark, sf_dir)
    merges = [
        tuple(r)
        for r in sorted(
            BS.train_merges_batched(
                docs,
                rounds=_BPEL_ROUNDS,
                batch=_BPEL_BATCH,
                max_words=_BPEL_MAX_WORDS,
                strict=True,
            ).collect()
        )
    ]
    return BS.tokenize_with_merges_large(docs, merges)


def _bpel_pack_oracle() -> str:
    return _bpes_mod().batched_pack_sql(
        _BPEL_WORDROWS,
        rounds=_BPEL_ROUNDS,
        batch=_BPEL_BATCH,
        max_words=_BPEL_MAX_WORDS,
        budget=512,
        n_shards=8,
    )


@register("pack_token_bpe_large", oracle=_bpel_pack_oracle())
def q_pack_token_bpe_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing under the PRODUCTION-SCALE tokenizer: the
    2048-merge batched vocabulary supplies per-doc subword counts via
    the large apply path, then the established md5-shard
    cumulative-sum placement (dedup/spans.pack_token_budget) packs by
    them — the large-vocabulary twin of pack_token_bpe, proving the
    scale path composes with the packing endgame.  The oracle chains
    the full batched derivation + replay + packing window verbatim."""
    from hadoop_20_warehouse_spark.dedup.spans import pack_token_budget

    BS = _bpes_mod()
    docs = _bpe_synth_docs(spark, sf_dir)
    merges = [
        tuple(r)
        for r in sorted(
            BS.train_merges_batched(
                docs,
                rounds=_BPEL_ROUNDS,
                batch=_BPEL_BATCH,
                max_words=_BPEL_MAX_WORDS,
                strict=True,
            ).collect()
        )
    ]
    lens = BS.tokenize_with_merges_large(docs, merges).select(
        "doc_id", "bpe_len"
    )
    return pack_token_budget(
        docs.join(lens, on="doc_id"),
        budget=512,
        n_shards=8,
        tok_len_col="bpe_len",
    )


def _bpel_vocab_oracle() -> str:
    return _bpes_mod().vocab_large_sql(
        _BPEL_WORDROWS,
        rounds=_BPEL_ROUNDS,
        batch=_BPEL_BATCH,
        max_words=_BPEL_MAX_WORDS,
    )


@register("bpe_vocab_large", oracle=_bpel_vocab_oracle())
def q_bpe_vocab_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2048-merge tokenizer's SYMBOL INVENTORY (functions/
    bpe_scale.vocab_after_merges_large): every subword surviving in
    the capped word table's segmentations under the batched-trained
    vocabulary, with frequency-weighted counts and distinct-word
    support — the second half of the artifact a production tokenizer
    ships (merge table + vocabulary), now at production depth.  The
    oracle replays the full batched derivation and aggregates its
    final word table, so the hash pins the post-merge segmentations
    themselves."""
    BS = _bpes_mod()
    docs = _bpe_synth_docs(spark, sf_dir)
    merges = [
        tuple(r)
        for r in sorted(
            BS.train_merges_batched(
                docs,
                rounds=_BPEL_ROUNDS,
                batch=_BPEL_BATCH,
                max_words=_BPEL_MAX_WORDS,
                strict=True,
            ).collect()
        )
    ]
    return BS.vocab_after_merges_large(docs, merges, max_words=_BPEL_MAX_WORDS)


# ===========================================================================
# BPE on NATURAL text at production depth (round 13) + the versioned
# tokenizer artifact round-trip.
#
# The raw documents table has only 31 distinct words (vocabulary
# exhausts at ~106 merges), so the production-depth family above rode
# a synthetic md5-hex corpus — uniform by construction, with none of
# the Zipfian pair skew a real corpus shows (VERDICT r12).  These
# queries train on the REAL documents word sequences: each document's
# word stream is shingled into glued word-TRIGRAMS (w_j||w_{j+1}||
# w_{j+2} — a pure derivation of the actual text, [a-z0-9]+-closed),
# which preserves the corpus' Zipfian co-occurrence skew and shared
# morphology (thousands of "words" sharing prefixes/suffixes like
# ...table, hash..., exactly the structure BPE exploits on natural
# language) while raising merge capacity far past 2048.  Measured at
# sf0.01: 16,245 distinct trigram-words, the 1000-word cap engages
# (the production top-K-words bound doing real work for the first
# time), and all 8 × 256 batched rounds fill at every test SF.
# ===========================================================================

_BPEN_ROUNDS, _BPEN_BATCH = 8, 256  # 2048 merges
_BPEN_MAX_WORDS = 1000
_BPEN_ART_VERSION = 1

# DuckDB word-rows (did, j, w) over the REAL corpus: lower/split/
# filter exactly as word_counts, then sliding glued trigrams in word
# order.  Must stay in lockstep with _bpe_natural_docs below.  The
# split class is EXPLICIT [ \t\n\x0b\f\r] — the Spark side splits with
# Java \s, which includes vertical tab, while RE2's \s does not
# (ADVICE r13); docs with <3 words yield no rows here AND no rows on
# the Spark side (_bpe_natural_docs filters them), keeping the two
# derivations total-equal on any input.
_BPEN_WORDROWS = r"""
  SELECT doc_id AS did, j, ws[j] || ws[j+1] || ws[j+2] AS w
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
                       t -> t <> '' AND regexp_matches(t, '^[a-z0-9]+$')) AS ws
    FROM documents
  ) s, UNNEST(generate_series(1, len(ws) - 2)) AS g(j)
"""


def trigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, text): a documents frame re-expressed as glued
    word-trigram streams — lower/\\s+-split/[a-z0-9]+-filter (the
    word_counts normalization), then sliding shingles joined by
    spaces, in word order.  Pure row-local projection + filter, no
    shuffle.  Docs with <3 words are FILTERED (they have no trigram
    stream): the oracle's generate_series likewise yields no rows for
    them, so both derivations drop the same docs — the previous CASE
    guard emitted an empty-text Spark row the oracle never produced
    (ADVICE r13).  The word array is materialized ONCE in a prior
    projection (the filter/split subexpression was inlined 4x into
    the transform before — ADVICE r13); whole-stage codegen keeps it
    a single evaluation per row."""
    ws = (
        "filter(split(lower(text), '\\\\s+'), "
        "t -> t != '' and t rlike '^[a-z0-9]+$')"
    )
    return (
        docs.select("doc_id", F.expr(ws).alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.expr(
                "array_join(transform(sequence(1, size(ws) - 2), j -> "
                "concat(element_at(ws, j), element_at(ws, j + 1), "
                "element_at(ws, j + 2))), ' ')"
            ).alias("text"),
        )
    )


def _bpe_natural_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full documents table as trigram streams (see
    :func:`trigram_stream`) — the natural-BPE family's corpus."""
    return trigram_stream(load_table(spark, sf_dir, "documents"))


def _bpen_train_oracle() -> str:
    return _bpes_mod().batched_train_sql(
        _BPEN_WORDROWS,
        rounds=_BPEN_ROUNDS,
        batch=_BPEN_BATCH,
        max_words=_BPEN_MAX_WORDS,
    )


@register("bpe_train_natural", oracle=_bpen_train_oracle())
def q_bpe_train_natural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-depth BPE training on NATURAL text (VERDICT r12 #1):
    the batched top-B trainer over the real documents corpus'
    trigram-shingled word streams — 8 rounds × top-256 = the full
    2048-row merge table hash-checked cross-engine against the
    batched derivation (one pair agg + one row-wise replay recursion
    per round), exactly the bpe_train_batched contract but with the
    Zipfian pair skew, shared morphology, and an ENGAGED word cap
    (top-1000 of 16k distinct words) that the uniform md5-hex corpus
    cannot exhibit.  strict=True: a short round raises rather than
    silently diverging from the fixed-chain oracle (ADVICE r12)."""
    BS = _bpes_mod()
    docs = _bpe_natural_docs(spark, sf_dir)
    return BS.train_merges_batched(
        docs,
        rounds=_BPEN_ROUNDS,
        batch=_BPEN_BATCH,
        max_words=_BPEN_MAX_WORDS,
        strict=True,
    )


def _bpen_roundtrip_oracle() -> str:
    from hadoop_20_warehouse_spark.functions import bpe_store as BST

    return BST.artifact_roundtrip_sql(
        _BPEN_WORDROWS,
        rounds=_BPEN_ROUNDS,
        batch=_BPEN_BATCH,
        max_words=_BPEN_MAX_WORDS,
        version=_BPEN_ART_VERSION,
    )


@register("tokenizer_artifact_roundtrip", oracle=_bpen_roundtrip_oracle())
def q_tokenizer_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ship-the-tokenizer round-trip (VERDICT r12 #1, second half):
    train the 2048-merge natural-text vocabulary, PERSIST it as a
    versioned parquet artifact (manifest + ordered merge table +
    subword vocab — functions/bpe_store.py; atomic rename commit,
    DistributedCache lineage), RELOAD the artifact fresh, and
    tokenize the corpus with the reloaded merges.  Output = per-doc
    (bpe_len, tok_digest) plus the artifact's manifest fields
    (version, n_merges) and the reloaded vocab's row count.

    The oracle re-derives the merge table AND tokenization from
    scratch — replay is order-sensitive (duplicate merged strings via
    different splits), so a hash match proves the store restored the
    exact trained sequence, the manifest survived, and the vocab
    table round-tripped with its derivable cardinality.  The sketch
    stores (q_sketch_store_distinct) are the precedent; this is the
    artifact a real pipeline ships to its tokenization fleet."""
    from hadoop_20_warehouse_spark.functions import bpe_store as BST
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    BS = _bpes_mod()
    docs = _bpe_natural_docs(spark, sf_dir)
    merges_df = BS.train_merges_batched(
        docs,
        rounds=_BPEN_ROUNDS,
        batch=_BPEN_BATCH,
        max_words=_BPEN_MAX_WORDS,
        strict=True,
    )
    trained = [tuple(r) for r in sorted(merges_df.collect())]
    vocab_df = BS.vocab_after_merges_large(
        docs, trained, max_words=_BPEN_MAX_WORDS
    )
    store = _fresh_subdir(_scratch_dir("bpe_tokenizer"), "store")
    BST.write_tokenizer(merges_df, vocab_df, store, version=_BPEN_ART_VERSION)
    art = BST.read_tokenizer(spark, store)  # latest == the one written
    reloaded = BST.load_merges(art)
    n_vocab = art["vocab"].count()
    tok = BS.tokenize_with_merges_large(docs, reloaded)
    return tok.select(
        "doc_id",
        "bpe_len",
        "tok_digest",
        F.lit(int(art["manifest"]["version"])).cast("long").alias(
            "artifact_version"
        ),
        F.lit(int(art["manifest"]["n_merges"])).cast("long").alias(
            "artifact_n_merges"
        ),
        F.lit(int(n_vocab)).cast("long").alias("artifact_n_vocab"),
    )


# ===========================================================================
# Tokenizer store version pinning: two artifacts in one store, a
# pinned consumer and a follow-latest consumer, both hash-checked.
# ===========================================================================

_BPEN_V1_STEPS = (_BPEN_ROUNDS // 2) * _BPEN_BATCH  # 4 rounds = 1024 merges


def _bpen_pinning_oracle() -> str:
    """Both tokenizations derive from ONE batched CTE chain: the
    8-round derivation's ap4 state IS the 4-round (1024-merge)
    training — batched rounds are sequential, so the step<=1024 prefix
    of the 2048-row table equals the shallower training verbatim."""
    from hadoop_20_warehouse_spark.functions.bpe_scale import _batched_ctes

    half = _BPEN_ROUNDS // 2
    ctes = _batched_ctes(
        _BPEN_WORDROWS,
        _BPEN_ROUNDS,
        _BPEN_BATCH,
        _BPEN_MAX_WORDS,
        all_words=True,
    )
    return f"""WITH RECURSIVE
{ctes},
wtok1 AS (
  SELECT w, list_filter(string_split(seq, '||'), z -> z <> '') AS ts
  FROM ap{half}
),
wtok2 AS (
  SELECT w, list_filter(string_split(seq, '||'), z -> z <> '') AS ts
  FROM ap{_BPEN_ROUNDS}
)
SELECT wr.did AS doc_id,
       CAST(SUM(len(t1.ts)) AS BIGINT) AS bpe_len_v1,
       md5(string_agg(array_to_string(t1.ts, ' '), ' ' ORDER BY wr.j)) AS digest_v1,
       CAST(SUM(len(t2.ts)) AS BIGINT) AS bpe_len_latest,
       md5(string_agg(array_to_string(t2.ts, ' '), ' ' ORDER BY wr.j)) AS digest_latest,
       CAST(1 AS BIGINT) AS pinned_version,
       CAST(2 AS BIGINT) AS latest_version,
       CAST({_BPEN_V1_STEPS} AS BIGINT) AS n_merges_v1,
       CAST({_BPEN_ROUNDS * _BPEN_BATCH} AS BIGINT) AS n_merges_latest
FROM wr
JOIN wtok1 t1 ON t1.w = wr.w
JOIN wtok2 t2 ON t2.w = wr.w
GROUP BY wr.did"""


@register("tokenizer_version_pinning", oracle=_bpen_pinning_oracle())
def q_tokenizer_version_pinning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned-store CONSUMER contract, driver-checked: one
    store holds two tokenizer generations (v1 = the 1024-merge
    step-prefix — exactly the 4-round training, since batched rounds
    are sequential; v2 = the full 2048-merge table), both written with
    AUTO-assigned versions (the round-14 no-overwrite commit path);
    one consumer PINS version=1, another follows latest, and each
    tokenizes the corpus with its reloaded merges.  Output: per-doc
    (bpe_len, digest) under BOTH vocabularies plus the version and
    manifest fields.

    A hash match proves: auto-versioning numbered the artifacts 1 and
    2 in write order; the pinned read returned the OLD merge sequence
    (its tokenization matches the ap4 derivation, which a 2048-merge
    table CANNOT produce — deeper merges change segmentations), the
    latest read resolved to v2, and both reloads restored training
    order.  This is the retrain-in-place story a production store
    lives by: consumers pin through a retrain, then roll forward
    (filecache/DistributedCache.java:45's immutable-while-in-use
    contract, made versioned).

    Scale: two bounded artifacts (capped-vocab metadata), two
    broadcast-merge Arrow corpus passes — each the tokenize_bpe_large
    shape; nothing new shuffles."""
    from hadoop_20_warehouse_spark.functions import bpe_store as BST
    from hadoop_20_warehouse_spark.inventory_ext import (
        _fresh_subdir,
        _scratch_dir,
    )

    BS = _bpes_mod()
    docs = _bpe_natural_docs(spark, sf_dir)
    merges_df = BS.train_merges_batched(
        docs,
        rounds=_BPEN_ROUNDS,
        batch=_BPEN_BATCH,
        max_words=_BPEN_MAX_WORDS,
        strict=True,
    )
    v1_df = merges_df.filter(F.col("step") <= _BPEN_V1_STEPS)
    trained_v1 = [tuple(r) for r in sorted(v1_df.collect())]
    trained_v2 = [tuple(r) for r in sorted(merges_df.collect())]
    vocab_v1 = BS.vocab_after_merges_large(
        docs, trained_v1, max_words=_BPEN_MAX_WORDS
    )
    vocab_v2 = BS.vocab_after_merges_large(
        docs, trained_v2, max_words=_BPEN_MAX_WORDS
    )
    store = _fresh_subdir(_scratch_dir("bpe_tokenizer"), "pinned")
    BST.write_tokenizer(v1_df, vocab_v1, store)        # auto -> 1
    BST.write_tokenizer(merges_df, vocab_v2, store)    # auto -> 2
    pinned = BST.read_tokenizer(spark, store, version=1)
    latest = BST.read_tokenizer(spark, store)
    tok1 = BS.tokenize_with_merges_large(docs, BST.load_merges(pinned))
    tok2 = BS.tokenize_with_merges_large(docs, BST.load_merges(latest))
    return (
        tok1.select(
            "doc_id",
            F.col("bpe_len").alias("bpe_len_v1"),
            F.col("tok_digest").alias("digest_v1"),
        )
        .join(
            tok2.select(
                "doc_id",
                F.col("bpe_len").alias("bpe_len_latest"),
                F.col("tok_digest").alias("digest_latest"),
            ),
            "doc_id",
        )
        .select(
            "*",
            F.lit(int(pinned["version"])).cast("long").alias("pinned_version"),
            F.lit(int(latest["version"])).cast("long").alias("latest_version"),
            F.lit(int(pinned["manifest"]["n_merges"]))
            .cast("long")
            .alias("n_merges_v1"),
            F.lit(int(latest["manifest"]["n_merges"]))
            .cast("long")
            .alias("n_merges_latest"),
        )
    )


_TRI_SQL = """
WITH pe AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
),
t AS (
  SELECT x.a, x.b, y.b AS c
  FROM pe x
  JOIN pe y ON y.a = x.a AND y.b > x.b
  JOIN pe z ON z.a = x.b AND z.b = y.b
),
m AS (
  SELECT a AS node FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM m GROUP BY node
"""


@register("graph_triangle_count", oracle=_TRI_SQL)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph (parts
    sharing an order — lineitem self-joined on l_orderkey; 116k
    distinct edges / 414k triangles at sf0.01, 1.2M / 1.9M at sf0.1):
    the clustering-structure primitive of the graph family, joining
    pagerank (influence) and connected components (dedup grouping).

    Engine side is DEGREE-ORIENTED wedge counting
    (graph.triangle_counts; Suri & Vassilvitskii 2011): edges
    re-orient from the lower-(degree, id) endpoint, so each node's
    wedge fan-out is bounded by O(sqrt(E)) and each triangle is
    enumerated at exactly one apex — the naive a<b<c self-join the
    ORACLE runs explodes quadratically on hub parts (the curse of the
    last reducer), which is precisely the plan difference under test:
    both derivations must count the same triangles while the engine's
    survives skew at 100x.  All joins keyed; the count is an explode
    + partial agg."""
    from hadoop_20_warehouse_spark.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    l2 = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p2")
    )
    edges = (
        li.join(l2, on="l_orderkey")
        .filter(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )
    return triangle_counts(edges)


_KCORE_K = 3
_KCORE_MIN_CO = 2
_KCORE_ORACLE_ROUNDS = 24  # measured sf0.01 fixpoint: 8 rounds; 3x margin
# (post-fixpoint rounds are no-ops on both engines, and a materialized
# round over the ~7k-row bidirectional edge list costs microseconds in
# DuckDB — the margin is free insurance against a reseeded fixture
# peeling deeper)

_KCORE_EDGES_CTE = f"""edges AS (
  SELECT a, b FROM (
    SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS c
    FROM lineitem l1 JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    GROUP BY 1, 2) WHERE c >= {_KCORE_MIN_CO}
)"""


def _kcore_oracle() -> str:
    from hadoop_20_warehouse_spark.graph import kcore_sql

    return kcore_sql(_KCORE_EDGES_CTE, k=_KCORE_K, rounds=_KCORE_ORACLE_ROUNDS)


@register("graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the REPEAT-co-purchase graph (parts sharing >= {mc}
    orders — the raw co-purchase graph is near-complete at min degree
    42, so the repeat threshold sparsifies it to where density is a
    SIGNAL: 1.9k nodes / 3.6k edges at sf0.01): every part in the
    maximal subgraph where each member repeat-co-occurs with >= {k}
    other members, plus its degree inside that core.  The
    dense-subgraph member primitive of the graph family — pagerank
    ranks influence, triangle counting measures local closure, k-core
    extracts the globally cohesive community (link-farm / citation-
    cluster detection on corpus link graphs).

    Engine: graph.kcore_members — iterative peel, one degree agg +
    two survivor semi-joins per round, convergence riding an observe()
    metric on the round's own materializing action (edge count
    unchanged ⟺ fixpoint; no separate probe job).  The ORACLE unrolls
    the same peel to {r} fixed rounds (sequential CTEs — DuckDB
    recursion cannot re-aggregate); post-fixpoint rounds are no-ops
    and the sf0.01 fixpoint is 8 rounds, so 24 pins the true core.
    The hash therefore proves an ITERATIVE convergence loop against a
    closed-form unrolled oracle — the components-in-endgame
    composition argument, now for a second iterative algorithm.

    Scale: every shuffle is keyed (degree agg, survivor joins); the
    edge frame shrinks monotonically and re-materializes per round;
    no corpus-sized window, no driver-side data beyond the observe
    scalar.  At 100 TB the peel is O(rounds) keyed passes over a
    shrinking edge list — the plan that survives hub skew (a hub's
    removal is one survivor-join miss, not a d^2 blowup)."""
    from hadoop_20_warehouse_spark.graph import kcore_members

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    l2 = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    edges = (
        li.join(l2, on="l_orderkey")
        .filter(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _KCORE_MIN_CO)
        .select("a", "b")
    )
    # engine cap == oracle unroll bound: if the peel ever needs more
    # rounds than the oracle unrolls, the engine RAISES rather than
    # silently returning a supergraph the oracle would flag
    return kcore_members(edges, k=_KCORE_K,
                         max_iterations=_KCORE_ORACLE_ROUNDS)


q_graph_kcore.__doc__ = q_graph_kcore.__doc__.format(
    mc=_KCORE_MIN_CO, k=_KCORE_K, r=_KCORE_ORACLE_ROUNDS
)


def _scd2_oracle() -> str:
    from hadoop_20_warehouse_spark.operators.scd import scd2_sql

    inner = scd2_sql(
        "changes AS (SELECT user_id, event_type, ts, event_id FROM events)",
        key="user_id",
        attrs=("event_type",),
        ts="ts",
        tiebreak=("event_id",),
    )
    # interval bounds cross the compare as µs STRINGS (the repo's
    # timestamp convention: Spark toPandas yields datetime64[ns],
    # DuckDB datetime64[us] — same values, different dtypes)
    return f"""
WITH scd AS (
{inner}
)
SELECT user_id, event_type,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       is_current, version
FROM scd
""".strip()


@register("scd2_dimension_build", oracle=_scd2_oracle())
def q_scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the event stream
    (Kimball SCD2): each user's event_type is treated as their current
    STATE; consecutive confirmations collapse, every state CHANGE
    opens a validity interval ``[valid_from, valid_to)``, the previous
    interval closes at the change instant, the open interval is marked
    ``is_current``, and ``version`` numbers a user's states in time
    order.  The dimension table join_asof_attribution/join_band_events
    would consume — here built as a first-class registered operator
    (operators/scd.scd2_build) instead of assumed.

    The reference loads dimensions by full rewrite (DBOutputFormat's
    replace-table shape, examples/DBCountPageView.java:87); SCD2 is
    the warehouse-native versioned alternative.

    Cross-engine determinism: change detection is null-safe struct
    inequality (Spark ``<=>`` / ANSI ``IS DISTINCT FROM``), ordering
    within a user is (ts, event_id) — the unique event id breaks
    same-instant ties identically on both engines.

    Scale: all three windows (change lag, interval lead, version
    row_number) partition by user_id and share one sort order, so the
    build is ONE key exchange + one sort reused across the windows —
    never a corpus-global window; user cardinality grows with the
    data, so partitions stay bounded."""
    from hadoop_20_warehouse_spark.operators.scd import scd2_build

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    from hadoop_20_warehouse_spark.streaming.windows import TS_FMT

    dim = scd2_build(
        ev, key="user_id", attrs=("event_type",), ts="ts",
        tiebreak=("event_id",),
    )
    return dim.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", TS_FMT).alias("valid_from"),
        F.date_format("valid_to", TS_FMT).alias("valid_to"),
        "is_current",
        "version",
    )


def _fertility_oracle() -> str:
    from hadoop_20_warehouse_spark.functions.bpe import _tokenize_ctes_duck

    ctes = _tokenize_ctes_duck(
        "documents", "doc_id", "text", _BPE_N_MERGES, _BPE_MAX_WORDS
    )
    langs = sorted(T.STOPWORD_PROFILES)
    per_lang = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{lang}' AS cand_lang, "
        f"{T.stopword_hits_sql('text', lang)} AS hits FROM documents"
        for lang in langs
    )
    return f"""
WITH {ctes},
scores AS ({per_lang}),
langid AS (
  SELECT doc_id, cand_lang AS lang FROM (
    SELECT doc_id, cand_lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY hits DESC, cand_lang ASC) AS rn
    FROM scores) WHERE rn = 1
),
wstats AS (
  SELECT did, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(w)) AS BIGINT) AS n_chars
  FROM wordrows GROUP BY did
),
perdoc AS (
  SELECT l.lang,
         COALESCE(w.n_words, 0) AS n_words,
         COALESCE(w.n_chars, 0) AS n_chars,
         COALESCE(a.bpe_len, 0) AS bpe_len
  FROM documents d
  JOIN langid l ON l.doc_id = d.doc_id
  LEFT JOIN wstats w ON w.did = d.doc_id
  LEFT JOIN docagg a ON a.did = d.doc_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(bpe_len) AS BIGINT) AS total_subwords,
       CASE WHEN SUM(n_words) = 0 THEN NULL
            ELSE CAST((1000 * SUM(bpe_len)) // SUM(n_words) AS BIGINT) END
         AS fertility_milli,
       CASE WHEN SUM(bpe_len) = 0 THEN NULL
            ELSE CAST((1000 * SUM(n_chars)) // SUM(bpe_len) AS BIGINT) END
         AS chars_per_subword_milli
FROM perdoc GROUP BY lang
""".strip()


@register("tokenizer_fertility_by_lang", oracle=_fertility_oracle())
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit by detected language: per predicted
    language, the trained BPE's subwords-per-word and chars-per-subword
    (integer per-mille).  Fertility is the standard tokenizer-bias
    metric (Rust et al. 2021, "How Good is Your Tokenizer?"): a vocab
    trained on skewed language mix over-segments the minority
    languages, inflating their effective sequence length and training
    cost — this report is how a corpus team SEES that skew before
    committing a tokenizer.  Composes three registered surfaces in one
    hash-checked plan: stopword-profile lang-id (row-local argmax),
    BPE train+apply (bounded train job + one row-local corpus pass),
    and the trainer's own word normalization (fertility must count the
    words the tokenizer actually SAW — [a-z0-9]+ after lowering — or
    the ratio mixes normalizations).

    Cross-engine exactness: integer counts and floored per-mille
    ratios; NULL (not a crash, not 0) where a language bucket has no
    words — both engines spell it as the same guarded CASE.

    Scale: lang-id and word stats ride the SAME row-local projection
    pass; tokenization adds the one bounded-vocab corpus pass
    (tokenize_bpe's shape); the report agg is one lang-keyed partial
    agg over per-doc rows — three joins on doc_id, all
    high-cardinality keyed, no window."""
    B = _bpe_mod()
    docs = load_table(spark, sf_dir, "documents")
    langs = sorted(T.STOPWORD_PROFILES)
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    (-T.stopword_hits(F.col("text"), lang)).alias("neg"),
                    F.lit(lang).alias("lang"),
                )
                for lang in langs
            ]
        )
    )
    words = F.filter(
        F.filter(
            F.split(F.lower(F.col("text")), "[ \\t\\n\\x0b\\f\\r]+"),
            lambda t: t != "",
        ),
        lambda t: t.rlike("^[a-z0-9]+$"),
    )
    perdoc = docs.select(
        "doc_id",
        best["lang"].alias("lang"),
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(words, F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars"),
    )
    merges = [
        tuple(r)
        for r in sorted(
            B.train_merges(
                docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
            ).collect()
        )
    ]
    lens = B.tokenize_with_merges(docs, merges).select("doc_id", "bpe_len")
    return (
        perdoc.join(lens, on="doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("bpe_len").cast("long").alias("total_subwords"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "total_subwords",
            F.expr(
                "case when total_words = 0 then null else "
                "cast((1000 * total_subwords) div total_words as bigint) end"
            ).alias("fertility_milli"),
            F.expr(
                "case when total_subwords = 0 then null else "
                "cast((1000 * total_chars) div total_subwords as bigint) end"
            ).alias("chars_per_subword_milli"),
        )
    )


def _scd2_pit_oracle() -> str:
    from hadoop_20_warehouse_spark.operators.scd import scd2_sql

    scd = scd2_sql(
        "changes AS (SELECT user_id, event_type, ts, event_id FROM events"
        " WHERE event_type <> 'purchase')",
        key="user_id",
        attrs=("event_type",),
        ts="ts",
        tiebreak=("event_id",),
    )
    return f"""
WITH scd AS (
{scd}
),
facts AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id,
       strftime(f.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       s.event_type AS state, s.version
FROM facts f LEFT JOIN scd s
  ON s.user_id = f.user_id AND s.valid_from <= f.ts
 AND (s.valid_to IS NULL OR f.ts < s.valid_to)
""".strip()


@register("scd2_point_in_time_join", oracle=_scd2_pit_oracle())
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact enrichment against the SCD2 dimension: every
    purchase event annotated with the user's state (their last
    non-purchase event type) and dimension version AS OF the purchase
    instant — the lookup a versioned dimension exists to serve.
    Purchases before a user's first state observation keep NULL state
    (left semantics; fabricating a state would be wrong).

    The engine runs the JOIN-FREE as-of construction
    (join_asof_attribution's union+window shape): dimension interval
    opens and facts union into ONE user-keyed frame, one exchange, one
    sort, and each fact takes the last dimension struct at or before
    its timestamp (dim rows sort BEFORE facts at equal ts — the
    [valid_from, valid_to) convention; same-instant dimension
    versions resolve to the highest version, matching the zero-length
    interval that a same-instant retract leaves behind).  The ORACLE
    instead runs the textbook INTERVAL join (valid_from <= ts < valid
    _to) against the scd2_sql table — so the hash match PROVES the
    as-of window construction and interval-join semantics are the
    same function, which is exactly the claim that lets the 100 TB
    plan drop the interval join (per-user interval fan-out) for the
    single-exchange window.

    Scale: exactly TWO user-keyed exchanges — scd2_build's window,
    then the union+lookup window (the facts' only shuffle; the union
    resets the dim side's partitioning guarantee, so Spark re-keys
    the merged frame once) — and no join operator in the plan at all
    (asserted by the pit plan test), no interval cross-product; dense
    dimension histories cost their row count, never their square."""
    from pyspark.sql import Window

    from hadoop_20_warehouse_spark.operators.scd import scd2_build

    ev = load_table(spark, sf_dir, "events")
    dim = scd2_build(
        ev.filter(F.col("event_type") != "purchase").select(
            "user_id", "event_type", "ts", "event_id"
        ),
        key="user_id",
        attrs=("event_type",),
        ts="ts",
        tiebreak=("event_id",),
    ).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.struct(
            F.col("event_type").alias("state"), F.col("version")
        ).alias("_dim"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("_is_dim"),
        F.col("version").alias("_ord"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None)
        .cast("struct<state:string,version:bigint>")
        .alias("_dim"),
        "event_id",
        F.lit(0).alias("_is_dim"),
        F.lit(None).cast("long").alias("_ord"),
    )
    w = Window.partitionBy("user_id").orderBy(
        "ts", F.desc("_is_dim"), "_ord"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    annotated = dim.unionByName(facts).withColumn(
        "_last", F.last("_dim", ignorenulls=True).over(w)
    )
    from hadoop_20_warehouse_spark.streaming.windows import TS_FMT

    return annotated.filter(F.col("_is_dim") == 0).select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        F.col("_last.state").alias("state"),
        F.col("_last.version").alias("version"),
    )


_ASSOC_MINSUP = 3

_ASSOC_SQL = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
),
nb AS (SELECT CAST(COUNT(DISTINCT oid) AS BIGINT) AS n_baskets FROM basket),
ic AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS c_item FROM basket GROUP BY item
),
pairs AS (
  SELECT x.item AS a, y.item AS b, CAST(COUNT(*) AS BIGINT) AS c_pair
  FROM basket x JOIN basket y ON x.oid = y.oid AND x.item < y.item
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_ASSOC_MINSUP}
),
rules AS (
  SELECT a AS ante, b AS cons, c_pair FROM pairs
  UNION ALL
  SELECT b, a, c_pair FROM pairs
)
SELECT r.ante, r.cons, r.c_pair,
       ca.c_item AS c_ante,
       CAST((1000 * r.c_pair) // nb.n_baskets AS BIGINT) AS support_milli,
       CAST((1000 * r.c_pair) // ca.c_item AS BIGINT) AS conf_milli,
       CAST((1000 * nb.n_baskets * r.c_pair) // (ca.c_item * cc.c_item) AS BIGINT)
         AS lift_milli
FROM rules r
JOIN (SELECT item, c_item FROM ic) ca ON ca.item = r.ante
JOIN (SELECT item, c_item FROM ic) cc ON cc.item = r.cons
CROSS JOIN nb
""".strip()


@register("basket_association_rules", oracle=_ASSOC_SQL)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant 1994, the
    pairwise tier): for every repeat-co-purchased part pair with
    support >= {ms} baskets, both directed rules ante→cons with
    integer per-mille support (pair baskets / all baskets), confidence
    (pair baskets / antecedent baskets), and lift (observed over
    independence) — the recommender / shelf-planning primitive of the
    retail-analytics family, and the BASKET twin of the text family's
    PMI collocations (sets, not sequences; conditional strength, not
    log-ratio).

    Scale: the pair enumeration self-joins baskets on the ORDER key,
    so fan-out is per-basket |items|² — TPC-H orders hold <= 7 lines,
    and real baskets are similarly bounded, so the explode is linear
    in orders with a constant factor, never corpus-quadratic (a hub
    ITEM costs nothing here; contrast the triangle oracle's item-item
    join the engine's wedge orientation exists to avoid).  The
    support floor prunes BEFORE the stats joins; counts are partial
    aggs; item counts join back keyed; the one scalar (n_baskets)
    broadcasts.  All-integer floored per-milles cross the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
    ).distinct()
    nb = basket.agg(
        F.countDistinct("oid").cast("long").alias("n_baskets")
    )
    ic = basket.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("c_item")
    )
    y = basket.select("oid", F.col("item").alias("item_b"))
    pairs = (
        basket.join(y, on="oid")
        .filter(F.col("item") < F.col("item_b"))
        .groupBy(F.col("item").alias("a"), F.col("item_b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_pair"))
        .filter(F.col("c_pair") >= _ASSOC_MINSUP)
    )
    rules = pairs.select(
        F.col("a").alias("ante"), F.col("b").alias("cons"), "c_pair"
    ).unionByName(
        pairs.select(
            F.col("b").alias("ante"), F.col("a").alias("cons"), "c_pair"
        )
    )
    return (
        rules.join(
            ic.select(F.col("item").alias("ante"),
                      F.col("c_item").alias("c_ante")),
            on="ante",
        )
        .join(
            ic.select(F.col("item").alias("cons"),
                      F.col("c_item").alias("c_cons")),
            on="cons",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            "c_pair",
            "c_ante",
            F.expr("cast((1000 * c_pair) div n_baskets as bigint)").alias(
                "support_milli"
            ),
            F.expr("cast((1000 * c_pair) div c_ante as bigint)").alias(
                "conf_milli"
            ),
            F.expr(
                "cast((1000 * n_baskets * c_pair) div (c_ante * c_cons)"
                " as bigint)"
            ).alias("lift_milli"),
        )
    )


q_basket_association_rules.__doc__ = q_basket_association_rules.__doc__.format(
    ms=_ASSOC_MINSUP
)


# exact integer least-squares pieces: num = n*Sxy - Sx*Sy,
# den = n*Sxx - Sx*Sx; slope reported as sign-split floored milli
# (trunc == floor on the positive magnitudes, so Spark's
# toward-zero `div` and DuckDB's flooring `//` agree — dividing the
# SIGNED integers would not: the two engines round negative quotients
# in opposite directions).
_TREND_NUM = "(n * sxy - sx * sy)"
_TREND_DEN = "(n * sxx - sx * sx)"

_TREND_SQL = f"""
WITH pts AS (
  SELECT o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
  FROM orders
),
s AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY o_custkey
)
SELECT o_custkey, n,
       CAST({_TREND_NUM} AS BIGINT) AS num,
       CAST({_TREND_DEN} AS BIGINT) AS den,
       CASE WHEN {_TREND_DEN} = 0 THEN NULL
            ELSE CAST(CASE WHEN {_TREND_NUM} >= 0 THEN 1 ELSE -1 END
                 * ((1000 * abs({_TREND_NUM})) // {_TREND_DEN}) AS BIGINT) END
         AS slope_milli_cents_per_day
FROM s
""".strip()


@register("customer_spend_trend", oracle=_TREND_SQL)
def q_customer_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spend TREND: the exact least-squares slope of
    order value (integer cents) over order date (epoch days), one row
    per customer — the grow/shrink signal behind churn scoring and
    account tiering.  The point of the implementation: grouped linear
    regression needs NO solver and NO iteration — the closed form
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is five partial-aggregable
    integer sums, so a 100 TB regression-per-group is ONE wordcount-
    shaped keyed agg (the same collapse the reference's combiner
    performs for counts, applied to second-order moments).

    Cross-engine exactness: cents and epoch days are integers (the
    ×100 rounding runs on the same IEEE double in both engines);
    numerator/denominator are emitted as exact integers; the reported
    milli-slope divides SIGN-SPLIT magnitudes because Spark's ``div``
    truncates toward zero while DuckDB's ``//`` floors — equal only
    on non-negative operands (single-day customers report NULL, not a
    division error).  Bounds: orders-per-customer is O(10) regardless
    of corpus size, so the moment terms stay ~1e15 and the ×1000
    scaling ~1e18 < BIGINT max at ANY scale factor — the docstring
    bound a 100 TB run checks, not hopes."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast(
            "long"
        ).alias("x"),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("y"),
    )
    s = pts.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        "o_custkey",
        "n",
        F.expr(f"cast({_TREND_NUM} as bigint)").alias("num"),
        F.expr(f"cast({_TREND_DEN} as bigint)").alias("den"),
        F.expr(
            f"case when {_TREND_DEN} = 0 then null else "
            f"cast((case when {_TREND_NUM} >= 0 then 1 else -1 end)"
            f" * ((1000 * abs({_TREND_NUM})) div {_TREND_DEN})"
            " as bigint) end"
        ).alias("slope_milli_cents_per_day"),
    )


_DQ_SQL = """
WITH checks AS (
  SELECT 'lineitem_orphan_orderkey' AS check_name,
         CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
           AS n_violations,
         CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_checked
  UNION ALL
  SELECT 'orders_orphan_custkey',
         CAST((SELECT COUNT(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
         CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'orders_orderkey_duplicates',
         CAST((SELECT COALESCE(SUM(cnt - 1), 0) FROM
               (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
               WHERE cnt > 1) AS BIGINT),
         CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'orders_nonpositive_totalprice',
         CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT),
         CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'lineitem_quantity_out_of_range',
         CAST((SELECT COUNT(*) FROM lineitem
               WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
         CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'documents_null_or_empty_text',
         CAST((SELECT COUNT(*) FROM documents
               WHERE text IS NULL OR text = '') AS BIGINT),
         CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
  UNION ALL
  SELECT 'documents_doc_id_duplicates',
         CAST((SELECT COALESCE(SUM(cnt - 1), 0) FROM
               (SELECT COUNT(*) AS cnt FROM documents GROUP BY doc_id)
               WHERE cnt > 1) AS BIGINT),
         CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
)
SELECT check_name, n_violations, n_checked FROM checks
""".strip()


_KANON_K = 5
_KANON_BAL_BUCKET = 1000

_KANON_SQL = f"""
WITH qi AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / {_KANON_BAL_BUCKET}) AS BIGINT) AS bal_bucket
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(MIN(c_custkey) AS BIGINT) AS example_key
  FROM qi GROUP BY 1, 2, 3
),
ldiv AS (
  SELECT q.c_nationkey, q.c_mktsegment, q.bal_bucket,
         CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_div
  FROM qi q JOIN orders o ON o.o_custkey = q.c_custkey
  GROUP BY 1, 2, 3
)
SELECT c.c_nationkey AS nationkey, c.c_mktsegment AS mktsegment,
       c.bal_bucket, c.n_members, c.example_key,
       COALESCE(l.l_div, 0) AS l_div,
       (c.n_members < {_KANON_K}) AS k_violation,
       (COALESCE(l.l_div, 0) = 1) AS l_violation
FROM classes c LEFT JOIN ldiv l
  ON l.c_nationkey = c.c_nationkey
 AND l.c_mktsegment = c.c_mktsegment
 AND l.bal_bucket = c.bal_bucket
WHERE c.n_members < {_KANON_K} OR COALESCE(l.l_div, 0) = 1
""".strip()


@register("privacy_k_anonymity", oracle=_KANON_SQL)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-risk audit — the release gate pii_redact does NOT
    cover: redaction strips direct identifiers, but a row remains
    re-identifiable when its QUASI-identifier combination (nation x
    market segment x account-balance bucket here) is rare.  Reports
    every equivalence class violating k-anonymity (fewer than {k}
    members — Sweeney 2002) or l-diversity (all of the class's orders
    share ONE priority value — Machanavajjhala 2007; a linker who
    finds the class learns the sensitive attribute exactly), with
    member counts, the distinct-sensitive-value count, and an example
    key per class.  The suppress/generalize decision consumes THIS
    table (drop the flagged classes, or widen bal_bucket until they
    clear).

    Scale: one keyed partial agg over the QI projection + one
    join-keyed exact-distinct agg on the fact side + one broadcastable
    class-keyed join — the QI class space is tiny by construction
    (generalization exists to make it so), so at 100 TB this is two
    scans and no corpus-sized shuffle."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            f"cast(floor(c_acctbal / {_KANON_BAL_BUCKET}) as bigint)"
        ).alias("bal_bucket"),
    )
    classes = cust.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("c_custkey").cast("long").alias("example_key"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    ldiv = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(
            F.countDistinct("o_orderpriority").cast("long").alias("l_div")
        )
    )
    out = classes.join(
        ldiv, on=["c_nationkey", "c_mktsegment", "bal_bucket"], how="left"
    ).select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        "bal_bucket",
        "n_members",
        "example_key",
        F.coalesce(F.col("l_div"), F.lit(0)).cast("long").alias("l_div"),
        (F.col("n_members") < _KANON_K).alias("k_violation"),
        (F.coalesce(F.col("l_div"), F.lit(0)) == 1).alias("l_violation"),
    )
    return out.filter(F.col("k_violation") | F.col("l_violation"))


q_privacy_k_anonymity.__doc__ = q_privacy_k_anonymity.__doc__.format(
    k=_KANON_K
)


@register("dq_integrity_report", oracle=_DQ_SQL)
def q_dq_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse data-quality assertion report (the dbt-test / Great
    Expectations tier): referential orphans (lineitem→orders,
    orders→customer), primary-key duplicate counts, domain-range
    violations, and empty-document checks — one row per check with
    violation and population counts.  A warehouse that cannot ASSERT
    its invariants ships silent corruption downstream; the reference
    gets this for free from rigid Writable schemas, a lakehouse has
    to check.

    Engine shapes: orphan checks are LEFT ANTI joins (never EXISTS
    subqueries per row — the anti join is one keyed shuffle);
    duplicate checks are keyed partial-agg counts (Σ(cnt−1) so the
    number reported is exactly how many rows dedup would drop); range
    checks are scan-local filter counts that ride predicate pushdown.
    Each check collapses to a 1-row frame before the union, so the
    report is a union of scalars, not a union of corpora."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")

    def one(name: str, viol, total) -> DataFrame:
        return viol.crossJoin(total).select(
            F.lit(name).alias("check_name"),
            F.col("n_violations"),
            F.col("n_checked"),
        )

    def cnt(df, alias):
        return df.agg(F.count(F.lit(1)).cast("long").alias(alias))

    def dup_excess(df, key):
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > 1)
            .agg(
                F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
                .cast("long")
                .alias("n_violations")
            )
        )

    reports = [
        one(
            "lineitem_orphan_orderkey",
            cnt(
                li.join(
                    o.select("o_orderkey"),
                    on=li["l_orderkey"] == o["o_orderkey"],
                    how="left_anti",
                ),
                "n_violations",
            ),
            cnt(li, "n_checked"),
        ),
        one(
            "orders_orphan_custkey",
            cnt(
                o.join(
                    c.select("c_custkey"),
                    on=o["o_custkey"] == c["c_custkey"],
                    how="left_anti",
                ),
                "n_violations",
            ),
            cnt(o, "n_checked"),
        ),
        one(
            "orders_orderkey_duplicates",
            dup_excess(o, "o_orderkey"),
            cnt(o, "n_checked"),
        ),
        one(
            "orders_nonpositive_totalprice",
            cnt(o.filter(F.col("o_totalprice") <= 0), "n_violations"),
            cnt(o, "n_checked"),
        ),
        one(
            "lineitem_quantity_out_of_range",
            cnt(
                li.filter(
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
                ),
                "n_violations",
            ),
            cnt(li, "n_checked"),
        ),
        one(
            "documents_null_or_empty_text",
            cnt(
                docs.filter(
                    F.col("text").isNull() | (F.col("text") == "")
                ),
                "n_violations",
            ),
            cnt(docs, "n_checked"),
        ),
        one(
            "documents_doc_id_duplicates",
            dup_excess(docs, "doc_id"),
            cnt(docs, "n_checked"),
        ),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# canonical per-column representations so min/max hash identically:
# integers/strings raw, money in integer cents, dates in epoch days
_PROFILE_COLS = (
    ("o_orderkey", "CAST({c} AS VARCHAR)"),
    ("o_custkey", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "{c}"),
    ("o_totalprice", "CAST(CAST(round({c} * 100, 0) AS BIGINT) AS VARCHAR)"),
    ("o_orderdate", "CAST(CAST(CAST({c} AS DATE) - DATE '1970-01-01' AS BIGINT) AS VARCHAR)"),
    ("o_orderpriority", "{c}"),
)


def _profile_oracle() -> str:
    parts = []
    for col, rep in _PROFILE_COLS:
        # rank min/max on the TYPED column, render the canonical
        # string afterwards — min over the rendered string would sort
        # "999" above "1499"
        parts.append(
            f"""SELECT '{col}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
       {rep.format(c=f'MIN({col})')} AS min_repr,
       {rep.format(c=f'MAX({col})')} AS max_repr
FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


@register("profile_column_stats", oracle=_profile_oracle())
def q_profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the orders table: one row per
    column with row/null/exact-distinct counts and canonicalized
    min/max — the stats surface a warehouse maintains for optimizer
    cardinality estimates and data-contract monitoring (a distinct
    count collapsing or a min/max wandering out of contract is the
    first symptom of an upstream break; dq_integrity_report asserts
    known invariants, the profile watches the unknowns).

    Cross-engine canon: numerics are rendered AFTER numeric min/max
    (string min over "10" < "9" would rank lexically), money in
    integer cents, dates in epoch days, so every cell crossing the
    hash is an integer-derived or ASCII string.

    Scale: ONE scan pass — a single groupBy-less aggregate computes
    every column's stats (Spark expands multi-distinct aggs
    map-side; the scan is not repeated per column), then a row-local
    stack pivots the 1-row result to the report — versus the naive
    per-column union of 6 full scans the ORACLE runs (fine for
    DuckDB at sf0.01, exactly what you would not do at 100 TB)."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for col, rep in _PROFILE_COLS:
        r = rep.replace("VARCHAR", "STRING").format(c=col)
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"{col}__rows"),
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias(f"{col}__nulls"),
            F.countDistinct(col).cast("long").alias(f"{col}__distinct"),
            F.expr(f"min({col})").alias(f"{col}__min_raw"),
            F.expr(f"max({col})").alias(f"{col}__max_raw"),
        ]
    one = o.agg(*aggs)
    # render canonical strings from the typed min/max, then stack
    rendered = one.select(
        *[
            c
            for col, rep in _PROFILE_COLS
            for c in (
                F.col(f"{col}__rows"),
                F.col(f"{col}__nulls"),
                F.col(f"{col}__distinct"),
                F.expr(
                    rep.replace("VARCHAR", "STRING").format(
                        c=f"{col}__min_raw"
                    )
                ).alias(f"{col}__min"),
                F.expr(
                    rep.replace("VARCHAR", "STRING").format(
                        c=f"{col}__max_raw"
                    )
                ).alias(f"{col}__max"),
            )
        ]
    )
    stack_args = ", ".join(
        f"'{col}', {col}__rows, {col}__nulls, {col}__distinct, "
        f"{col}__min, {col}__max"
        for col, _ in _PROFILE_COLS
    )
    return rendered.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_rows, n_nulls, n_distinct, min_repr, max_repr)"
        )
    )


_SCD2_SPLIT_TS = "2024-01-21 00:00:00"


def _scd2_delta_oracle() -> str:
    from hadoop_20_warehouse_spark.operators.scd import scd2_sql

    # the FULL-log rebuild: incremental apply must equal it exactly
    inner = scd2_sql(
        "changes AS (SELECT user_id, event_type, ts, event_id FROM events"
        " WHERE event_type <> 'purchase')",
        key="user_id",
        attrs=("event_type",),
        ts="ts",
        tiebreak=("event_id",),
    )
    return f"""
WITH scd AS (
{inner}
)
SELECT user_id, event_type,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       is_current, version
FROM scd
""".strip()


_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    from hadoop_20_warehouse_spark.graph import label_propagation_sql

    return label_propagation_sql(_KCORE_EDGES_CTE, rounds=_LPA_ROUNDS)


@register("graph_label_propagation", oracle=_lpa_oracle())
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the repeat-co-purchase graph
    (the k-core query's sparsified edge set — the raw co-purchase
    graph is near-complete, so communities only exist above the
    repeat threshold): every node's label after {r} SYNCHRONOUS
    rounds (graph.label_propagation — labels start as node ids, each
    round adopts the most frequent neighbor label, smallest label on
    ties).  The determinism contract makes the round count an oracle
    knob: the DuckDB twin unrolls the SAME {r} rounds as materialized
    CTEs, so the hash pins the neighbor count, the (count, label)
    election, and the synchronous-update semantics — an async or
    randomized variant would diverge immediately.

    Scale: per round one neighbor-keyed join + one (node, label)
    partial agg + one struct-min election — all keyed shuffles; at
    100 TB the per-round cost is O(E) with map-side combine on the
    label counts, and checkpoint_every bounds lineage for deep
    runs."""
    from hadoop_20_warehouse_spark.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    l2 = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    edges = (
        li.join(l2, on="l_orderkey")
        .filter(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _KCORE_MIN_CO)
        .select("a", "b")
    )
    return label_propagation(edges, rounds=_LPA_ROUNDS)


q_graph_label_propagation.__doc__ = q_graph_label_propagation.__doc__.format(
    r=_LPA_ROUNDS
)


def _cdc_merge_oracle() -> str:
    from hadoop_20_warehouse_spark.operators.cdc import merge_sql

    snap = (
        "snapshot AS (SELECT c_custkey AS cust_id, c_name AS name, "
        "CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents "
        "FROM customer)"
    )
    chg = (
        "changes AS (SELECT "
        "CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1000000 "
        "ELSE o_custkey END AS cust_id, "
        "CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op, "
        "o_orderdate AS ts, o_orderkey AS seq, "
        "'upsert#' || CAST(o_orderkey AS VARCHAR) AS name, "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS bal_cents "
        "FROM orders)"
    )
    return merge_sql(
        snap, chg, key="cust_id", cols=("name", "bal_cents"),
        ts="ts", tiebreak=("seq",),
    )


@register("cdc_merge_current", oracle=_cdc_merge_oracle())
def q_cdc_merge_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE INTO — apply a change log to a current-state table
    with latest-wins semantics (operators/cdc.merge_apply_changes):
    the customer snapshot absorbs an orders-derived log where every
    order upserts its customer's profile row (full-row replace),
    every 11th order key is a DELETE, and every 13th order targets a
    BRAND-NEW key (the insert path) — so one query exercises update,
    delete, insert, delete-then-reinsert (keys hit by both within the
    log resolve by (ts, seq) order), and byte-stable pass-through of
    untouched customers.  The ORACLE replays the merge as a
    ROW_NUMBER-DESC window over the same log, so the hash pins the
    winner election (struct-max field order!), the op filter, and the
    anti-join split simultaneously.

    Scale: the winner election is ONE partial-aggregable groupBy on
    the delta (a hot key's million changes combine map-side — no
    last-reducer straggler, unlike the oracle's sort-based window);
    the changed-key set is a broadcastable distinct; untouched rows
    move through one anti join.  A daily MERGE at 100 TB touches the
    day's delta plus one snapshot scan, never a rebuild —
    scd2_apply_delta's economics for current-state tables.
    Reference analog: DBOutputFormat's replace-table round-trip
    (examples/DBCountPageView.java:79-80), upgraded to keyed
    maintenance."""
    from hadoop_20_warehouse_spark.operators.cdc import merge_apply_changes

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("name"),
        F.expr("cast(round(c_acctbal * 100, 0) as bigint)").alias(
            "bal_cents"
        ),
    )
    orders = load_table(spark, sf_dir, "orders")
    changes = orders.select(
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_custkey") + 1000000
        ).otherwise(F.col("o_custkey")).alias("cust_id"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.concat(F.lit("upsert#"), F.col("o_orderkey").cast("string")).alias(
            "name"
        ),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias(
            "bal_cents"
        ),
    )
    return merge_apply_changes(
        cust, changes, key="cust_id", cols=("name", "bal_cents"),
        ts="ts", tiebreak=("seq",),
    )


@register("scd2_apply_delta", oracle=_scd2_delta_oracle())
def q_scd2_apply_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dimension maintenance, hash-proven lossless: build
    the SCD2 table from the log's first 20 days, then MERGE the
    remaining days as an append-only delta (operators/scd.
    scd2_apply_delta — untouched keys pass through via one anti join,
    affected keys replay their collapsed rows plus the delta through
    the same build).  The ORACLE rebuilds from the FULL log, so the
    hash match proves apply(build(prefix), delta) == build(full): the
    interval closes, version renumbering, boundary collapse (a delta
    row confirming the key's open state must vanish, not fragment the
    interval), and byte-stable pass-through all at once — the
    pipeline_incremental_curate economics applied to dimensions
    (delta-proportional cost, no base rescan).

    Scale: the delta key set is one broadcastable distinct; the
    anti/semi joins are key-keyed; the replay windows run over ONLY
    affected keys' rows.  A daily dimension load at 100 TB touches
    the day's actives, never the full history."""
    from hadoop_20_warehouse_spark.operators.scd import (
        scd2_apply_delta,
        scd2_build,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") != "purchase"
    ).select("user_id", "event_type", "ts", "event_id")
    cut = F.lit(_SCD2_SPLIT_TS).cast("timestamp")
    base = ev.filter(F.col("ts") < cut)
    delta = ev.filter(F.col("ts") >= cut)
    dim = scd2_build(
        base, key="user_id", attrs=("event_type",), ts="ts",
        tiebreak=("event_id",), keep_tiebreak=True,
    )
    from hadoop_20_warehouse_spark.streaming.windows import TS_FMT

    merged = scd2_apply_delta(
        dim, delta, key="user_id", attrs=("event_type",), ts="ts",
        tiebreak=("event_id",),
    )
    return merged.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", TS_FMT).alias("valid_from"),
        F.date_format("valid_to", TS_FMT).alias("valid_to"),
        "is_current",
        "version",
    )


def _dim_serving_oracle() -> str:
    from hadoop_20_warehouse_spark.operators.scd import scd2_sql

    scd = scd2_sql(
        "changes AS (SELECT user_id, event_type, ts, event_id FROM events"
        " WHERE event_type <> 'purchase')",
        key="user_id",
        attrs=("event_type",),
        ts="ts",
        tiebreak=("event_id",),
    )
    return f"""
WITH scd AS (
{scd}
),
facts AS (
  SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
annotated AS (
  SELECT f.user_id, f.cents, s.event_type AS state
  FROM facts f LEFT JOIN scd s
    ON s.user_id = f.user_id AND s.valid_from <= f.ts
   AND (s.valid_to IS NULL OR f.ts < s.valid_to)
)
SELECT state,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS value_cents
FROM annotated GROUP BY state
""".strip()


@register("pipeline_dimension_serving", oracle=_dim_serving_oracle())
def q_pipeline_dimension_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension family composed END-TO-END in one registered
    plan — the release-endgame discipline applied to warehouse
    serving: (1) the change log splits at day 20 and the dimension is
    built INCREMENTALLY (scd2_build on the prefix + scd2_apply_delta
    for the rest — a daily-load simulation, not a convenience
    rebuild); (2) purchases are enriched point-in-time against that
    incrementally-built dimension via the JOIN-FREE as-of
    union+window; (3) one partial agg reports revenue / purchase /
    distinct-user counts per dimension state.  The ORACLE rebuilds
    the dimension from the FULL log and serves it through the
    textbook INTERVAL join — so one hash covers incremental==full,
    as-of==interval, and the report arithmetic simultaneously; a
    drift in ANY stage (a boundary collapse bug, an interval
    off-by-one at valid_from, a cents rounding seam) breaks it.

    Scale: the dimension legs are key-keyed windows over
    delta-proportional row sets; the serve leg is the two-exchange
    as-of shape (scd2_point_in_time_join's plan); the report is one
    state-keyed partial agg with an exact distinct (Expand-planned).
    Nothing in the plan is corpus-global."""
    from pyspark.sql import Window

    from hadoop_20_warehouse_spark.operators.scd import (
        scd2_apply_delta,
        scd2_build,
    )

    ev = load_table(spark, sf_dir, "events")
    chg = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cut = F.lit(_SCD2_SPLIT_TS).cast("timestamp")
    dim = scd2_apply_delta(
        scd2_build(
            chg.filter(F.col("ts") < cut),
            key="user_id", attrs=("event_type",), ts="ts",
            tiebreak=("event_id",), keep_tiebreak=True,
        ),
        chg.filter(F.col("ts") >= cut),
        key="user_id", attrs=("event_type",), ts="ts",
        tiebreak=("event_id",),
    )
    dim_rows = dim.select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.struct(F.col("event_type").alias("state")).alias("_dim"),
        F.lit(None).cast("long").alias("cents"),
        F.lit(1).alias("_is_dim"),
        F.col("version").alias("_ord"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("struct<state:string>").alias("_dim"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("cents"),
        F.lit(0).alias("_is_dim"),
        F.lit(None).cast("long").alias("_ord"),
    )
    w = Window.partitionBy("user_id").orderBy(
        "ts", F.desc("_is_dim"), "_ord"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    annotated = (
        dim_rows.unionByName(facts)
        .withColumn("_last", F.last("_dim", ignorenulls=True).over(w))
        .filter(F.col("_is_dim") == 0)
        .select(
            "user_id", "cents", F.col("_last.state").alias("state")
        )
    )
    return annotated.groupBy("state").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


_SKYLINE_SQL = """
WITH pts AS (
  SELECT p_partkey, p_size,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents
  FROM part
),
best AS (
  SELECT p_size, MIN(price_cents) AS best_cents FROM pts GROUP BY p_size
),
front AS (
  SELECT p_size, best_cents,
         MIN(best_cents) OVER (ORDER BY p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS run_min
  FROM best
),
sky AS (
  SELECT p_size, best_cents FROM front WHERE best_cents = run_min
)
SELECT t.p_partkey, t.p_size, t.price_cents
FROM pts t JOIN sky s
  ON s.p_size = t.p_size AND s.best_cents = t.price_cents
""".strip()


@register("part_price_skyline", oracle=_SKYLINE_SQL)
def q_part_price_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto SKYLINE over parts — every part not dominated on
    (maximize size, minimize price): the multi-criteria shortlist
    query (Börzsönyi et al. 2001) behind "show me the candidates
    where nothing else is both bigger and cheaper".

    The scalable 2-D construction: ONE keyed partial agg collapses
    the corpus to its per-size minimum price (|distinct sizes| rows —
    bounded domain, 50 here), the running-min domination sweep runs
    as a window over THAT post-agg frame (the rank-after-agg shape —
    never a corpus-wide sort; a naive NOT EXISTS self-join is
    corpus-quadratic), and one (size, price) equi-join pulls back
    every part ON the front, ties included.  Integer cents end to
    end; both engines run the same sweep, so the hash pins the
    domination semantics including equal-price ties."""
    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.expr("cast(round(p_retailprice * 100, 0) as bigint)").alias(
            "price_cents"
        ),
    )
    best = pts.groupBy("p_size").agg(
        F.min("price_cents").alias("best_cents")
    )
    from pyspark.sql import Window

    run_min = F.min("best_cents").over(
        Window.orderBy(F.desc("p_size")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    sky = (
        best.withColumn("run_min", run_min)
        .filter(F.col("best_cents") == F.col("run_min"))
        .select("p_size", F.col("best_cents").alias("price_cents"))
    )
    return pts.join(
        F.broadcast(sky), on=["p_size", "price_cents"]
    ).select("p_partkey", "p_size", "price_cents")


_OOO_SQL = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_max
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prior_max IS NOT NULL AND ts < prior_max
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
       CAST(COALESCE(MAX(CASE WHEN prior_max IS NOT NULL AND ts < prior_max
                THEN epoch_us(prior_max) - epoch_us(ts) END), 0) AS BIGINT)
         AS max_lateness_us
FROM seq GROUP BY user_id
""".strip()


@register("events_out_of_order_report", oracle=_OOO_SQL)
def q_events_out_of_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-health audit: per user, how many events arrived LATE —
    event time behind the user's running maximum when replayed in
    arrival (event_id) order — and the worst lateness in µs.  THE
    number that sizes a streaming watermark: pick a delay covering
    the observed lateness tail and the windowed aggregations
    (stream_tumbling_hourly et al.) stop dropping data; guessing it
    is how late data silently vanishes.  Also the precondition check
    for scd2_apply_delta's append-only contract and
    change_detect_stream's in-order assumption — this report is how
    a pipeline VERIFIES those instead of assuming them.

    Arrival order is the monotone event_id (the ingest log position);
    lateness compares each event's time against the running max over
    strictly-prior arrivals.  The window partitions by user — high
    cardinality, never corpus-global — and both engines run the same
    running-max frame; µs epochs are exact integers."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    seq = ev.select(
        "user_id",
        "ts",
        F.max("ts").over(w).alias("prior_max"),
    )
    late = F.col("prior_max").isNotNull() & (
        F.col("ts") < F.col("prior_max")
    )
    lateness_us = F.unix_micros("prior_max") - F.unix_micros("ts")
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias(
            "n_inversions"
        ),
        F.coalesce(
            F.max(F.when(late, lateness_us)), F.lit(0)
        ).cast("long").alias("max_lateness_us"),
    )


_SKEW_SQL = """
WITH stats AS (
  SELECT 'l_orderkey' AS join_key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'l_partkey', CAST(COUNT(*) AS BIGINT)
  FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT join_key,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_rows_per_key
  FROM stats GROUP BY join_key
),
hot AS (
  SELECT s.join_key, CAST(COUNT(*) AS BIGINT) AS n_hot_keys
  FROM stats s JOIN tot t ON t.join_key = s.join_key
  WHERE s.cnt * t.n_keys > 10 * t.n_rows
  GROUP BY s.join_key
)
SELECT t.join_key, t.n_keys, t.n_rows, t.max_rows_per_key,
       CAST((1000000 * t.max_rows_per_key) // t.n_rows AS BIGINT)
         AS top_share_micro,
       CAST(COALESCE(h.n_hot_keys, 0) AS BIGINT) AS n_hot_keys
FROM tot t LEFT JOIN hot h ON h.join_key = t.join_key
""".strip()


@register("skew_profile_report", oracle=_SKEW_SQL)
def q_skew_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW profile — per candidate shuffle key: key count,
    row count, the hottest key's row count and its parts-per-million
    share, and how many keys run hotter than 10x the mean.  THE
    diagnostic behind every salting/AQE-skew-join decision in this
    repo (agg_salted_skew, the AQE notes in PLANS.md): at 100 TB a
    skewed shuffle key collapses one reducer — the reference's
    "curse of the last reducer" — and this report is how you SEE it
    before the join, not in a straggling task afterwards.

    Shapes: one wordcount partial agg per key column; the roll-up and
    the hot-key census are aggs over the O(|keys|) count frame with a
    broadcast of the 1-row totals; the hot test cross-multiplies
    (cnt · n_keys > 10 · Σcnt) so no division crosses the hash; the
    per-million share floors non-negative integers (identical in
    Spark ``div`` and DuckDB ``//``)."""
    li = load_table(spark, sf_dir, "lineitem")

    def profile(col: str) -> DataFrame:
        counts = li.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        tot = counts.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.max("cnt").cast("long").alias("max_rows_per_key"),
        )
        hot = (
            counts.crossJoin(F.broadcast(tot))
            .filter(F.col("cnt") * F.col("n_keys") > 10 * F.col("n_rows"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_hot_keys"))
        )
        return tot.crossJoin(F.broadcast(hot)).select(
            F.lit(col).alias("join_key"),
            "n_keys",
            "n_rows",
            "max_rows_per_key",
            F.expr("cast((1000000 * max_rows_per_key) div n_rows as bigint)")
            .alias("top_share_micro"),
            "n_hot_keys",
        )

    return profile("l_orderkey").unionByName(profile("l_partkey"))


_COVERAGE_WINDOW_MIN = 5

_COVERAGE_SQL = f"""
WITH iv AS (
  SELECT user_id, ts AS s,
         ts + INTERVAL {_COVERAGE_WINDOW_MIN} MINUTE AS e
  FROM events
),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN s <= MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS new_grp
  FROM iv
),
grp AS (
  SELECT user_id, s, e,
         SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS g
  FROM marked
),
merged AS (
  SELECT user_id, g, MIN(s) AS m_start, MAX(e) AS m_end
  FROM grp GROUP BY user_id, g
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(epoch_us(m_end) - epoch_us(m_start)) AS BIGINT)
         AS covered_us
FROM merged GROUP BY user_id
""".strip()


@register("user_activity_coverage", oracle=_COVERAGE_SQL)
def q_user_activity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval COALESCING — per user, merge the overlapping
    {w}-minute activity windows every event opens and report the
    merged interval count and total covered µs: the
    "how much wall-clock was this user actually active" metric
    (billing meters, engagement, SLA uptime all reduce to it), and
    the textbook gaps-and-islands construction — an interval s
    starts a new island iff it begins after the running MAX of all
    prior interval ends (max, not lag: an engulfed interval must not
    reopen the island), islands numbered by a running sum of the
    start flags, then min/max per island.

    Both engines run the same two-window construction; epochs are
    integer µs.  Scale: both windows partition by user_id (high
    cardinality) and share one sort order — ONE key exchange for the
    whole construction, then a keyed agg; no corpus-global op."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_COVERAGE_WINDOW_MIN} MINUTE"))
        .alias("e"),
    )
    w_prior = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grp = iv.withColumn(
        "new_grp",
        F.when(
            F.col("s") <= F.max("e").over(w_prior), 0
        ).otherwise(1),
    ).withColumn("g", F.sum("new_grp").over(w_run))
    merged = grp.groupBy("user_id", "g").agg(
        F.min("s").alias("m_start"), F.max("e").alias("m_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(
            F.unix_micros("m_end") - F.unix_micros("m_start")
        ).cast("long").alias("covered_us"),
    )


q_user_activity_coverage.__doc__ = q_user_activity_coverage.__doc__.format(
    w=_COVERAGE_WINDOW_MIN
)


_TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
row_tot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY prev_type
)
SELECT t.prev_type, t.next_type, t.n,
       CAST((1000 * t.n) // r.tot AS BIGINT) AS p_milli
FROM trans t JOIN row_tot r ON r.prev_type = t.prev_type
""".strip()


@register("events_transition_matrix", oracle=_TRANSITION_SQL)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral TRANSITION matrix — for consecutive
    events within a user's timeline, the count and floored per-mille
    probability of each (prev → next) event-type pair: the Markov-
    chain view of user behavior that funnels only sample one path of
    (journey mining, "what do users do right after an error?",
    anomalous-sequence detection all read this table).  The
    behavioral twin of the text family's bigram model — same
    adjacency statistics, over ACTIONS ordered by (ts, event_id)
    instead of tokens ordered by position.

    Scale: one user-keyed window (high cardinality) for the lag, one
    (prev, next)-keyed partial agg to the |types|² matrix, one
    row-total join over that bounded frame.  Integer counts; the
    per-mille floors non-negative integers (Spark ``div`` == DuckDB
    ``//`` there)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    row_tot = trans.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("tot")
    )
    return trans.join(F.broadcast(row_tot), on="prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.expr("cast((1000 * n) div tot as bigint)").alias("p_milli"),
    )
