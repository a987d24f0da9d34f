"""MinHash + LSH near-duplicate detection.

Pipeline (Broder '97 resemblance sketches + banding, the standard
web-dedup construction — see PAPERS.md similarity-search entries):

  shingle → ONE md5 per shingle → k affine universal hashes
  (a_i·h + b_i mod p, integer-only) → per-doc min in a single
  aggregation pass → band digests → bucket self-join → candidate
  pairs (+ estimated Jaccard from signature agreement).

Design for 100 TB (and measured locally — this shape is ~8× faster
than the naive per-seed-md5 version):
- Exactly one md5 per distinct shingle; the k hash family is integer
  arithmetic on that digest (h reduced mod p=2^31−1 first so a·h fits
  int64 under ANSI overflow checks).
- All k minima are computed in ONE groupBy(doc) pass as k aggregate
  columns — no seed explosion, shuffle volume is |docs| rows × k ints
  (map-side partial mins shrink it further).
- The signature frame is persisted: banding and the pair-verification
  join both reuse it, so the shingle scan runs once, not three times.
- Banding turns all-pairs into an equi-join on (band_idx, band_hash);
  skewed buckets (boilerplate text) are split by AQE skew-join.
- md5 keeps every stage bit-identical in the DuckDB oracle.

The reference has no near-dup operator; the closest ancestors are its
MD5 sampling filter (SequenceFileInputFilter.java:195) and the Lucene
index contrib's doc→term pipeline (contrib/index/.../IndexUpdateMapper)
— cited for lineage, the algorithm is public literature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.functions.hashing import md5_int64, md5_int64_sql

DEFAULT_N_HASHES = 8
DEFAULT_BANDS = 4
DEFAULT_SHINGLE = 8  # character shingle width

# Affine universal-hash family over the Mersenne prime 2^31-1.
# (a_i·(h mod p) + b_i) mod p with h mod p < p and a_i < 2^31 keeps every
# intermediate < 2^62 — safe under ANSI int64 overflow checks in both
# engines. Constants are arbitrary fixed odd values; k = len(HASH_A).
MERSENNE_P = 2_147_483_647
HASH_A = (7, 13, 31, 61, 127, 251, 509, 1021)
HASH_B = (3, 17, 29, 101, 211, 401, 811, 1601)


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = DEFAULT_SHINGLE,
    distinct: bool = True,
) -> DataFrame:
    """Character shingles per document. Documents shorter than
    ``width`` contribute their whole text as a single shingle.

    ``distinct=True`` (set semantics) costs a full shuffle of the
    shingle stream — required by consumers that count or aggregate
    shingles (text_fingerprint). The MinHash path passes ``False``:
    MIN over hashed shingles is invariant to duplicates, so signatures
    are identical either way and the shuffle is pure waste there."""
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - (width - 1), F.lit(1)))
    ).alias("pos")
    out = (
        df.select(F.col(id_col), F.col(text_col), pos)
        .select(F.col(id_col), F.substring(F.col(text_col), F.col("pos"), width).alias("shingle"))
    )
    return out.distinct() if distinct else out


def _shingle_hash(shingle: Column) -> Column:
    """One md5 per shingle, reduced mod p."""
    return md5_int64(shingle) % MERSENNE_P


def minhash_signature_cols(
    sh: DataFrame, id_col: str, n_hashes: int = DEFAULT_N_HASHES
) -> DataFrame:
    """(id, m0..m{k-1}): all k minima in one aggregation pass."""
    h = _shingle_hash(F.col("shingle")).alias("h")
    hashed = sh.select(F.col(id_col), h)
    mins = [
        F.min((F.lit(HASH_A[i]) * F.col("h") + F.lit(HASH_B[i])) % MERSENNE_P).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy(id_col).agg(*mins)


def minhash_signature_rowlocal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    width: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(id, m0..m{k-1}) computed entirely row-local — no explode, no
    shuffle: shingle positions, md5 hashes, and all k minima are
    higher-order-function expressions inside one whole-stage-codegen
    projection. At 100 TB this removes the aggregation exchange the
    explode+groupBy form needs; signatures flow straight into banding
    partition-local. Identical output to ``minhash_signature_cols``.

    A narrow batch input is scattered first; ``scatter`` passes a
    STREAMING input (the projection composes with readStream) or one
    a caller already repartitioned through untouched."""
    from hadoop_20_warehouse_spark.session import scatter

    df = scatter(df)
    p = MERSENNE_P
    hs = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {width - 1}, 1)), "
        f"pos -> cast(conv(substring(md5(substring({text_col}, pos, {width})), 1, 15), 16, 10) as bigint) % {p})"
    ).alias("_hs")
    mins = [
        F.array_min(
            F.expr(f"transform(_hs, h -> ({HASH_A[i]} * h + {HASH_B[i]}) % {p})")
        ).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return df.select(F.col(id_col), hs).select(F.col(id_col), *mins)


def band_signatures(
    sig: DataFrame, id_col: str, n_hashes: int = DEFAULT_N_HASHES, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(id, band_idx, band_hash): md5 digest of each band's minhash
    slice (comma-joined in seed order)."""
    rows_per_band = n_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("blk")
    ).select(F.col(id_col), F.col("blk.band_idx"), F.col("blk.band_hash"))


def candidate_pairs(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket —
    the LSH candidate set. Equi-join on (band_idx, band_hash)."""
    a = bands_df.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = bands_df.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_width: int = DEFAULT_SHINGLE,
    with_jaccard: bool = True,
) -> DataFrame:
    """Full pipeline → (id_a, id_b, est_jaccard) where est_jaccard is
    the fraction of agreeing minhash components (signature estimate of
    the true Jaccard resemblance).

    ``with_jaccard=False`` (r18 optimization round) returns just the
    candidate pair set (id_a, id_b) and SKIPS signature verification —
    for consumers that feed the pairs straight into connected
    components (dedup_components, dedup_cluster_representative), which
    select only the ids: Catalyst prunes the agreement columns but
    cannot eliminate verification joins (it can't prove sig is unique
    per id), so every candidate row paid join work for columns nobody
    read (guide §2.4).  The candidate set is identical either way.

    ``with_jaccard=True`` (r18 optimization round) CARRIES the k
    minhash columns through the band self-join instead of re-joining
    the signature frame per candidate pair: the band shuffle grows by
    k ints per row (8 bigints against a 32-char band digest — under
    2x), and the two post-candidate signature joins disappear.  At
    100 TB those were corpus-scale shuffles (the signature frame is
    corpus-sized, so they could never broadcast); locally measured
    1.47 → 1.17 s at sf0.1, hash-identical.  est_jaccard is a pure
    function of the pair, so distinct() over (id_a, id_b, est) equals
    the old attach-after-distinct exactly.

    The band self-join consumes the band frame on both sides, and
    differently-aliased sides defeat exchange reuse (the r18 explain
    showed two full text-scan → shingle → md5 → signature pipelines,
    one per side).  So the band frame is hash-partitioned on the join
    keys BEFORE it is aliased: both sides then read one exchange,
    which Spark's exchange reuse computes once per call, and the join
    adds no shuffle of its own.  A persist would share the frame too,
    but through a cache that outlives the call (and, the plan being
    equal, is read again by the next call)."""
    sig = minhash_signature_rowlocal(df, id_col, text_col, n_hashes, shingle_width)
    if not with_jaccard:
        bands_df = band_signatures(sig, id_col, n_hashes, bands)
        return candidate_pairs(bands_df.repartition("band_idx", "band_hash"), id_col)
    rows_per_band = n_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    mcols = [f"m{i}" for i in range(n_hashes)]
    bands_df = sig.select(
        F.col(id_col), *mcols, F.explode(F.array(*band_structs)).alias("blk")
    ).select(
        F.col(id_col), *mcols, F.col("blk.band_idx"), F.col("blk.band_hash")
    ).repartition("band_idx", "band_hash")
    a = bands_df.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash",
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    b = bands_df.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_hash",
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(n_hashes)
    )
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / n_hashes).alias("est_jaccard"),
        )
        .distinct()
    )


def minhash_lsh_pairs_sql_parts(
    table: str,
    id_col: str,
    text_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_width: int = DEFAULT_SHINGLE,
) -> tuple[str, str]:
    """(cte_list, final_select) for composing the oracle into larger
    WITH statements (e.g. recursive connected components)."""
    full = minhash_lsh_pairs_sql(
        table, id_col, text_col, n_hashes, bands, shingle_width
    )
    head, _, tail = full.partition("\nSELECT c.id_a")
    assert tail, "oracle shape changed; update the partition marker"
    return head[len("WITH "):].rstrip().rstrip(","), "SELECT c.id_a" + tail


def minhash_lsh_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_width: int = DEFAULT_SHINGLE,
) -> str:
    """DuckDB oracle for ``minhash_lsh_pairs`` — the same pipeline in
    SQL (scalar generate_series shingling, one md5 + affine hashes,
    single-pass k-column MIN signature, band digests, bucket join)."""
    rows_per_band = n_hashes // bands
    p = MERSENNE_P
    h = f"({md5_int64_sql('shingle')} % {p})"
    min_cols = ",\n         ".join(
        f"MIN(({HASH_A[i]} * h + {HASH_B[i]}) % {p}) AS m{i}" for i in range(n_hashes)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT id, {b} AS band_idx, md5({concat}) AS band_hash FROM sig".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(m{i} AS VARCHAR)"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    return f"""
WITH sh AS (
  SELECT id, substring(txt, pos, {shingle_width}) AS shingle
  FROM (
    SELECT {id_col} AS id, {text_col} AS txt,
           unnest(generate_series(1, greatest(len({text_col}) - {shingle_width - 1}, 1))) AS pos
    FROM {table}
  )
),
hashed AS (SELECT id, {h} AS h FROM sh),
sig AS (
  SELECT id,
         {min_cols}
  FROM hashed GROUP BY id
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST({agree} AS DOUBLE) / {n_hashes} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.id = c.id_a
JOIN sig sb ON sb.id = c.id_b
""".strip()
