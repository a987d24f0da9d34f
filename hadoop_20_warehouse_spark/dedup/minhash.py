"""MinHash + LSH near-duplicate detection.

Pipeline (Broder '97 resemblance sketches + banding, the standard
web-dedup construction — see PAPERS.md similarity-search entries):

  shingle → ONE md5 per shingle → k affine universal hashes
  (a_i·h + b_i mod p, integer-only) → per-doc min → band digests →
  bucket self-join → candidate pairs (+ estimated Jaccard from
  signature agreement).

Design for 100 TB:
- Exactly one md5 per shingle; the k hash family is integer
  arithmetic on that digest (h reduced mod p=2^31−1 first so a·h fits
  int64 under ANSI overflow checks).
- Signatures are row-local: one Arrow-batched ``mapInArrow`` worker
  hashes each document's shingles and takes all k minima in numpy —
  no seed explosion, no aggregation shuffle, nothing persisted.
- Banding turns all-pairs into an equi-join on (band_idx, band_hash);
  skewed buckets (boilerplate text) are split by AQE skew-join. Each
  pair is kept only at its first shared band, so no pair ``distinct``.
- md5 keeps every stage bit-identical in the DuckDB oracle.

The reference has no near-dup operator; the closest ancestors are its
MD5 sampling filter (SequenceFileInputFilter.java:195) and the Lucene
index contrib's doc→term pipeline (contrib/index/.../IndexUpdateMapper)
— cited for lineage, the algorithm is public literature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.functions.hashing import md5_int64_sql

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


def minhash_signature_rowlocal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = DEFAULT_N_HASHES,
    width: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(id, m0..m{k-1}) computed row-local in ONE Arrow-batched
    ``mapInArrow`` worker — no explode, no shuffle, no interpreted
    higher-order functions. Per document: one md5 per character
    shingle (characters, not bytes: ``text[i:i+width]`` encoded as
    UTF-8), reduced to ``int(hex[:15], 16) % p`` exactly as
    ``md5_int64``, then the k affine minima vectorised in numpy int64
    (``a·h + b < 2^41``, so nothing overflows). The id column passes
    through with its own type; a NULL text gives NULL minima.

    A narrow batch input is scattered first; ``scatter`` passes a
    STREAMING input (mapInArrow composes with readStream) or one a
    caller already repartitioned through untouched.

    The closure is self-contained (local imports, captured constants
    only), so cloudpickle ships it by value and Python workers need
    no package import."""
    from pyspark.sql.types import LongType, StructField, StructType

    from hadoop_20_warehouse_spark.session import scatter

    schema = StructType(
        [df.schema[id_col]]
        + [StructField(f"m{i}", LongType()) for i in range(n_hashes)]
    )
    names = schema.names
    a, b, p = HASH_A[:n_hashes], HASH_B[:n_hashes], MERSENNE_P
    flush = 1 << 16  # shingles hashed per numpy reduction

    def sign(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        A = np.array(a, dtype=np.int64)[:, None]
        B = np.array(b, dtype=np.int64)[:, None]

        def minima(digests, starts):
            # first 8 digest bytes big-endian >> 4 == the 15-hex prefix
            h = (np.frombuffer(b"".join(digests), dtype=">u8")[::2] >> 4)
            h = h.astype(np.int64) % p
            return np.minimum.reduceat((A * h + B) % p, starts, axis=1)

        for batch in batches:
            texts = batch.column(1).to_pylist()
            mins = np.empty((len(a), len(texts)), dtype=np.int64)
            digests, starts, first = [], [], 0
            for r, t in enumerate(texts):
                starts.append(len(digests))
                if t is None:
                    digests.append(bytes(16))  # placeholder, masked below
                else:
                    digests.extend(
                        md5(t[i:i + width].encode()).digest()
                        for i in range(max(len(t) - width + 1, 1))
                    )
                if len(digests) >= flush or r == len(texts) - 1:
                    mins[:, first:r + 1] = minima(digests, starts)
                    digests, starts, first = [], [], r + 1
            null = batch.column(1).is_null().to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)] + [pa.array(m, mask=null) for m in mins],
                names=names,
            )

    return scatter(df).select(id_col, text_col).mapInArrow(sign, schema)


def _band_digest_sql(band: int, rows_per_band: int) -> str:
    """SQL text of one band's digest: md5 of its minhash slice,
    comma-joined in seed order (the same text the oracle hashes).
    ``concat`` keeps a NULL-text row's NULL minima NULL, so its band
    digests are NULL and join nothing (``concat_ws`` would skip them
    and pair every NULL-text row on ``md5('')``)."""
    cols = ", ',', ".join(
        f"cast(m{i} as string)"
        for i in range(band * rows_per_band, (band + 1) * rows_per_band)
    )
    return f"md5(concat({cols}))"


def band_rows(
    sig: DataFrame, n_hashes: int = DEFAULT_N_HASHES, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(sig's columns, h0..h{bands-1}, band_idx, band_hash): one row per
    band, each carrying the signature and every band's digest ``h_j``
    (so a consumer can tell which shared band is a pair's first), with
    ``band_hash = h_{band_idx}``."""
    rows_per_band = n_hashes // bands
    hs = [f"h{j}" for j in range(bands)]
    digests = sig.selectExpr(
        "*", *[f"{_band_digest_sql(j, rows_per_band)} AS {h}" for j, h in enumerate(hs)]
    )
    stack = ", ".join(f"{j}, {h}" for j, h in enumerate(hs))
    return digests.selectExpr("*", f"stack({bands}, {stack}) AS (band_idx, band_hash)")


def band_signatures(
    sig: DataFrame, id_col: str, n_hashes: int = DEFAULT_N_HASHES, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(id, band_idx, band_hash): md5 digest of each band's minhash
    slice (comma-joined in seed order)."""
    return band_rows(sig, n_hashes, bands).select(id_col, "band_idx", "band_hash")


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
    the true Jaccard resemblance). Ids must be unique: a pair is one
    (id_a, id_b), as the oracle's ``GROUP BY id`` assumes.

    ``with_jaccard=False`` (r18 optimization round) returns just the
    candidate pair set (id_a, id_b) and SKIPS signature verification —
    for consumers that feed the pairs straight into connected
    components (dedup_components, dedup_cluster_representative), which
    select only the ids: Catalyst prunes the agreement columns but
    cannot eliminate verification joins (it can't prove sig is unique
    per id), so every candidate row paid join work for columns nobody
    read (guide §2.4).  The candidate set is identical either way.

    ``with_jaccard=True`` CARRIES the k minhash columns through the
    band self-join instead of re-joining the signature frame per
    candidate pair (r18: the two post-candidate signature joins were
    corpus-scale shuffles at 100 TB).  It also carries every band's
    digest, and keeps a joined pair only at its FIRST shared band
    (no earlier band's digests agree), so each pair is emitted exactly
    once without a ``distinct`` and its second shuffle.  The predicate
    compares the same md5 digests the join does, so the pair set is
    the candidate set.

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
    bands_df = band_rows(sig, n_hashes, bands).repartition("band_idx", "band_hash")

    def side(s: str) -> DataFrame:
        return bands_df.selectExpr(
            f"{id_col} AS id_{s}", "band_idx", "band_hash",
            *[f"m{i} AS {s}{i}" for i in range(n_hashes)],
            *[f"h{j} AS h{s}{j}" for j in range(bands - 1)],
        )

    # first shared band: no earlier band's digests agree
    keep = " AND ".join(
        ["id_a < id_b"]
        + [f"(band_idx <= {j} OR ha{j} <> hb{j})" for j in range(bands - 1)]
    )
    agree = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
    )
    return (
        side("a").join(side("b"), on=["band_idx", "band_hash"])
        .filter(keep)
        .selectExpr(
            "id_a", "id_b", f"CAST({agree} AS double) / {n_hashes} AS est_jaccard"
        )
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
