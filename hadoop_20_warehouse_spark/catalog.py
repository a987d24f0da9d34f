"""Table catalog over the driver-provided parquet directories.

The reference had no catalog — a "table" was a directory of
SequenceFiles named by convention (FileInputFormat.setInputPaths,
mapred/FileInputFormat.java:326). Here a table is a parquet path under
a scale-factor directory; ``load_tables`` registers each as a temp view
so both DataFrame and ``spark.sql`` call sites work.

Scan efficiency notes (100 TB posture): parquet scans get column
pruning + predicate pushdown from Catalyst for free; callers should
filter/select on the loaded frames directly (never ``collect`` then
filter) so pushdown reaches the scan node.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at every scale factor the
# TPC-H-ish generator produces (region=5 rows, nation=25 rows always;
# supplier/part grow slowly). Joins against these should broadcast.
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _prepare_read(spark: SparkSession, name: str) -> None:
    """Session conf needed to read a given table, applied at runtime so
    the engine works under any caller-provided SparkSession (the build
    driver creates its own, without our session.py defaults)."""
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) — Spark has no nanos
        # type and errors at scan unless told to surface it as long.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # _normalize may cast a TIMESTAMP_NTZ ts to TimestampType; that
        # cast reads the naive wall-time in the SESSION zone, and the
        # DuckDB oracles read it naive-as-UTC — pin the zone so a
        # caller-provided session on a non-UTC host agrees.
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """Schema fixups at load time.

    ``events.ts`` must surface as µs TimestampType whatever the driver
    generated, since downstream operators use ``unix_micros`` (asof /
    band / interval joins):

    - parquet TIMESTAMP(NANOS): Spark reads it as long
      (spark.sql.legacy.parquet.nanosAsLong — _prepare_read) and we
      truncate ns → µs here, matching DuckDB's own ns→µs handling so
      oracle comparisons agree.
    - parquet TIMESTAMP(MICROS) isAdjustedToUTC=false (the layout the
      driver regenerated in round 4): Spark infers TIMESTAMP_NTZ, which
      ``unix_micros`` rejects — cast to TimestampType. The harness and
      driver both run with a UTC system/session zone, so the cast's
      naive-in-session-zone reading equals DuckDB's naive-as-UTC epoch.
    """
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer DIV: ns values (~1.7e18) overflow double precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change the schema Spark infers from a parquet file.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# realpath -> (file version + schema confs, inferred schema). One entry
# per path, replaced when the key stops matching, so the memo is
# bounded by the number of distinct table paths. The key fully
# determines the schema, so one memo serves every session.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version. Schema inference launches a job to read a footer; with the
    schema supplied Spark only lists the files, so added or removed
    part files still show up on every call."""
    real = os.path.realpath(path)
    st = os.stat(real)
    key = (
        st.st_ino,
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(c) for c in SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[real] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table with schema fixups.

    The parquet schema is read once per file version: the memo key is
    the table path's realpath, inode, mtime (ns) and size plus the
    session values of ``SCHEMA_CONFS``; later loads supply the
    memoized schema, so they launch no Spark job. The table's files are
    still listed on every call.

    Side effect: loading ``events`` sets two SESSION-WIDE configs
    (``spark.sql.legacy.parquet.nanosAsLong`` and
    ``spark.sql.session.timeZone=UTC`` — see ``_prepare_read``) so the
    nanos/NTZ timestamp layouts the driver has shipped read back as µs
    UTC TimestampType everywhere.  The zone pin changes how OTHER
    timestamp expressions in a caller-provided session render naive
    times; callers embedding this catalog in a non-UTC app should
    save/restore ``spark.sql.session.timeZone`` around event loads (the
    build driver and every oracle here assume UTC, so inside this repo
    the pin is the correct global)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    _prepare_read(spark, name)
    return _normalize(name, _read_parquet(spark, table_path(sf_dir, name)))


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every driver table; optionally register temp views."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        if not os.path.exists(table_path(sf_dir, name)):
            continue
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
