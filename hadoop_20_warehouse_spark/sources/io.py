"""Sources and sinks (SURVEY.md §2.1/§2.2).

Parquet is the native table format (the TFile/SequenceFile successor —
§1.4 decision); everything else is read/write compatibility:

| Reference                              | Here                          |
|----------------------------------------|-------------------------------|
| TextInputFormat / TextOutputFormat     | read_text / write_text        |
| KeyValueTextInputFormat                | read_kv_text (first-sep split)|
| NLineInputFormat                       | read_text(n_per_partition=N)  |
| SequenceFile{Input,Output}Format       | read_sequence / write_sequence|
| DBInputFormat / DBOutputFormat         | read_jdbc / write_jdbc        |
| MultipleOutputFormat / MultipleOutputs | write_partitioned (per-key    |
|                                        | files), write_named_outputs   |
|                                        | (named multi-schema sinks)    |
| MultiFile/CombineFileInputFormat       | maxPartitionBytes (built in)  |
| NullOutputFormat                       | Spark's ``noop`` sink:        |
|                                        | df.write.format("noop")       |

All readers return DataFrames and preserve Catalyst pushdown; the
SequenceFile path goes through the RDD API (the format is K/V pairs by
definition) and converts at the boundary.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_spark.sources.seqfile import _SEQ_CODECS


# --- text ------------------------------------------------------------------


def read_text(spark: SparkSession, path: str, n_per_partition: int | None = None) -> DataFrame:
    """Lines as DataFrame[value string] (TextInputFormat,
    mapred/TextInputFormat.java; decompression is automatic by
    extension, same as the reference's codec lookup).

    ``n_per_partition`` reproduces NLineInputFormat
    (mapred/lib/NLineInputFormat.java:59 — "exactly N lines per split",
    used for parameter sweeps): repartition to ceil(count/N) slices.
    That needs a count + shuffle, same cost the reference paid at split
    time reading the file once to find line offsets."""
    df = spark.read.text(path)
    if n_per_partition:
        n = df.count()
        df = df.repartition(max(1, math.ceil(n / n_per_partition)))
    return df


def write_text(df: DataFrame, path: str, compression: str | None = None) -> None:
    """One string column → text files (TextOutputFormat). Multi-column
    frames should be serialized first (operators/pipe._to_lines)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_text_lzma(spark: SparkSession, path: str) -> DataFrame:
    """LZMA text read-compat (io/compress/LzmaCodec.java — the FB
    addition; extension ``.lzma``): lines as DataFrame[value string]
    from ``.lzma`` (alone-format) or ``.xz`` container files, inflated
    via Python's stdlib ``lzma`` since no JVM codec ships here.

    One file per task — the codec is non-splittable, exactly the
    reference's constraint (LzmaCodec has no SplittableCompressionCodec
    interface), so file count = read parallelism, same contract as the
    gzip path.  Interop/migration surface, not a hot path: the engine's
    native format is parquet+zstd."""

    def _inflate(kv):
        import lzma as _lzma

        fname, blob = kv
        try:
            text = _lzma.decompress(blob).decode("utf-8")
        except _lzma.LZMAError as e:
            raise ValueError(f"not an lzma/xz stream: {fname}") from e
        # LineRecordReader framing exactly (util/LineReader.java
        # readLine): a record ends at LF, CR, or CRLF — bare \r IS a
        # terminator (Mac-style legacy text), but NOT \v \f \x1c-\x1e
        # U+2028/29, which str.splitlines() would split on and no
        # Hadoop/Spark text reader does
        import re as _re

        if not text:
            return
        ends_with_term = text.endswith(("\n", "\r"))
        lines = _re.split("\r\n|\r|\n", text)
        if ends_with_term:
            lines.pop()
        for line in lines:
            yield (line,)

    rdd = spark.sparkContext.binaryFiles(path).flatMap(_inflate)
    return spark.createDataFrame(rdd, "value string")


def write_text_lzma(
    df: DataFrame, path: str, fmt: str = "alone", preset: int = 6
) -> int:
    """One ``.lzma`` (or ``.xz``) file per partition from a one-string-
    column frame — the write half of LzmaCodec compat.  Executors write
    part files directly (the write_record_binary pattern: local mode
    shares the FS; on a cluster point ``path`` at the shared mount).
    Returns the line count (the action forcing the write)."""
    import os as _os

    if fmt not in ("alone", "xz"):
        raise ValueError(f"fmt must be 'alone' or 'xz', got '{fmt}'")
    _os.makedirs(path, exist_ok=True)
    ext = "lzma" if fmt == "alone" else "xz"

    def _write_part(idx: int, rows):
        import lzma as _lzma

        lines = [r[0] for r in rows]
        if lines:
            data = ("\n".join(lines) + "\n").encode("utf-8")
            wire = _lzma.compress(
                data,
                format=_lzma.FORMAT_ALONE if ext == "lzma" else _lzma.FORMAT_XZ,
                preset=preset,
            )
            with open(_os.path.join(path, f"part-{idx:05d}.{ext}"), "wb") as fh:
                fh.write(wire)
        yield len(lines)

    return sum(df.rdd.mapPartitionsWithIndex(_write_part).collect())


def read_kv_text(spark: SparkSession, path: str, separator: str = "\t") -> DataFrame:
    """KeyValueTextInputFormat (mapred/KeyValueTextInputFormat.java:34):
    split each line at the FIRST separator; missing separator → whole
    line is the key, empty value."""
    lines = spark.read.text(path)
    has_sep = F.instr(F.col("value"), separator) > 0
    return lines.select(
        F.substring_index(F.col("value"), separator, 1).alias("key"),
        F.when(
            has_sep,
            F.expr(
                f"substring(value, instr(value, '{separator}') + {len(separator)})"
            ),
        )
        .otherwise(F.lit(""))
        .alias("value"),
    )


# --- sequence files --------------------------------------------------------


def read_sequence(spark: SparkSession, path: str) -> DataFrame:
    """SequenceFile → DataFrame[key, value]
    (SequenceFileInputFormat; Writables are converted to their Java
    boxed forms by sequenceFile(), then to Spark SQL types here —
    SURVEY.md §1.2 type table)."""
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(rdd, ["key", "value"])


def write_sequence(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    compress_type: str = "block",
) -> None:
    """DataFrame[key, value] → SequenceFile (SequenceFileOutputFormat).
    Keys/values must be Writable-convertible primitives (int, long,
    float, str, bytes) — or maps of them, which Spark's
    JavaToWritableConverter writes as MapWritable
    (io/MapWritable.java:35).

    ``compression`` (None | 'default' | 'gzip' | 'bzip2') +
    ``compress_type`` ('record' | 'block') select the reference's
    three writer variants — Writer / RecordCompressWriter /
    BlockCompressWriter (io/SequenceFile.java:779,1047,1158) — via
    the JVM SequenceFileOutputFormat's own conf knobs, so the bytes
    are authentic Hadoop containers any legacy consumer reads."""
    if len(df.columns) != 2:
        raise ValueError("write_sequence expects exactly (key, value) columns")
    rdd = df.rdd.map(tuple)
    if compression is None:
        rdd.saveAsSequenceFile(path)
        return
    codec = _SEQ_CODECS.get(compression, compression)
    if compress_type.lower() not in ("record", "block"):
        raise ValueError(
            f"compress_type must be 'record' or 'block': {compress_type!r}"
        )
    rdd.saveAsHadoopFile(
        path,
        "org.apache.hadoop.mapred.SequenceFileOutputFormat",
        conf={
            "mapred.output.compress": "true",
            "mapred.output.compression.codec": codec,
            "mapred.output.compression.type": compress_type.upper(),
        },
    )


def read_sequence_composite(
    spark: SparkSession, path: str, schema: str, value_cast=None
) -> DataFrame:
    """SequenceFile with COMPOSITE Writable values → typed DataFrame.

    Spark's WritableConverter recursively unwraps composite Writables
    (MapWritable/SortedMapWritable → dict, ArrayWritable *subclasses* →
    list — io/MapWritable.java:35, io/SortedMapWritable.java:34,
    io/ArrayWritable.java:26); this surfaces the result under an
    explicit ``schema`` (e.g. ``"key string, value map<string,string>"``)
    instead of primitive-only inference.

    A MapWritable's entries are heterogeneous Writables while a SQL map
    is homogeneous — ``value_cast`` (e.g. ``str``) normalizes entry
    values before the schema applies. Bare ``ArrayWritable`` has no
    no-arg constructor, so such files are unreadable by ANY Hadoop
    reader without the user's subclass on the classpath; the same
    subclass-on-classpath requirement applies here (pass it via
    spark.jars)."""
    rdd = spark.sparkContext.sequenceFile(path)
    if value_cast is not None:

        def _norm(kv):
            k, v = kv
            if isinstance(v, dict):
                return k, {mk: value_cast(mv) for mk, mv in v.items()}
            if isinstance(v, (list, tuple)):
                return k, [value_cast(x) for x in v]
            return k, value_cast(v)

        rdd = rdd.map(_norm)
    return spark.createDataFrame(rdd, schema)


# --- JDBC ------------------------------------------------------------------


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """DBInputFormat (mapred/lib/db/DBInputFormat.java:49) — the
    reference built per-split ``LIMIT len OFFSET start`` queries; Spark
    JDBC splits on a numeric column's range, which is the same idea
    with sane pushdown. Full predicate/aggregate pushdown comes free."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options: str) -> None:
    """DBOutputFormat (lib/db/DBOutputFormat.java:44) — batched INSERTs."""
    w = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        w = w.option(k, v)
    w.save()


# --- partitioned / multi-output -------------------------------------------


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """MultipleOutputFormat/MultipleOutputs
    (mapred/lib/MultipleOutputFormat.java, MultipleOutputs.java:116):
    route records to per-key files. ``partitionBy`` writes
    ``col=value/`` directories — and unlike the reference, readers get
    partition *pruning* on those columns for free."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


class NamedOutput:
    """One named output channel of :func:`write_named_outputs` — the
    declarative analog of ``MultipleOutputs.addNamedOutput`` /
    ``addMultiNamedOutput`` (mapred/lib/MultipleOutputs.java:283,306):
    its own row ``predicate`` (which records route here; the reference
    decides per-record in mapper code, the declarative twin is a
    filter), its own projected ``select`` schema, its own file ``fmt``
    and writer ``options``, and — for the multi-named form, where
    ``getCollector(name, subName)`` fans one named output into
    per-sub-name files — an optional ``multi_col`` whose value becomes
    a partition directory under the named output."""

    def __init__(
        self,
        predicate=None,
        select: list | None = None,
        fmt: str = "parquet",
        multi_col: str | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        self.predicate = predicate
        self.select = select
        self.fmt = fmt
        self.multi_col = multi_col
        self.options = options or {}


def _check_named_output_name(name: str) -> None:
    """Reference name rules (MultipleOutputs.java:163 checkTokenName,
    :189 checkNamedOutputName): non-empty, ASCII alphanumeric only
    (the reference loops ``A-Za-z0-9`` explicitly — ``str.isalnum``
    would admit Unicode letters it rejects), and not the reserved
    default-output prefix ``part``."""
    import re

    if not name or not re.fullmatch(r"[A-Za-z0-9]+", name):
        raise ValueError(f"named output '{name}' must be ASCII alphanumeric")
    if name == "part":
        raise ValueError("named output name 'part' is reserved")


def named_output_frame(src: DataFrame, spec: NamedOutput) -> DataFrame:
    """The per-sink plan: predicate filter then schema projection over
    the (possibly staged) source — factored out so plan tests can
    assert each sink's scan targets the staged copy."""
    out = src
    if spec.predicate is not None:
        pred = (
            F.expr(spec.predicate)
            if isinstance(spec.predicate, str)
            else spec.predicate
        )
        out = out.filter(pred)
    if spec.select:
        out = out.select(*spec.select)
    return out


def write_named_outputs(
    df: DataFrame,
    base_path: str,
    outputs: dict[str, NamedOutput],
    stage: bool = True,
) -> dict[str, str]:
    """MultipleOutputs named multi-sink fan-out
    (mapred/lib/MultipleOutputs.java:283 addNamedOutput, :306
    addMultiNamedOutput; test mapred/lib/TestMultipleOutputs.java):
    route ONE record stream to N named outputs, each with its own
    predicate, projected schema, file format, and options, written to
    ``base_path/<name>/``.  Returns ``{name: path}``.

    Single-pass discipline (the reference's whole point — one job, one
    pass over the input, N sinks): with ``stage=True`` the input plan
    is materialized to scratch parquet ONCE, and every named output
    reads the staged copy with its own pushed filter + pruned columns
    — the upstream pipeline (however expensive) runs exactly once
    regardless of N.  With ``stage=False`` each output re-plans from
    ``df`` directly — the right choice when ``df`` IS a bare table
    scan, where re-reading with pushdown is cheaper than doubling the
    I/O with a staged copy.

    At 100 TB: the stage write is corpus-sized but each sink read of
    it is column-pruned and filter-pushed; predicates should be
    written with ``F.col``/SQL strings (unresolved — they bind against
    the staged plan, not the original)."""
    import shutil

    for name in outputs:
        _check_named_output_name(name)
    spark = df.sparkSession
    src = df
    stage_path = None
    if stage:
        stage_path = base_path.rstrip("/") + "/_stage"
        df.write.mode("overwrite").parquet(stage_path)
        src = spark.read.parquet(stage_path)
    paths: dict[str, str] = {}
    try:
        for name, spec in outputs.items():
            out = named_output_frame(src, spec)
            w = out.write.mode("overwrite").format(spec.fmt)
            for k, v in spec.options.items():
                w = w.option(k, v)
            if spec.multi_col:
                w = w.partitionBy(spec.multi_col)
            path = base_path.rstrip("/") + "/" + name
            w.save(path)
            paths[name] = path
    finally:
        # The corpus-sized staged copy is scratch: once every sink is
        # written (or the write aborts) it must not persist next to the
        # real outputs, where a recursive read of base_path would pick
        # it up (r9 ADVICE).  Local-path removal only — on a shared-FS
        # cluster pass a scratch-rooted base_path or stage=False.
        if stage_path is not None:
            shutil.rmtree(stage_path, ignore_errors=True)
    return paths


# --- MapFile analog: sorted table + point lookup ---------------------------


def write_sorted_table(df: DataFrame, path: str, key_cols: list[str], partitions: int = 8) -> None:
    """MapFileOutputFormat analog (mapred/MapFileOutputFormat.java:100):
    write key-sorted parquet. Range-partitioned + sorted within files,
    so parquet min/max row-group stats form the sparse index the
    MapFile side file provided."""
    (
        df.repartitionByRange(partitions, *key_cols)
        .sortWithinPartitions(*key_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def point_lookup(spark: SparkSession, path: str, key_col: str, key_value) -> DataFrame:
    """MapFileOutputFormat.getEntry analog: random lookup by key
    against a sorted table — parquet stats + predicate pushdown skip
    every row group whose [min,max] excludes the key."""
    return spark.read.parquet(path).filter(F.col(key_col) == F.lit(key_value))


def write_key_set(df: DataFrame, path: str, key_cols: list[str], partitions: int = 8) -> None:
    """SetFile analog (io/SetFile.java:27 — a MapFile whose values are
    NullWritable, i.e. a sorted on-disk SET with membership lookups):
    the DISTINCT key tuples written key-sorted, so parquet min/max
    stats give the same sparse-index skip SetFile's MapFile index
    gave ``seek``."""
    write_sorted_table(
        df.select(*key_cols).distinct(), path, key_cols, partitions=partitions
    )


def set_membership(
    spark: SparkSession, path: str, probes: DataFrame, key_col: str
) -> DataFrame:
    """SetFile.InMemorySetFile-membership analog: which probe keys are
    present in the stored set — a broadcast LEFT SEMI join of the
    sorted set against the (small) probe frame; at scale the probe
    side broadcasts and parquet stats skip row groups no probe key
    can hit."""
    keys = spark.read.parquet(path)
    return keys.join(
        F.broadcast(probes.select(key_col).distinct()), on=key_col, how="left_semi"
    )


def write_indexed_array(
    df: DataFrame, path: str, order_cols: list[str], partitions: int = 8
) -> None:
    """ArrayFile analog (io/ArrayFile.java:29 — a MapFile keyed by the
    LongWritable APPEND POSITION): assign each row its 0-based ordinal
    under a total deterministic order and write idx-sorted.  The
    ordinal is a global row_number — computed as a range-partitioned
    sort + per-partition ordinal + broadcast partition-offset cumsum
    would be at 100 TB; at registered scale the window form is the
    same plan Spark picks."""
    from pyspark.sql import Window

    w = Window.orderBy(*[F.col(c) for c in order_cols])
    idx = df.withColumn("idx", F.row_number().over(w).cast("long") - 1)
    write_sorted_table(idx, path, ["idx"], partitions=partitions)


def array_position_get(spark: SparkSession, path: str, positions: list[int]) -> DataFrame:
    """ArrayFile.Reader.get(n) analog: fetch rows by ordinal —
    pushdown against the idx-sorted table skips every row group whose
    [min,max] excludes the probed positions."""
    return spark.read.parquet(path).filter(
        F.col("idx").isin([int(p) for p in positions])
    )


def write_bloom_table(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    ndv: int = 100_000,
    fpp: float = 0.01,
    partitions: int = 8,
) -> None:
    """BloomMapFile analog (io/BloomMapFile.java:45): sorted+indexed
    table plus a bloom filter for fast negative point lookups.

    Parquet-native: per-row-group bloom filters on ``bloom_cols``; a
    reader probing a key that is absent skips the row group without
    decoding it — the same "cheap negative" the reference's dynamic
    bloom filter gave MapFile.get(). Sorting by the bloom column first
    also tightens min/max stats (most skipping never reaches the bloom)."""
    w = (
        df.repartitionByRange(partitions, *bloom_cols)
        .sortWithinPartitions(*bloom_cols)
        .write.mode("overwrite")
    )
    for c in bloom_cols:
        w = (
            w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            .option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
            .option(f"parquet.bloom.filter.fpp#{c}", str(fpp))
        )
    w.parquet(path)


def compact_small_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_files: int,
    fmt: str = "parquet",
) -> None:
    """Hadoop Archives analog (fs/HarFileSystem.java:48,
    tools/HadoopArchives.java:73): many small files → few big ones.
    The har:// index is unnecessary — parquet footers + the file
    listing serve as the index; ``coalesce`` avoids a shuffle (archive
    building is pure repacking)."""
    df = spark.read.format(fmt).load(src_path)
    df.coalesce(target_files).write.mode("overwrite").format(fmt).save(dst_path)


# --- XML / pattern-delimited records --------------------------------------


def read_xml_records(
    spark: SparkSession, path: str, begin: str, end: str
) -> DataFrame:
    """StreamXmlRecordReader analog (contrib/streaming/.../
    StreamXmlRecordReader.java:46): extract records delimited by
    begin/end patterns → DataFrame[record string].

    Uses wholeTextFiles + regex extraction: records may span lines, so
    per-file parsing is required (same constraint the reference had —
    its reader scanned for the begin pattern from each split start).
    Files must be individually manageable; for huge single-file XML use
    a splittable layout instead."""
    import re as _re

    sc = spark.sparkContext
    pattern = _re.escape(begin) + r"(.*?)" + _re.escape(end)

    def extract(kv):
        _path, content = kv
        for m in _re.finditer(pattern, content, _re.DOTALL):
            yield (begin + m.group(1) + end,)

    rdd = sc.wholeTextFiles(path).flatMap(extract)
    return spark.createDataFrame(rdd, "record string")
