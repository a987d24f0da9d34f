"""Real-format MapFile interop — classpath-free read + point lookup.

A MapFile (reference ``src/core/org/apache/hadoop/io/MapFile.java:33``)
is a directory of two SequenceFiles: ``data`` (records sorted by key)
and ``index`` ((key, LongWritable byte-position) for every
``io.map.index.interval``-th record — positions taken BEFORE the
append, so they may land exactly on a sync escape, which the record
loop handles).  ``Reader.get`` binary-searches the loaded index, seeks
``data`` to the chosen position, and scans forward at most one
interval (``MapFile.java:403-445 seekInternal``).

This module re-derives that contract classpath-free on top of
``sources/seqfile.py``: the same header reader and record iterator
that decode a whole SequenceFile walk every lookup window here (the
repo's parquet analog ``sources/io.write_sorted_table`` remains the
native 100 TB path — this is the legacy-READ surface so a user
arriving with real MapFile directories can land or serve them):

- ``read_mapfile(spark, dir)`` — full typed scan of ``data`` files,
  one task per MapFile directory (the format's own parallelism).
- ``mapfile_get_many(dir, keys)`` / ``mapfile_get(dir, key)`` — point
  lookups with BOUNDED I/O: the driver reads the (small) index,
  bisects, then reads only ``[position, position + max_scan_bytes)``
  of ``data`` per index position — never the whole file — growing
  the window only while it ends before EOF.  Uncompressed, record-
  and block-compressed data files all work (positions are
  block-aligned in block mode, the writer's own discipline); a torn
  ``data`` file raises ValueError instead of reporting keys absent.
- ``write_mapfile_jvm`` — fixture writer through the real JVM
  ``MapFile.Writer`` (py4j), pinning the parser against
  reference-written bytes, tiny ``index.interval`` included.

Wire numbers cited are the layout's definition, not copied code.
"""

from __future__ import annotations

import bisect
import os
import struct

from pyspark.sql import DataFrame, SparkSession

from hadoop_20_warehouse_spark.sources.seqfile import (
    WRITABLE_DECODERS,
    iter_sequence_records,
    parse_sequence_file,
    read_sequence_header,
)

_HEADER_PROBE = 64 * 1024  # plenty for class names + metadata pairs


def _decoder(cls: str):
    try:
        return WRITABLE_DECODERS[cls]
    except KeyError:
        raise ValueError(
            f"no wire decoder for MapFile class {cls!r}"
        ) from None


def read_mapfile_index(map_dir: str) -> tuple[str, list, list]:
    """``index`` SequenceFile → (key_class, decoded keys, positions)
    — small by construction (one row per interval)."""
    with open(os.path.join(map_dir, "index"), "rb") as fh:
        blob = fh.read()
    kc, vc, recs = parse_sequence_file(blob)
    if vc != "org.apache.hadoop.io.LongWritable":
        raise ValueError(
            f"MapFile index values must be LongWritable positions, got {vc}"
        )
    _, dec_k = _decoder(kc)
    keys, positions = [], []
    for kb, vb in recs:
        k, _ = dec_k(kb, 0)
        keys.append(k)
        positions.append(struct.unpack(">q", vb)[0])
    return kc, keys, positions


def mapfile_get(
    map_dir: str,
    key,
    max_scan_bytes: int = 4 * 1024 * 1024,
):
    """``MapFile.Reader.get``: the decoded value of ``key``, or None
    (:func:`mapfile_get_many` with one probe)."""
    return mapfile_get_many(map_dir, [key], max_scan_bytes).get(key)


def read_mapfile(spark: SparkSession, path: str) -> DataFrame:
    """Every record of the MapFile directory (or a glob of
    directories) as a typed (key, value) DataFrame — one task per
    ``data`` file, the format's own parallelism contract."""
    data_glob = os.path.join(path, "data")
    files = spark.read.format("binaryFile").load(data_glob)
    first = bytes(files.select("content").head()["content"])
    kc, vc, _ = parse_sequence_file(first)
    kt, dec_k = _decoder(kc)
    vt, dec_v = _decoder(vc)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            keys, vals = [], []
            for blob in pdf["content"]:
                _, _, recs = parse_sequence_file(bytes(blob))
                for kb, vb in recs:
                    keys.append(dec_k(kb, 0)[0])
                    vals.append(dec_v(vb, 0)[0])
            yield pd.DataFrame({"key": keys, "value": vals})

    return files.select("content").mapInPandas(
        gen, f"key {kt}, value {vt}"
    )


def write_mapfile_jvm(
    spark: SparkSession,
    map_dir: str,
    pairs,
    index_interval: int = 16,
    compress_type: str = "NONE",
) -> None:
    """Fixture writer through the real JVM ``MapFile.Writer`` —
    Text/Text pairs, pre-sorted; small ``index_interval`` so tests get
    a multi-entry index; ``compress_type`` NONE/RECORD/BLOCK."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    conf.setInt("io.map.index.interval", index_interval)
    conf.set("io.seqfile.compression.type", compress_type.upper())
    jpath = jvm.org.apache.hadoop.fs.Path(map_dir)
    fs = jpath.getFileSystem(conf)
    text_cls = jvm.org.apache.hadoop.io.Text().getClass()
    # the (conf, fs, dirName, keyClass, valClass, compressionType)
    # constructor — deprecated in Hadoop 3 but present, and the only
    # form py4j can call without building an Option[] varargs array
    writer = jvm.org.apache.hadoop.io.MapFile.Writer(
        conf, fs, map_dir, text_cls, text_cls,
        getattr(
            jvm.org.apache.hadoop.io.SequenceFile.CompressionType,
            compress_type.upper(),
        ),
    )
    try:
        for k, v in pairs:
            writer.append(
                jvm.org.apache.hadoop.io.Text(k),
                jvm.org.apache.hadoop.io.Text(v),
            )
    finally:
        writer.close()


def mapfile_get_many(
    map_dir: str,
    probe_keys,
    max_scan_bytes: int = 4 * 1024 * 1024,
    index: tuple | None = None,
) -> dict:
    """Batched ``MapFile.Reader.get``: load the index ONCE, bisect each
    probe to the rightmost index entry with key <= probe (or the data
    start when it precedes every indexed key), and per index POSITION
    read only ``[position, position + max_scan_bytes)`` of ``data``
    and walk it forward with the SequenceFile record iterator —
    sorted probes of one group resolve in one pass, a larger key ends
    the scan (the ``MapFileOutputFormat.getEntry`` access pattern
    amortized).  Returns {key: value} for hits only.

    ``max_scan_bytes`` is a STARTING window, not a correctness bound:
    while the window ends before EOF, a walk that tears at the window
    tail or ends before every probe resolves doubles the window and
    retries (oversized values can make one index interval span any
    window), so any present key IS found — the JVM Reader contract.
    At EOF a torn record raises ValueError, as does an index position
    past the end of ``data``.  ``index`` accepts a
    pre-parsed ``read_mapfile_index`` result so shard routers that
    already read it don't re-parse per call."""
    _kc, keys, positions = (
        index if index is not None else read_mapfile_index(map_dir)
    )
    data_path = os.path.join(map_dir, "data")
    fsize = os.path.getsize(data_path)
    if positions and positions[-1] >= fsize:
        raise ValueError(
            f"{data_path}: index position {positions[-1]} is past the "
            f"end of data ({fsize} bytes): torn data file"
        )
    out = {}
    with open(data_path, "rb") as fh:
        header = read_sequence_header(fh.read(_HEADER_PROBE))
        _, dec_k = _decoder(header.key_class)
        _, dec_v = _decoder(header.value_class)
        groups: dict[int, list] = {}
        for k in probe_keys:
            i = bisect.bisect_right(keys, k) - 1
            seek = positions[i] if i >= 0 else header.data_start
            groups.setdefault(seek, []).append(k)
        for seek, probes in sorted(groups.items()):
            probes = sorted(probes)
            scan = max_scan_bytes
            while True:
                fh.seek(seek)
                window = fh.read(scan)
                at_eof = seek + len(window) >= fsize
                pi = 0
                hits = {}
                try:
                    for kb, vb in iter_sequence_records(window, header, 0):
                        k, _ = dec_k(kb, 0)
                        while pi < len(probes) and probes[pi] < k:
                            pi += 1  # absent probe: passed without a match
                        if pi == len(probes):
                            break
                        if probes[pi] == k:
                            hits[k] = dec_v(vb, 0)[0]
                            pi += 1
                except ValueError as e:
                    if at_eof:
                        raise ValueError(
                            f"{data_path} (read from byte {seek}): {e}"
                        ) from e
                else:
                    if pi == len(probes) or at_eof:
                        out.update(hits)
                        break
                scan *= 2
    return out


def _route_shards(root: str, probe_keys) -> list[tuple[str, tuple, list]]:
    """``MapFileOutputFormat.getEntry`` routing for a range-sharded
    layout (mapred/MapFileOutputFormat.java:78: pick the reader by
    partitioner): each ``part-*`` directory's index is read once, its
    FIRST key bounds the shard, and each probe bisects to the shard
    that can hold it.  Returns (part dir, parsed index, probes) per
    probed shard; probes below every first key are dropped."""
    import glob as _glob

    part_dirs = sorted(_glob.glob(os.path.join(root, "part-*")))
    if not part_dirs:
        raise ValueError(f"no part-* MapFile directories under {root}")
    indexes = [(d, read_mapfile_index(d)) for d in part_dirs]
    # empty shards (no index) can never hold a probe; drop them
    shards = [(d, idx) for d, idx in indexes if idx[1]]
    bounds = [idx[1][0] for _, idx in shards]
    routed: dict[int, list] = {}
    for k in probe_keys:
        i = bisect.bisect_right(bounds, k) - 1
        if i >= 0:
            routed.setdefault(i, []).append(k)
    return [(*shards[i], probes) for i, probes in routed.items()]


def _write_parts(
    df: DataFrame,
    path: str,
    kc: str,
    vc: str,
    make_pairs,
    index_interval: int,
    compression: str | None = None,
    post_hook=None,
) -> int:
    """Shared per-partition MapFile-family writer (r18 review: the
    data+index body existed in three near-identical copies).  Sorts
    within partitions, encodes ``data`` with pre-append record
    positions and ``index`` with every ``index_interval``-th key
    (MapFile.java:189-199), both as version-6 SequenceFiles with the
    fixed per-part sync seeds the parity tests pin.  ``make_pairs``
    maps partition rows → encoded (key_bytes, value_bytes);
    ``post_hook(part_dir, pairs)`` writes format-specific side files
    (BloomMapFile's ``bloom``)."""
    import os as _os

    from hadoop_20_warehouse_spark.sources.seqfile import (
        WRITABLE_ENCODERS,
        encode_sequence_file,
    )

    long_cls = "org.apache.hadoop.io.LongWritable"
    enc_long = WRITABLE_ENCODERS[long_cls]
    _os.makedirs(path, exist_ok=True)
    df = df.sortWithinPartitions(df.columns[0])

    def _write_part(idx: int, rows):
        pairs = make_pairs(rows)
        if not pairs:
            yield 0
            return
        part_dir = _os.path.join(path, f"part-{idx:05d}")
        _os.makedirs(part_dir, exist_ok=True)
        data, positions = encode_sequence_file(
            iter(pairs), kc, vc,
            compression=compression, compress_type="record",
            sync_seed=f"data-{idx}".encode(), record_positions=True,
        )
        index_pairs = [
            (pairs[i][0], enc_long(positions[i]))
            for i in range(0, len(pairs), index_interval)
        ]
        index = encode_sequence_file(
            iter(index_pairs), kc, long_cls,
            sync_seed=f"index-{idx}".encode(),
        )
        with open(_os.path.join(part_dir, "data"), "wb") as fh:
            fh.write(data)
        with open(_os.path.join(part_dir, "index"), "wb") as fh:
            fh.write(index)
        if post_hook is not None:
            post_hook(part_dir, pairs)
        yield len(pairs)

    return sum(df.rdd.mapPartitionsWithIndex(_write_part).collect())


def write_mapfile(
    df: DataFrame,
    path: str,
    index_interval: int = 128,
    compression: str | None = None,
) -> int:
    """DataFrame[key, value] → one real MapFile DIRECTORY per
    partition under ``path`` (``part-00000/{data,index}`` — exactly
    ``MapFileOutputFormat``'s output shape,
    mapred/MapFileOutputFormat.java:41), encoded entirely in Python
    on the executors.  Keys sort within each partition (Text order ==
    UTF-8 byte order == code-point order), every ``index_interval``-th
    record's pre-append position lands in the interval index
    (MapFile.java:189-199), and both files are version-6
    SequenceFiles any Hadoop reader opens.  ``compression`` None or a
    record codec (default/gzip/bzip2) — block mode's positions are
    block-aligned and belong to the JVM fixture path.  Returns the
    row count; JVM MapFile.Reader parity is pytest-pinned."""
    from hadoop_20_warehouse_spark.sources.seqfile import (
        _SPARK_TYPE_TO_WRITABLE,
        WRITABLE_ENCODERS,
    )

    if len(df.columns) != 2:
        raise ValueError("write_mapfile expects exactly (key, value) columns")
    ktype, vtype = (f.dataType.simpleString() for f in df.schema.fields)
    kc, vc = (
        _SPARK_TYPE_TO_WRITABLE[ktype],
        _SPARK_TYPE_TO_WRITABLE[vtype],
    )
    enc_k, enc_v = WRITABLE_ENCODERS[kc], WRITABLE_ENCODERS[vc]
    return _write_parts(
        df,
        path,
        kc,
        vc,
        lambda rows: [(enc_k(r[0]), enc_v(r[1])) for r in rows],
        index_interval,
        compression=compression,
    )


def mapfile_shards_get_many(
    root: str,
    probe_keys,
    max_scan_bytes: int = 4 * 1024 * 1024,
) -> dict:
    """``MapFileOutputFormat.getEntry`` over a range-sharded layout:
    :func:`_route_shards`, then ONE :func:`mapfile_get_many` batch per
    probed shard.  Returns {key: value} for hits."""
    out = {}
    for d, index, probes in _route_shards(root, probe_keys):
        out.update(mapfile_get_many(d, probes, max_scan_bytes, index=index))
    return out


def write_setfile(
    df: DataFrame, path: str, index_interval: int = 128
) -> int:
    """Real-format SetFile (io/SetFile.java:34 — a MapFile whose
    values are NullWritable): one SetFile directory per partition of
    the single-key-column frame.  Use :func:`setfile_contains_many`
    (hit = key PRESENT in the result, value is None by construction)
    to probe."""
    if len(df.columns) != 1:
        raise ValueError("write_setfile expects exactly one key column")
    # NullWritable values encode as the empty wire form
    return _write_mapfile_nullvalue(df, path, index_interval)


def _write_mapfile_nullvalue(df, path, index_interval):
    from hadoop_20_warehouse_spark.sources.seqfile import (
        _SPARK_TYPE_TO_WRITABLE,
        WRITABLE_ENCODERS,
    )

    ktype = df.schema.fields[0].dataType.simpleString()
    kc = _SPARK_TYPE_TO_WRITABLE[ktype]
    enc_k = WRITABLE_ENCODERS[kc]
    return _write_parts(
        df,
        path,
        kc,
        "org.apache.hadoop.io.NullWritable",
        lambda rows: [(enc_k(r[0]), b"") for r in rows],
        index_interval,
    )


def setfile_contains_many(root: str, probe_keys) -> set:
    """Membership probes against range-sharded SetFile directories:
    a key is a member iff it appears in the routed lookup result
    (NullWritable hits decode to None, so PRESENCE is the signal)."""
    return set(mapfile_shards_get_many(root, probe_keys).keys())


def write_arrayfile(df: DataFrame, path: str, index_interval: int = 128) -> int:
    """Real-format ArrayFile (io/ArrayFile.java:34 — a MapFile keyed
    by the GLOBAL append ordinal): the frame's single value column is
    numbered 0..N-1 in partition order (zipWithIndex — Spark's global
    ordinal without a total sort), then written as per-partition
    MapFile dirs whose LongWritable keys carry the global positions,
    so ordinal lookups route by the shard first-key bounds."""
    from pyspark.sql import functions as F

    if len(df.columns) != 1:
        raise ValueError("write_arrayfile expects exactly one value column")
    vcol = df.columns[0]
    indexed = (
        df.rdd.map(lambda r: r[0])
        .zipWithIndex()
        .map(lambda t: (t[1], t[0]))
        .toDF(["key", "value"])
    )
    return write_mapfile(indexed, path, index_interval=index_interval)


def arrayfile_get_many(root: str, ordinals) -> dict:
    """{ordinal: value} for the requested global positions."""
    return mapfile_shards_get_many(root, list(ordinals))


def write_bloommapfile(
    df: DataFrame,
    path: str,
    index_interval: int = 128,
    compression: str | None = None,
    bloom_num_keys: int = 1024 * 1024,
    bloom_error_rate: float = 0.005,
) -> int:
    """Real-format BloomMapFile (io/BloomMapFile.java:47): each
    partition writes its MapFile directory PLUS the ``bloom`` side
    file (DynamicBloomFilter over exact key wire bytes, murmur-hashed
    — sources/bloomfile.py).  Readers gate lookups on the bloom so
    absent keys cost zero data I/O; JVM BloomMapFile.Reader parity is
    pytest-pinned."""
    from hadoop_20_warehouse_spark.sources.bloomfile import (
        write_bloom_file,
    )
    from hadoop_20_warehouse_spark.sources.seqfile import (
        _SPARK_TYPE_TO_WRITABLE,
        WRITABLE_ENCODERS,
    )

    if len(df.columns) != 2:
        raise ValueError(
            "write_bloommapfile expects exactly (key, value) columns"
        )
    ktype, vtype = (f.dataType.simpleString() for f in df.schema.fields)
    kc, vc = (
        _SPARK_TYPE_TO_WRITABLE[ktype], _SPARK_TYPE_TO_WRITABLE[vtype],
    )
    enc_k, enc_v = WRITABLE_ENCODERS[kc], WRITABLE_ENCODERS[vc]

    def _bloom_hook(part_dir, pairs):
        write_bloom_file(
            part_dir, (kb for kb, _ in pairs),
            num_keys=bloom_num_keys, error_rate=bloom_error_rate,
        )

    return _write_parts(
        df,
        path,
        kc,
        vc,
        lambda rows: [(enc_k(r[0]), enc_v(r[1])) for r in rows],
        index_interval,
        compression=compression,
        post_hook=_bloom_hook,
    )


def bloom_shards_get_many(
    root: str,
    probe_keys,
    max_scan_bytes: int = 4 * 1024 * 1024,
) -> tuple[dict, int]:
    """getEntry routing with the bloom GATE: probes whose shard bloom
    says absent are dropped before any data I/O (BloomMapFile.Reader's
    get discipline — probabilistic gate, EXACT lookup behind it, so
    the result is deterministic).  Returns ({key: value},
    n_bloom_skipped)."""
    from hadoop_20_warehouse_spark.sources.bloomfile import (
        read_bloom_file,
    )
    from hadoop_20_warehouse_spark.sources.seqfile import (
        WRITABLE_ENCODERS,
    )

    out = {}
    skipped = 0
    for d, index, probes in _route_shards(root, probe_keys):
        enc_k = WRITABLE_ENCODERS[index[0]]
        bloom = read_bloom_file(d)
        survivors = [k for k in probes if bloom.maybe_contains(enc_k(k))]
        skipped += len(probes) - len(survivors)
        if survivors:
            out.update(
                mapfile_get_many(d, survivors, max_scan_bytes, index=index)
            )
    return out, skipped
