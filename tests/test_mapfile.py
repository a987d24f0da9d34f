"""Real-format MapFile interop — sources/mapfile.py vs JVM-written
directories (reference io/MapFile.java:33; get contract :403-445)."""

from __future__ import annotations

import os

import pytest

from hadoop_20_warehouse_spark.sources.mapfile import (
    mapfile_get,
    read_mapfile,
    read_mapfile_index,
    write_mapfile_jvm,
)


def _pairs(n=400):
    return [
        (f"k{i:05d}", f"val-{i}-" + "z" * (i % 23)) for i in range(0, n, 2)
    ]


@pytest.mark.parametrize("ctype", ["NONE", "RECORD", "BLOCK"])
def test_mapfile_jvm_write_pure_read_and_get(spark, tmp_path, ctype):
    pairs = _pairs()
    d = str(tmp_path / f"mf_{ctype}")
    write_mapfile_jvm(spark, d, pairs, index_interval=16, compress_type=ctype)
    assert os.path.exists(os.path.join(d, "data"))
    assert os.path.exists(os.path.join(d, "index"))

    kc, keys, positions = read_mapfile_index(d)
    assert kc == "org.apache.hadoop.io.Text"
    if ctype == "BLOCK":
        # the JVM writer indexes an interval key only when the data
        # position ADVANCED (block mode buffers many records per
        # block, so un-flushed intervals share a position and are
        # skipped) — a small fixture may index only the first record
        assert 1 <= len(keys) <= (len(pairs) + 15) // 16
    else:
        # one index row per interval (+ the first record)
        assert len(keys) == (len(pairs) + 15) // 16
    assert keys == sorted(keys)
    assert positions == sorted(positions)

    # full scan parity
    got = sorted(
        (r["key"], r["value"]) for r in read_mapfile(spark, d).collect()
    )
    assert got == pairs, ctype

    # point lookups: present keys across the whole range (first,
    # indexed, mid-interval, last), absent keys both between records
    # ("k00001" is skipped by the stride-2 fixture) and beyond the end
    for k, v in pairs[:3] + pairs[15:18] + pairs[-3:]:
        assert mapfile_get(d, k) == v, (ctype, k)
    assert mapfile_get(d, "k00001") is None  # between records
    assert mapfile_get(d, "a") is None  # before the first key
    assert mapfile_get(d, "zzz") is None  # past the last key


def test_mapfile_bounded_scan_window(spark, tmp_path):
    """The lookup reads ONLY [position, position+max_scan_bytes): a
    window big enough for one interval succeeds; the target key is
    still found even when the window tears mid-stream (clean stop at
    the torn tail, no exception)."""
    pairs = _pairs(600)
    d = str(tmp_path / "mf_window")
    write_mapfile_jvm(spark, d, pairs, index_interval=8)
    k, v = pairs[123]
    assert mapfile_get(d, k, max_scan_bytes=8 * 1024) == v
    # pathologically small window that tears before reaching the key:
    # clean None, never a parse crash
    assert mapfile_get(d, pairs[130][0], max_scan_bytes=64) in (
        pairs[130][1],
        None,
    )


def test_mapfile_index_value_class_gate(spark, tmp_path):
    """A directory whose 'index' is not (key, LongWritable) fails
    loudly instead of misreading positions."""
    from hadoop_20_warehouse_spark.sources.io import write_sequence

    d = tmp_path / "not_a_mapfile"
    kv = spark.createDataFrame(
        [("a", "b")], "key string, value string"
    )
    write_sequence(kv, str(d / "index_tmp"))
    import glob as _glob
    import shutil

    os.makedirs(d, exist_ok=True)
    part = _glob.glob(str(d / "index_tmp" / "part-*"))[0]
    shutil.copy(part, d / "index")
    with pytest.raises(ValueError, match="LongWritable"):
        read_mapfile_index(str(d))


def test_mapfile_get_many_grouped_probes(spark, tmp_path):
    """Batched lookup: one bounded read per position GROUP, sorted
    probes resolved in a single merge-scan — hits exact, absents
    silently missing, across interval boundaries."""
    from hadoop_20_warehouse_spark.sources.mapfile import mapfile_get_many

    pairs = _pairs(500)
    d = str(tmp_path / "mf_many")
    write_mapfile_jvm(spark, d, pairs, index_interval=8)
    probes = (
        [k for k, _ in pairs[::17]]
        + ["k00001", "k00003", "zzz", "a"]  # absent
        + [pairs[-1][0], pairs[0][0]]
    )
    got = mapfile_get_many(d, probes)
    want = {k: v for k, v in pairs if k in set(probes)}
    assert got == want


def test_python_mapfile_writer_jvm_reader_parity(spark, tmp_path):
    """r18: write_mapfile's directories are opened by the real JVM
    MapFile.Reader — get() hits land, absents return null — and by
    our own bounded-I/O lookup; per-partition dirs are each valid
    MapFiles (MapFileOutputFormat's output shape)."""
    import glob as _glob

    from hadoop_20_warehouse_spark.sources.mapfile import write_mapfile

    pairs = _pairs(600)
    # keys land in partitions by range so each part dir is sorted
    df = (
        spark.createDataFrame(pairs, ["key", "value"])
        .repartitionByRange(3, "key")
    )
    root = str(tmp_path / "pymf")
    n = write_mapfile(df, root, index_interval=16)
    assert n == len(pairs)
    part_dirs = sorted(_glob.glob(root + "/part-*"))
    assert len(part_dirs) == 3

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    found = {}
    for d in part_dirs:
        # pure-Python bounded lookup on our own bytes
        kc, keys, positions = read_mapfile_index(d)
        assert keys == sorted(keys)
        fs = jvm.org.apache.hadoop.fs.Path(d).getFileSystem(conf)
        reader = jvm.org.apache.hadoop.io.MapFile.Reader(fs, d, conf)
        try:
            for k, v in pairs[::37]:
                val = jvm.org.apache.hadoop.io.Text()
                hit = reader.get(jvm.org.apache.hadoop.io.Text(k), val)
                if hit is not None:
                    found[k] = val.toString()
            miss = reader.get(
                jvm.org.apache.hadoop.io.Text("k99999"),
                jvm.org.apache.hadoop.io.Text(),
            )
            assert miss is None
        finally:
            reader.close()
        for k, v in pairs[::41]:
            got = mapfile_get(d, k)
            assert got in (None, v)
    # every probed key found in exactly one partition, right value
    assert found == {k: v for k, v in pairs[::37]}
    # full parallel read across all part dirs
    got_all = sorted(
        (r["key"], r["value"])
        for r in read_mapfile(spark, root + "/part-*").collect()
    )
    assert got_all == pairs


def test_mapfile_shards_routing(spark, tmp_path):
    """getEntry routing over range shards: every key found in its own
    shard, probes before shard 0 or past the end come back absent,
    empty shards are skipped."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        mapfile_shards_get_many,
        write_mapfile,
    )

    pairs = _pairs(400)
    df = spark.createDataFrame(pairs, ["key", "value"]).repartitionByRange(
        4, "key"
    )
    root = str(tmp_path / "shards")
    write_mapfile(df, root, index_interval=8)
    probes = [k for k, _ in pairs[::7]] + ["a", "k00001", "zzzz"]
    got = mapfile_shards_get_many(root, probes)
    assert got == {k: v for k, v in pairs[::7]}


def test_setfile_real_format_membership(spark, tmp_path):
    """SetFile = MapFile with NullWritable values (io/SetFile.java:34):
    Python-written shards answer membership; the JVM SetFile.Reader
    consumes the same bytes."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        setfile_contains_many,
        write_setfile,
    )

    keys = [f"m{i:05d}" for i in range(0, 900, 3)]
    df = spark.createDataFrame(
        [(k,) for k in keys], ["key"]
    ).repartitionByRange(3, "key")
    root = str(tmp_path / "setfile")
    n = write_setfile(df, root, index_interval=16)
    assert n == len(keys)
    probes = keys[::13] + ["m00001", "m00002", "zz"]
    got = setfile_contains_many(root, probes)
    assert got == set(keys[::13])
    # JVM parity: SetFile.Reader#seek on one shard
    import glob as _glob

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    d = sorted(_glob.glob(root + "/part-*"))[0]
    fs = jvm.org.apache.hadoop.fs.Path(d).getFileSystem(conf)
    reader = jvm.org.apache.hadoop.io.SetFile.Reader(fs, d, conf)
    try:
        assert reader.seek(jvm.org.apache.hadoop.io.Text(keys[0]))
        assert not reader.seek(jvm.org.apache.hadoop.io.Text("m00001"))
    finally:
        reader.close()


def test_arrayfile_real_format_ordinal_lookup(spark, tmp_path):
    """ArrayFile = MapFile keyed by the global append ordinal
    (io/ArrayFile.java:34): zipWithIndex global numbering, shard-
    routed ordinal lookups, JVM ArrayFile.Reader parity."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        arrayfile_get_many,
        write_arrayfile,
    )

    vals = [f"payload-{i}" for i in range(700)]
    df = spark.createDataFrame([(v,) for v in vals], ["value"]).repartition(3)
    root = str(tmp_path / "arrayfile")
    n = write_arrayfile(df, root, index_interval=16)
    assert n == len(vals)
    # the global ordinal order is zipWithIndex's partition order —
    # recover the expected mapping the same way
    expected = dict(
        df.rdd.map(lambda r: r[0]).zipWithIndex()
        .map(lambda t: (t[1], t[0])).collect()
    )
    probe = list(range(0, 700, 29)) + [699, 0]
    got = arrayfile_get_many(root, probe)
    assert got == {i: expected[i] for i in probe}
    assert arrayfile_get_many(root, [10_000]) == {}
    # JVM parity: ArrayFile.Reader#get(n) on one shard (its ordinals
    # start at that shard's first key)
    import glob as _glob

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    d = sorted(_glob.glob(root + "/part-*"))[0]
    from hadoop_20_warehouse_spark.sources.mapfile import read_mapfile_index

    _, keys, _ = read_mapfile_index(d)
    fs = jvm.org.apache.hadoop.fs.Path(d).getFileSystem(conf)
    reader = jvm.org.apache.hadoop.io.ArrayFile.Reader(fs, d, conf)
    try:
        val = jvm.org.apache.hadoop.io.Text()
        got_j = reader.get(int(keys[0]), val)
        assert got_j is not None and val.toString() == expected[keys[0]]
    finally:
        reader.close()


def test_murmur_and_bloom_jvm_parity(spark, tmp_path):
    """r18 BloomMapFile: (1) Python murmur2 is bit-exact vs the JVM
    MurmurHash over random (data, seed); (2) a JVM-written
    BloomMapFile's bloom file parses in Python with IDENTICAL
    membership answers; (3) a Python-written BloomMapFile dir is
    opened by the JVM BloomMapFile.Reader — probablyHasKey true for
    every member, get() exact."""
    import random

    from hadoop_20_warehouse_spark.sources.bloomfile import (
        murmur2,
        read_bloom_file,
    )
    from hadoop_20_warehouse_spark.sources.mapfile import (
        bloom_shards_get_many,
        write_bloommapfile,
    )
    from hadoop_20_warehouse_spark.sources.seqfile import _enc_text

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    mh = jvm.org.apache.hadoop.util.hash.MurmurHash.getInstance()
    rng = random.Random(7)
    for _ in range(40):
        n = rng.randint(1, 32)
        data = bytes(rng.randint(0, 255) for _ in range(n))
        seed = rng.randint(-(2**31), 2**31 - 1)
        assert mh.hash(bytearray(data), n, seed) == murmur2(data, seed)

    # (2) JVM write -> Python bloom read
    d_jvm = str(tmp_path / "bmf_jvm")
    fs = jvm.org.apache.hadoop.fs.Path(d_jvm).getFileSystem(conf)
    text_cls = jvm.org.apache.hadoop.io.Text().getClass()
    writer = jvm.org.apache.hadoop.io.BloomMapFile.Writer(
        conf, fs, d_jvm, text_cls, text_cls
    )
    members = [f"k{i:04d}" for i in range(0, 300, 2)]
    try:
        for k in members:
            writer.append(
                jvm.org.apache.hadoop.io.Text(k),
                jvm.org.apache.hadoop.io.Text("v" + k),
            )
    finally:
        writer.close()
    bloom = read_bloom_file(d_jvm)
    reader = jvm.org.apache.hadoop.io.BloomMapFile.Reader(fs, d_jvm, conf)
    try:
        for k in members[::7] + ["k0001", "k0003", "nope", "zzz"]:
            jv = reader.probablyHasKey(jvm.org.apache.hadoop.io.Text(k))
            pv = bloom.maybe_contains(_enc_text(k))
            assert jv == pv, k
        assert all(bloom.maybe_contains(_enc_text(k)) for k in members)
    finally:
        reader.close()

    # (3) Python write -> JVM BloomMapFile.Reader
    pairs = _pairs(400)
    df = spark.createDataFrame(pairs, ["key", "value"]).repartitionByRange(
        2, "key"
    )
    root = str(tmp_path / "bmf_py")
    n = write_bloommapfile(df, root, index_interval=16)
    assert n == len(pairs)
    import glob as _glob

    part_dirs = sorted(_glob.glob(root + "/part-*"))
    hit_count = 0
    for d in part_dirs:
        r = jvm.org.apache.hadoop.io.BloomMapFile.Reader(fs, d, conf)
        try:
            for k, v in pairs[::31]:
                val = jvm.org.apache.hadoop.io.Text()
                got = r.get(jvm.org.apache.hadoop.io.Text(k), val)
                if got is not None:
                    assert val.toString() == v
                    assert r.probablyHasKey(jvm.org.apache.hadoop.io.Text(k))
                    hit_count += 1
        finally:
            r.close()
    assert hit_count == len(pairs[::31])

    # bloom-gated serving: every member found, absent probes mostly
    # skipped with zero data I/O (false positives allowed, exactness
    # guaranteed by the gate-then-get design)
    probes = [k for k, _ in pairs[::5]] + [f"x{i:04d}" for i in range(50)]
    got, skipped = bloom_shards_get_many(root, probes)
    assert got == {k: v for k, v in pairs[::5]}
    assert skipped >= 40  # ~all 50 absents, minus rare false positives


def test_get_extends_window_past_oversized_values(tmp_path, spark):
    """Values large enough that one index interval outruns the scan
    window: the lookup must grow the window and find the key, never
    report a false miss (r18 review)."""
    from hadoop_20_warehouse_spark.sources.mapfile import (
        mapfile_get,
        mapfile_get_many,
        write_mapfile,
    )
    from pyspark.sql import functions as F

    big = "x" * 40_000
    df = (
        spark.range(64)
        .select(
            F.format_string("k%03d", F.col("id")).alias("key"),
            F.concat(F.lit(big), F.col("id").cast("string")).alias("value"),
        )
        .coalesce(1)
    )
    path = str(tmp_path / "bigvals")
    write_mapfile(df, path, index_interval=128)  # one interval > 2.5MB
    d = path + "/part-00000"
    # tiny starting window forces the growth path repeatedly
    assert mapfile_get(d, "k063", max_scan_bytes=4096) == big + "63"
    got = mapfile_get_many(
        d, ["k000", "k031", "k063", "nope"], max_scan_bytes=4096
    )
    assert set(got) == {"k000", "k031", "k063"}
    assert got["k031"] == big + "31"


def test_get_many_raises_on_torn_data(tmp_path):
    """A ``data`` file cut mid-record raises ValueError for a key past
    the cut instead of reporting it absent: in the cut's own interval
    the walk reaches the torn record at EOF; a cut in an earlier
    interval leaves index positions past the end of data.  Keys the
    walk resolves before the tear are still served."""
    from hadoop_20_warehouse_spark.sources.mapfile import mapfile_get_many
    from hadoop_20_warehouse_spark.sources.seqfile import (
        WRITABLE_ENCODERS,
        encode_sequence_file,
    )

    text, long_cls = "org.apache.hadoop.io.Text", "org.apache.hadoop.io.LongWritable"
    enc, enc_long = WRITABLE_ENCODERS[text], WRITABLE_ENCODERS[long_cls]
    pairs = [(enc(f"k{i:03d}"), enc(f"v{i}")) for i in range(40)]
    data, positions = encode_sequence_file(
        iter(pairs), text, text, record_positions=True
    )
    index = encode_sequence_file(
        ((pairs[i][0], enc_long(positions[i])) for i in range(0, 40, 8)),
        text,
        long_cls,
    )
    d = tmp_path / "mf"
    d.mkdir()
    (d / "index").write_bytes(index)
    (d / "data").write_bytes(data[: positions[35] + 5])  # inside k035
    assert mapfile_get_many(str(d), ["k033"]) == {"k033": "v33"}
    with pytest.raises(ValueError, match="torn"):
        mapfile_get_many(str(d), ["k036"])
    (d / "data").write_bytes(data[: positions[20] + 5])  # inside k020
    with pytest.raises(ValueError, match="past the end of data"):
        mapfile_get_many(str(d), ["k036"])
