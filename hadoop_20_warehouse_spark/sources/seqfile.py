"""Tagged-union SequenceFile ingestion — GenericWritable / ObjectWritable.

Reference semantics (io/GenericWritable.java:118-135): a GenericWritable
value is ONE byte indexing the subclass's ``getTypes()`` array followed
by the wrapped Writable's wire bytes; ObjectWritable
(io/ObjectWritable.java:114-179) instead writes the declared class NAME
per record.  Reading either through any Hadoop reader requires the
user's subclass on the classpath (GenericWritable.readFields
reflectively instantiates ``getTypes()[type]``).

Spark-first re-expression: the JVM route is closed by construction (the
subclass is the USER'S class — exactly the artifact a migration no
longer has), so ingestion parses the SequenceFile CONTAINER in Python,
distributed one file per task over ``binaryFile`` + ``mapInPandas``,
and decodes the tagged union from the caller's type LIST — the same
contract as ``getTypes()``, minus the classpath.  Output is a tagged
struct: ``tag`` (the byte), ``type`` (short class name), and one typed
column per registered variant (non-matching variants NULL) — the
DataFrame shape a union type takes when SQL needs to filter/aggregate
per variant.

Scale: per-file parallelism (a SequenceFile is record-framed but the
sync-marker scan is cheap and files are the natural split for interop
ingestion); decode is a generator over bytes — no per-record Python
object churn beyond the emitted tuples.  Uncompressed, record- and
block-compressed containers are all parsed (DefaultCodec/GzipCodec/
BZip2Codec — each record or block buffer is a finished stream);
other codecs fail loudly with the codec name.  One header reader and
one record/block iterator serve every read, MapFile lookups
included; a torn record or block raises ValueError naming its byte
offset.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from hadoop_20_warehouse_spark.sources.recordio import read_vlong

_SEQ_MAGIC = b"SEQ"

# Declared classes whose ObjectWritable payload is the VALUE directly
# (no repeated concrete-class string): Java primitives, their java.lang
# names as written by getName(), and String (ObjectWritable.java:
# PRIMITIVE_NAMES + the String branch).  Arrays are caught separately
# by the "[" getName() prefix.
_NON_WRITABLE_DECLARED = frozenset(
    {
        "boolean", "byte", "char", "short", "int", "long", "float",
        "double", "void", "java.lang.String",
    }
)


# --- Writable wire-format decoders (io/*.java readFields) -------------------
# name -> (spark sql type, decode(bytes, pos) -> (value, new_pos))


def _dec_int(b: bytes, pos: int):
    return struct.unpack_from(">i", b, pos)[0], pos + 4


def _dec_long(b: bytes, pos: int):
    return struct.unpack_from(">q", b, pos)[0], pos + 8


def _dec_float(b: bytes, pos: int):
    return struct.unpack_from(">f", b, pos)[0], pos + 4


def _dec_double(b: bytes, pos: int):
    return struct.unpack_from(">d", b, pos)[0], pos + 8


def _dec_bool(b: bytes, pos: int):
    return b[pos] != 0, pos + 1


def _dec_byte(b: bytes, pos: int):
    return struct.unpack_from(">b", b, pos)[0], pos + 1


def _dec_text(b: bytes, pos: int):
    n, pos = read_vlong(b, pos)
    return b[pos : pos + n].decode("utf-8"), pos + n


def _dec_bytes(b: bytes, pos: int):
    n = struct.unpack_from(">i", b, pos)[0]
    pos += 4
    return bytes(b[pos : pos + n]), pos + n


def _dec_null(b: bytes, pos: int):
    return None, pos


WRITABLE_DECODERS: dict[str, tuple[str, object]] = {
    "org.apache.hadoop.io.IntWritable": ("int", _dec_int),
    "org.apache.hadoop.io.LongWritable": ("bigint", _dec_long),
    "org.apache.hadoop.io.FloatWritable": ("float", _dec_float),
    "org.apache.hadoop.io.DoubleWritable": ("double", _dec_double),
    "org.apache.hadoop.io.BooleanWritable": ("boolean", _dec_bool),
    "org.apache.hadoop.io.ByteWritable": ("tinyint", _dec_byte),
    "org.apache.hadoop.io.Text": ("string", _dec_text),
    "org.apache.hadoop.io.BytesWritable": ("binary", _dec_bytes),
    "org.apache.hadoop.io.VIntWritable": ("bigint", read_vlong),
    "org.apache.hadoop.io.VLongWritable": ("bigint", read_vlong),
    "org.apache.hadoop.io.NullWritable": ("string", _dec_null),
}


def _short_name(cls: str) -> str:
    return cls.rsplit(".", 1)[-1].rsplit("$", 1)[-1]


def _decoder_for(cls: str):
    try:
        return WRITABLE_DECODERS[cls]
    except KeyError:
        raise ValueError(
            f"no wire decoder registered for Writable class '{cls}'; "
            f"known: {sorted(WRITABLE_DECODERS)}"
        ) from None


# --- SequenceFile container (io/SequenceFile.java:1478 init, :1930 next) ----


def _read_text_string(b: bytes, pos: int) -> tuple[str, int]:
    """Text.writeString wire form (vint byte-length + UTF-8)."""
    n, pos = read_vlong(b, pos)
    return b[pos : pos + n].decode("utf-8"), pos + n


def _read_utf8_string(b: bytes, pos: int) -> tuple[str, int]:
    """UTF8.readFields wire form (2-byte BE unsigned length +
    Java-modified-UTF8 bytes) — the pre-v4 SequenceFile class-name
    framing (io/UTF8.java:96 readFields; io/SequenceFile.java:1462).
    Class names are ASCII, where modified UTF-8 == UTF-8."""
    n = struct.unpack_from(">H", b, pos)[0]
    pos += 2
    return b[pos : pos + n].decode("utf-8"), pos + n


class SequenceHeader(NamedTuple):
    """What the record walk needs from a SequenceFile header."""

    key_class: str
    value_class: str
    block_compressed: bool
    inflate: Callable[[bytes], bytes] | None
    sync: bytes  # b"" for v1, which has no sync and no sync escapes
    data_start: int


def read_sequence_header(blob: bytes) -> SequenceHeader:
    """Header of one SequenceFile (io/SequenceFile.java:1478-1540):
    ``SEQ`` magic, version byte, key/value class names (Text strings
    for v4+, UTF8 2-byte-length strings for v1-v3 —
    io/SequenceFile.java:1462), compression booleans (+codec),
    metadata pairs, and a 16-byte sync marker present only for
    version > 1.  ``blob`` needs only to hold the header; a shorter
    one raises ValueError."""
    if blob[:3] != _SEQ_MAGIC:
        raise ValueError("not a SequenceFile (missing SEQ magic)")
    if len(blob) < 4:
        raise ValueError("truncated SequenceFile header")
    version = blob[3]
    if not 1 <= version <= 6:
        raise ValueError(
            f"SequenceFile version {version} unsupported: this parser "
            f"implements v1-v6 framing (v4+: Text class names + "
            f"unconditional sync; v1-v3: UTF8 class names + conditional "
            f"sync, io/SequenceFile.java:1462) — re-write with a modern "
            f"writer or read via a JVM path"
        )
    read_name = _read_utf8_string if version < 4 else _read_text_string
    try:
        key_class, pos = read_name(blob, 4)
        value_class, pos = read_name(blob, pos)
        compressed = block_compressed = False
        if version > 2:
            compressed = blob[pos] != 0
            pos += 1
        if version >= 4:
            block_compressed = blob[pos] != 0
            pos += 1
        codec = "org.apache.hadoop.io.compress.DefaultCodec"
        if (compressed or block_compressed) and version >= 5:
            codec, pos = _read_text_string(blob, pos)
        if version >= 6:
            n_meta = struct.unpack_from(">i", blob, pos)[0]
            pos += 4
            for _ in range(2 * n_meta):
                _, pos = _read_text_string(blob, pos)
    except (IndexError, struct.error):
        raise ValueError("truncated SequenceFile header") from None
    sync_len = 16 if version > 1 else 0
    if pos + sync_len > len(blob):
        raise ValueError("truncated SequenceFile header")
    return SequenceHeader(
        key_class,
        value_class,
        block_compressed,
        _inflater_for(codec) if compressed or block_compressed else None,
        bytes(blob[pos : pos + sync_len]),
        pos + sync_len,
    )


def _torn(at: int) -> ValueError:
    return ValueError(f"torn SequenceFile frame at byte {at}")


def _inflate(inflate, data: bytes, at: int) -> bytes:
    try:
        return inflate(data)
    except (zlib.error, OSError, EOFError, ValueError) as e:
        raise ValueError(
            f"SequenceFile frame at byte {at} does not inflate: {e}"
        ) from e


def iter_sequence_records(
    buf: bytes, header: SequenceHeader, pos: int
) -> Iterator[tuple[bytes, bytes]]:
    """RAW (key_bytes, value_bytes) of every record in ``buf`` from
    ``pos``, which must be a record, sync-escape or block boundary
    (the header end, or a MapFile index position).

    Record framing (io/SequenceFile.java:1930): BE-int record length +
    BE-int key length + key bytes + value bytes, the value one finished
    codec stream when record-compressed (:1108-1139); a length of -1
    introduces a 16-byte sync marker.  Block framing (:1257-1283 write,
    :1659 readBlock): each block is a sync escape, a vint record count,
    then four ``[vint length][codec stream]`` buffers — key lengths
    (vints), keys, value lengths (vints), values.

    The walk ends quietly only at the end of ``buf`` on a frame
    boundary; a torn frame, a bad sync or a buffer that fails to
    inflate raises ValueError naming the frame's byte offset."""
    sync, inflate, end = header.sync, header.inflate, len(buf)
    if header.block_compressed:
        while pos < end:
            start = pos
            if pos + 20 > end:
                raise _torn(start)
            if (
                struct.unpack_from(">i", buf, pos)[0] != -1
                or buf[pos + 4 : pos + 20] != sync
            ):
                raise ValueError(
                    "corrupt SequenceFile: block without sync prefix at "
                    f"byte {start}"
                )
            bufs = []
            try:
                n, pos = read_vlong(buf, pos + 20)
                for _ in range(4):
                    clen, pos = read_vlong(buf, pos)
                    if pos + clen > end:
                        raise _torn(start)
                    bufs.append(_inflate(inflate, buf[pos : pos + clen], start))
                    pos += clen
            except IndexError:
                raise _torn(start) from None
            key_lens, keys, val_lens, vals = bufs
            kq = vq = koff = voff = 0
            for _ in range(n):
                klen, kq = read_vlong(key_lens, kq)
                vlen, vq = read_vlong(val_lens, vq)
                yield keys[koff : koff + klen], vals[voff : voff + vlen]
                koff += klen
                voff += vlen
        return
    while pos < end:
        if pos + 8 > end:
            raise _torn(pos)
        rec_len, key_len = struct.unpack_from(">ii", buf, pos)
        if sync and rec_len == -1:  # sync escape
            if pos + 20 > end:
                raise _torn(pos)
            if buf[pos + 4 : pos + 20] != sync:
                raise ValueError(
                    f"corrupt SequenceFile: bad sync marker at byte {pos}"
                )
            pos += 20
            continue
        if not 0 <= key_len <= rec_len:
            raise ValueError(f"corrupt SequenceFile record at byte {pos}")
        key_at, stop = pos + 8, pos + 8 + rec_len
        if stop > end:
            raise _torn(pos)
        val = bytes(buf[key_at + key_len : stop])
        yield (
            bytes(buf[key_at : key_at + key_len]),
            _inflate(inflate, val, pos) if inflate else val,
        )
        pos = stop


def parse_sequence_file(blob: bytes):
    """Parse one SequenceFile: returns ``(key_class, value_class,
    iter[(key_bytes, value_bytes)])`` of the RAW per-record wire bytes
    (:func:`read_sequence_header`, then :func:`iter_sequence_records`
    from the header end)."""
    header = read_sequence_header(blob)
    return (
        header.key_class,
        header.value_class,
        iter_sequence_records(blob, header, header.data_start),
    )


def _inflater_for(codec: str):
    """Pure-Python decompressor for the stock Hadoop codecs (each
    record/block buffer is ONE finished stream — the writers call
    resetState() + finish() around every unit)."""
    short = codec.rsplit(".", 1)[-1]
    if short == "DefaultCodec":
        return zlib.decompress  # zlib-framed deflate
    if short == "GzipCodec":
        return lambda b: zlib.decompress(b, 16 + zlib.MAX_WBITS)
    if short == "BZip2Codec":
        import bz2

        return bz2.decompress
    raise ValueError(
        f"compressed SequenceFile codec {codec} not supported by the "
        f"pure-Python container parser (DefaultCodec/GzipCodec/"
        f"BZip2Codec are); read via a JVM path with the codec on the "
        f"classpath"
    )


def read_sequence_tagged(
    spark: SparkSession,
    path: str,
    types: list[str],
    key_class: str = "org.apache.hadoop.io.LongWritable",
    union_format: str = "generic",
) -> DataFrame:
    """SequenceFile of tagged-union values → tagged-struct DataFrame.

    ``types`` plays the role of the subclass's ``getTypes()`` array
    (io/GenericWritable.java:144): index ``i`` decodes tag byte ``i``.
    ``union_format``:

    - ``"generic"`` — GenericWritable wire form (:118 readFields): one
      tag byte then the wrapped Writable's bytes.
    - ``"object"`` — ObjectWritable wire form (:114 readObject): a
      java-UTF declared-class string then (for Writable payloads)
      the instance bytes; the class name maps back to its ``types``
      index for the ``tag`` column, so both formats yield the same
      schema.  (The reference's own javadoc recommends GenericWritable
      over ObjectWritable for exactly this per-record-string cost.)

    If the file's value class is BytesWritable, each value is
    unwrapped from its 4-byte length prefix first — the staging shape
    used when union payloads are carried opaquely; any other value
    class (e.g. the user's GenericWritable subclass name, which no
    classpath here could load) is taken as the union bytes directly.

    Output: ``key``, ``tag`` smallint, ``type`` string (short class
    name), one typed column per registered variant — ``v_<ShortName>``
    (indexed on duplicates), NULL except on the matching tag."""
    if union_format not in ("generic", "object"):
        raise ValueError(f"unknown union_format '{union_format}'")
    key_type, key_dec = _decoder_for(key_class)
    variants = []  # (col_name, sql_type, decoder)
    seen: dict[str, int] = {}
    for cls in types:
        sql_type, dec = _decoder_for(cls)
        short = _short_name(cls)
        n = seen.get(short, 0)
        seen[short] = n + 1
        col = f"v_{short}" if n == 0 else f"v_{short}_{n}"
        variants.append((col, sql_type, dec))
    by_class = {cls: i for i, cls in enumerate(types)}

    schema = ", ".join(
        [f"key {key_type}", "tag smallint", "type string"]
        + [f"{col} {sql_type}" for col, sql_type, _ in variants]
    )
    n_variants = len(variants)
    fmt = union_format

    def parse_files(batches):
        import pandas as pd

        for pdf in batches:
            out: list[tuple] = []
            for blob in pdf["content"]:
                kcls, vcls, recs = parse_sequence_file(blob)
                if kcls != key_class:
                    raise ValueError(
                        f"key class mismatch: file has {kcls}, expected {key_class}"
                    )
                unwrap = vcls == "org.apache.hadoop.io.BytesWritable"
                for kb, vb in recs:
                    key, _ = key_dec(kb, 0)
                    if unwrap:
                        vb = vb[4:]  # BytesWritable length prefix
                    if fmt == "generic":
                        tag = vb[0]
                        body, bpos = vb, 1
                    else:  # ObjectWritable: java-UTF declared class
                        n = struct.unpack_from(">H", vb, 0)[0]
                        declared = vb[2 : 2 + n].decode("utf-8")
                        # Only WRITABLE payloads repeat a concrete
                        # class string; primitive/String/array/enum
                        # declared classes write the value directly
                        # (ObjectWritable.java:120-160) — reading a
                        # second java-UTF there would misparse value
                        # bytes as a string length (ADVICE r10), so
                        # check the declared class FIRST and fail
                        # cleanly on non-Writable payload kinds.
                        if (
                            declared in _NON_WRITABLE_DECLARED
                            or declared.startswith("[")
                        ):
                            raise ValueError(
                                f"ObjectWritable payload of declared "
                                f"class '{declared}' is a primitive/"
                                f"String/array value, not a Writable "
                                f"union member — unsupported by this "
                                f"tagged-union reader"
                            )
                        if declared in by_class:
                            tag = by_class[declared]
                            # skip the repeated concrete class string
                            n2 = struct.unpack_from(">H", vb, 2 + n)[0]
                            body, bpos = vb, 4 + n + n2
                        else:
                            # unknown declared class (interface or
                            # supertype): the concrete class string
                            # identifies the actual Writable
                            n2 = struct.unpack_from(">H", vb, 2 + n)[0]
                            concrete = vb[4 + n : 4 + n + n2].decode(
                                "utf-8"
                            )
                            if concrete not in by_class:
                                raise ValueError(
                                    f"ObjectWritable class '{declared}' "
                                    f"(concrete '{concrete}') not in types"
                                )
                            tag = by_class[concrete]
                            body, bpos = vb, 4 + n + n2
                    if tag >= n_variants:
                        raise ValueError(
                            f"tag byte {tag} out of range for {n_variants} types"
                        )
                    col, _sql, dec = variants[tag]
                    val, _ = dec(body, bpos)
                    row = [key, tag, col[2:]] + [None] * n_variants
                    row[3 + tag] = val
                    out.append(tuple(row))
            cols = ["key", "tag", "type"] + [c for c, _, _ in variants]
            yield pd.DataFrame(out, columns=cols)

    files = spark.read.format("binaryFile").load(path)
    return files.select("content").mapInPandas(parse_files, schema)


# --- encode side (GenericWritable.write, io/GenericWritable.java:129) -------


def _enc_int(v) -> bytes:
    return struct.pack(">i", int(v))


def _enc_long(v) -> bytes:
    return struct.pack(">q", int(v))


def _enc_float(v) -> bytes:
    return struct.pack(">f", float(v))


def _enc_double(v) -> bytes:
    return struct.pack(">d", float(v))


def _enc_bool(v) -> bytes:
    return b"\x01" if v else b"\x00"


def _enc_byte(v) -> bytes:
    return struct.pack(">b", int(v))


def _enc_text(v) -> bytes:
    from hadoop_20_warehouse_spark.sources.recordio import write_vlong

    raw = str(v).encode("utf-8")
    buf = bytearray()
    write_vlong(buf, len(raw))
    return bytes(buf) + raw


def _enc_bytes(v) -> bytes:
    return struct.pack(">i", len(v)) + bytes(v)


def _enc_null(v) -> bytes:
    return b""


WRITABLE_ENCODERS: dict[str, object] = {
    "org.apache.hadoop.io.IntWritable": _enc_int,
    "org.apache.hadoop.io.LongWritable": _enc_long,
    "org.apache.hadoop.io.FloatWritable": _enc_float,
    "org.apache.hadoop.io.DoubleWritable": _enc_double,
    "org.apache.hadoop.io.BooleanWritable": _enc_bool,
    "org.apache.hadoop.io.ByteWritable": _enc_byte,
    "org.apache.hadoop.io.Text": _enc_text,
    "org.apache.hadoop.io.BytesWritable": _enc_bytes,
    "org.apache.hadoop.io.NullWritable": _enc_null,
}


def encode_tagged_value(tag: int, cls: str, value) -> bytes:
    """GenericWritable wire bytes for one value: the tag byte then the
    wrapped Writable's bytes (io/GenericWritable.java:129-134 write).
    Used to STAGE tagged unions from Spark (payloads carried opaquely
    in BytesWritable — see read_sequence_tagged's unwrap) and by the
    wire-compat tests."""
    if not 0 <= tag <= 255:
        raise ValueError(f"tag {tag} out of byte range")
    try:
        enc = WRITABLE_ENCODERS[cls]
    except KeyError:
        raise ValueError(f"no encoder for Writable class '{cls}'") from None
    return bytes([tag]) + enc(value)


def encode_object_value(cls: str, value) -> bytes:
    """ObjectWritable wire bytes (io/ObjectWritable.java:114
    writeObject, Writable branch): java-UTF declared class name,
    java-UTF concrete class name, then the instance bytes."""
    try:
        enc = WRITABLE_ENCODERS[cls]
    except KeyError:
        raise ValueError(f"no encoder for Writable class '{cls}'") from None
    name = cls.encode("utf-8")
    utf = struct.pack(">H", len(name)) + name
    return utf + utf + enc(value)


def read_sequence_with_position(
    spark: SparkSession, path: str, as_text: bool = True
) -> DataFrame:
    """SequenceFile part files → (position, key, value) where
    ``position`` is the GLOBAL record rank in (file name, in-file
    record order) — the order a range-partitioned sorted write (the
    ``SequenceFile.Sorter`` analog) lays down, so sortedness becomes a
    hash-checkable COLUMN instead of an order-sensitive read.

    Scale shape: files parse in parallel (pure parser, any stock
    codec); positions lift per-file ordinals by prefix offsets
    computed from an O(files) metadata frame (the
    ``global_shuffle_order`` discipline — no corpus-wide window).
    ``as_text=True`` decodes Text-class keys/values to strings."""
    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").load(path)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            paths, ords, keys, vals = [], [], [], []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                kc, vc, recs = parse_sequence_file(bytes(blob))
                for i, (kb, vb) in enumerate(recs):
                    paths.append(fpath)
                    ords.append(i)
                    if as_text:
                        if kc != "org.apache.hadoop.io.Text" or vc != kc:
                            raise ValueError(
                                "as_text=True requires Text keys and "
                                f"values; file has ({kc}, {vc})"
                            )
                        keys.append(_dec_text(kb, 0)[0])
                        vals.append(_dec_text(vb, 0)[0])
                    else:
                        keys.append(bytearray(kb))
                        vals.append(bytearray(vb))
            yield pd.DataFrame(
                {"path": paths, "ordinal": ords, "key": keys, "value": vals}
            )

    typ = "string" if as_text else "binary"
    parsed = files.select("path", "content").mapInPandas(
        gen, f"path string, ordinal long, key {typ}, value {typ}"
    )
    # generation-bounded cache (r18 review): a bare persist() leaked a
    # fully-decoded corpus copy per invocation in long-lived sessions;
    # the FIFO helper releases generations older than the newest two
    from hadoop_20_warehouse_spark.session import persist_generation

    parsed = persist_generation("seqfile_position", parsed)
    counts = sorted(
        (r["path"], r["n"])
        for r in parsed.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # O(files) metadata
    offsets, acc = [], 0
    for p, n in counts:
        offsets.append((p, acc))
        acc += n
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "path string, off long")
    )
    return parsed.join(off_df, "path").select(
        (F.col("off") + F.col("ordinal")).alias("position"), "key", "value"
    )


# --- pure-Python SequenceFile WRITER (the parse symmetry) -------------------

_SEQ_CODECS = {
    "default": "org.apache.hadoop.io.compress.DefaultCodec",
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
}
_SYNC_INTERVAL = 2000  # io/SequenceFile.java:203 (100 * SYNC_SIZE)


def _deflater_for(codec: str):
    short = codec.rsplit(".", 1)[-1]
    if short == "DefaultCodec":
        return zlib.compress
    if short == "GzipCodec":
        import gzip

        return gzip.compress
    if short == "BZip2Codec":
        import bz2

        return bz2.compress
    raise ValueError(f"unsupported SequenceFile write codec {codec}")


def encode_sequence_file(
    pairs,
    key_class: str,
    value_class: str,
    compression: str | None = None,
    compress_type: str = "record",
    sync_seed: bytes = b"h20w-seq",
    block_bytes: int = 1024 * 1024,
    record_positions: bool = False,
):
    """Raw-wire-bytes pairs → one version-6 SequenceFile, classpath-
    free (the writers' layouts at io/SequenceFile.java:779 plain,
    :1047 record-compressed, :1158 block-compressed; sync every
    ~SYNC_INTERVAL bytes per :969 checkAndWriteSync; header per
    :1478).  ``pairs`` yield (key_bytes, value_bytes) ALREADY in
    Writable wire form (see WRITABLE_ENCODERS).

    ``record_positions=True`` returns ``(blob, positions)`` where
    ``positions[i]`` is the stream offset BEFORE record i (and before
    any sync the append emits) — exactly what ``MapFile.Writer``
    records into its index (MapFile.java:195 ``data.getLength()``
    taken pre-append); unavailable in block mode, whose positions are
    block-aligned by construction."""
    import hashlib

    sync = hashlib.md5(sync_seed).digest()
    out = bytearray(b"SEQ\x06")
    out += _enc_text(key_class) + _enc_text(value_class)
    compressed = compression is not None
    block = compressed and compress_type.lower() == "block"
    if compressed and compress_type.lower() not in ("record", "block"):
        raise ValueError(f"compress_type must be record|block: {compress_type}")
    out += b"\x01" if compressed else b"\x00"
    out += b"\x01" if block else b"\x00"
    deflate = None
    if compressed:
        codec = _SEQ_CODECS.get(compression, compression)
        out += _enc_text(codec)
        deflate = _deflater_for(codec)
    out += struct.pack(">i", 0)  # no metadata pairs
    out += sync
    positions: list[int] = []
    if record_positions and block:
        raise ValueError(
            "record_positions is undefined for block-compressed files"
        )

    if not block:
        last_sync = len(out)
        for kb, vb in pairs:
            kb = bytes(kb)
            vb = deflate(bytes(vb)) if deflate else bytes(vb)
            if record_positions:
                positions.append(len(out))
            if len(out) >= last_sync + _SYNC_INTERVAL:
                out += struct.pack(">i", -1) + sync
                last_sync = len(out)
            out += struct.pack(">ii", len(kb) + len(vb), len(kb))
            out += kb + vb
        blob = bytes(out)
        return (blob, positions) if record_positions else blob

    from hadoop_20_warehouse_spark.sources.recordio import write_vlong

    def vint(n: int) -> bytes:
        b = bytearray()
        write_vlong(b, n)
        return bytes(b)

    key_lens = bytearray()
    keys = bytearray()
    val_lens = bytearray()
    vals = bytearray()
    n = 0

    def flush():
        nonlocal key_lens, keys, val_lens, vals, n
        if n == 0:
            return
        out.extend(struct.pack(">i", -1) + sync)
        out.extend(vint(n))
        for buf in (key_lens, keys, val_lens, vals):
            comp = deflate(bytes(buf))
            out.extend(vint(len(comp)))
            out.extend(comp)
        key_lens, keys, val_lens, vals = (
            bytearray(), bytearray(), bytearray(), bytearray(),
        )
        n = 0

    for kb, vb in pairs:
        kb, vb = bytes(kb), bytes(vb)
        key_lens += vint(len(kb))
        keys += kb
        val_lens += vint(len(vb))
        vals += vb
        n += 1
        if len(keys) + len(vals) >= block_bytes:
            flush()
    flush()
    return bytes(out)


_SPARK_TYPE_TO_WRITABLE = {
    "string": "org.apache.hadoop.io.Text",
    "bigint": "org.apache.hadoop.io.LongWritable",
    "int": "org.apache.hadoop.io.IntWritable",
    "double": "org.apache.hadoop.io.DoubleWritable",
    "float": "org.apache.hadoop.io.FloatWritable",
    "boolean": "org.apache.hadoop.io.BooleanWritable",
    "binary": "org.apache.hadoop.io.BytesWritable",
}


def write_sequence_python(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    compress_type: str = "record",
) -> int:
    """DataFrame[key, value] → one SequenceFile per partition, encoded
    ENTIRELY in Python on the executors (the avro/tfile per-partition
    writer mold) — the classpath-free write twin of
    :func:`parse_sequence_file`, for environments where no JVM output
    format is reachable (arbitrary codec stacks, restricted
    classpaths).  Writable classes derive from the Spark column types
    (string→Text, bigint→LongWritable, ...).  Returns the row count;
    JVM-reader parity is pytest-pinned."""
    import os as _os

    if len(df.columns) != 2:
        raise ValueError(
            "write_sequence_python expects exactly (key, value) columns"
        )
    ktype, vtype = (f.dataType.simpleString() for f in df.schema.fields)
    try:
        kc, vc = (
            _SPARK_TYPE_TO_WRITABLE[ktype],
            _SPARK_TYPE_TO_WRITABLE[vtype],
        )
    except KeyError as e:
        raise ValueError(
            f"no Writable mapping for column type {e} "
            f"(have: {sorted(_SPARK_TYPE_TO_WRITABLE)})"
        ) from None
    enc_k, enc_v = WRITABLE_ENCODERS[kc], WRITABLE_ENCODERS[vc]
    _os.makedirs(path, exist_ok=True)

    def _write_part(idx: int, rows):
        count = [0]

        def gen():
            for r in rows:
                count[0] += 1
                yield enc_k(r[0]), enc_v(r[1])

        blob = encode_sequence_file(
            gen(), kc, vc,
            compression=compression, compress_type=compress_type,
            sync_seed=f"part-{idx}".encode(),
        )
        with open(_os.path.join(path, f"part-{idx:05d}"), "wb") as fh:
            fh.write(blob)
        yield count[0]

    return sum(
        df.rdd.mapPartitionsWithIndex(_write_part).collect()
    )
