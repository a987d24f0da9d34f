"""Seekable compressed stream — the FB SimpleSeekableFormat, Spark-first.

The reference warehouse added a format whose whole point is SPLITTING
COMPRESSED DATA: a gzip stream is opaque (one reader must start at
byte 0), so FB interleaved metadata carrying (uncompressed,
compressed) offset pairs into the stream, letting a reader seek to an
arbitrary byte offset, resynchronize, and decompress only its slice
(``src/core/org/apache/hadoop/io/simpleseekableformat/
SimpleSeekableFormat.java:19-40``).  SURVEY §2.1 mapped this to
"Parquet/ORC blocks do it natively" — true for columnar tables, but
the reference's format serves COMPRESSED TEXT/byte streams, which the
mapped answer doesn't cover.  This module implements the capability
itself (the concept, not the Java wire format):

Layout: ``SSF1`` magic + a 16-byte stream sync (md5 of a seed), then
a sequence of independently-deflated chunks, each framed as

    [sync 16B][uncompressed_offset u64][uncomp_len u32][comp_len u32]
    [raw-DEFLATE payload]

The per-chunk header IS the interleaved metadata: the (uncompressed,
compressed) offset pair the reference format carries.  Two seek
modes fall out:

- **compressed-offset splits** (the splitter contract): a byte-range
  task seeks to its start, scans forward to the first sync, and owns
  every chunk whose sync starts inside its range — the same ownership
  rule as ``sources/avro.read_avro_split``, so a single multi-GB
  compressed file fans out across the cluster.
- **uncompressed-offset seeks** (the resume/tail contract): walk the
  chunk headers (a few bytes each, skipping payloads) until the chunk
  covering uncompressed offset X, decompress from there — never
  inflating the prefix.

Chunks hold WHOLE records (lines), so split decode never tears a
record — the TextInputFormat line contract over compressed data.
Whole-stream decode, split decode, the uncompressed seek and the
header-only inventory all walk chunks with one iterator, which checks
each chunk's sync, offset continuity and inflated length; a stream
torn anywhere but at a chunk boundary raises ValueError.

Scale: one file per writing partition on the way out; reads
parallelize by compressed byte ranges regardless of file count.
"""

from __future__ import annotations

import hashlib
import io
import math
import os
import struct
import zlib

from hadoop_20_warehouse_spark.sources.splitscan import (
    byte_range_splits,
    scan_first_sync,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MAGIC = b"SSF1"


def _stream_sync(seed: bytes) -> bytes:
    return hashlib.md5(b"h20w-ssf:" + seed).digest()


def encode_ssf(
    lines: list[str], seed: bytes = b"part-0", chunk_bytes: int = 1 << 16
) -> bytes:
    """UTF-8 lines → one seekable-compressed stream.  Each chunk packs
    whole newline-terminated lines up to ~``chunk_bytes`` uncompressed,
    deflated independently so any chunk decompresses alone."""
    sync = _stream_sync(seed)
    out = bytearray(_MAGIC + sync)
    buf = bytearray()
    uoff = 0

    def flush():
        nonlocal buf, uoff
        if not buf:
            return
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(bytes(buf)) + comp.flush()
        out.extend(sync)
        out.extend(struct.pack(">QII", uoff, len(buf), len(payload)))
        out.extend(payload)
        uoff += len(buf)
        buf = bytearray()

    for line in lines:
        if line is None:
            raise ValueError(
                "encode_ssf: null line (filter or fill nulls before "
                "writing — \\n-delimited records cannot encode None)"
            )
        if "\n" in line:
            raise ValueError(
                "encode_ssf: line contains the record delimiter \\n"
            )
        raw = line.encode("utf-8") + b"\n"
        buf += raw
        if len(buf) >= chunk_bytes:
            flush()
    flush()
    return bytes(out)


def _read_header(fh) -> bytes:
    """Stream header → the stream sync, leaving ``fh`` at the first
    chunk."""
    head = fh.read(20)
    if head[:4] != _MAGIC:
        raise ValueError("not a seekable-compressed (SSF1) stream")
    if len(head) < 20:
        raise ValueError("truncated SSF header")
    return head[4:]


def _iter_chunks(
    fh,
    sync: bytes,
    uoff: int | None = 0,
    end: int | None = None,
    inflate_from: float = 0,
):
    """Walk the chunks from ``fh``'s position, a chunk boundary,
    yielding ``(uncompressed_offset, uncomp_len, comp_len, data)``.

    ``data`` is the inflated payload, or None for a chunk ending at or
    before uncompressed offset ``inflate_from``, whose payload is
    seeked over unread.  Each chunk's sync, its offset continuing the
    previous chunk's (the first must be ``uoff``; None accepts any,
    for a walk that starts mid-stream) and its inflated length are
    checked.  With ``end``, only chunks starting before ``end`` are
    walked (the split ownership rule).  EOF exactly at a chunk
    boundary ends the walk; EOF anywhere else raises ValueError, like
    every failed check."""
    at = fh.tell()
    size = fh.seek(0, os.SEEK_END)
    fh.seek(at)
    while at < size and (end is None or at < end):
        head = fh.read(32)
        if len(head) < 32:
            raise ValueError(f"truncated SSF chunk header at byte {at}")
        if head[:16] != sync:
            raise ValueError(
                f"SSF chunk sync mismatch at byte {at} (torn stream?)"
            )
        chunk_uoff, ulen, clen = struct.unpack(">QII", head[16:])
        if uoff is not None and chunk_uoff != uoff:
            raise ValueError(
                f"SSF chunk offset discontinuity at byte {at} "
                f"(header says {chunk_uoff}, stream is at {uoff})"
            )
        if at + 32 + clen > size:
            raise ValueError(f"truncated SSF chunk at byte {at}")
        data = None
        if chunk_uoff + ulen <= inflate_from:
            fh.seek(clen, os.SEEK_CUR)
        else:
            try:
                data = zlib.decompress(fh.read(clen), -15)
            except zlib.error as e:
                raise ValueError(
                    f"SSF chunk at byte {at} does not inflate: {e}"
                ) from e
            if len(data) != ulen:
                raise ValueError(
                    f"SSF chunk length mismatch at byte {at} "
                    f"(header says {ulen}, inflated {len(data)})"
                )
        yield chunk_uoff, ulen, clen, data
        uoff = chunk_uoff + ulen
        at += 32 + clen


def decode_ssf(blob: bytes) -> list[str]:
    """Whole-stream decode (the non-split path)."""
    fh = io.BytesIO(blob)
    sync = _read_header(fh)
    text = b"".join(data for _, _, _, data in _iter_chunks(fh, sync))
    # \n is THE record delimiter (splitlines would also break on
    # \x85/\u2028/\v etc. and disagree with read_ssf_lines)
    return text.decode("utf-8").split("\n")[:-1]


def seek_uncompressed(path: str, offset: int) -> bytes:
    """The resume contract: bytes of the UNCOMPRESSED stream from
    ``offset`` on, found by walking chunk HEADERS only (payloads are
    fseek'd over) — the prefix is never inflated."""
    with open(path, "rb") as fh:
        sync = _read_header(fh)
        return b"".join(
            data[max(0, offset - uoff) :]
            for uoff, _, _, data in _iter_chunks(
                fh, sync, inflate_from=offset
            )
            if data is not None
        )


def _decode_file_range(fname: str, start: int, end: int) -> list[tuple]:
    """Chunks owned by compressed byte range [start, end): scan to the
    first sync starting in-range (64 KB windows, 15-byte carry), then
    decode sequentially while chunk syncs start before ``end`` — the
    avro.read_avro_split ownership rule.  Returns
    (uncompressed_offset, line) tuples."""
    with open(fname, "rb") as fh:
        sync = _read_header(fh)
        # shared chunked scan (sources/splitscan.py); the 16 bytes at
        # file offset 4 are the stream header's sync, not a chunk
        boundary = scan_first_sync(
            fh, sync, max(start, 4), end, skip_positions=(4,)
        )
        if boundary is None:
            return []
        fh.seek(boundary)
        rows: list[tuple] = []
        for off, _, _, data in _iter_chunks(fh, sync, uoff=None, end=end):
            for raw in data.split(b"\n")[:-1]:
                rows.append((off, raw.decode("utf-8")))
                off += len(raw) + 1
        return rows


def write_ssf(
    df: DataFrame, text_col: str, path: str, chunk_bytes: int = 1 << 16
) -> int:
    """One SSF stream per partition under ``path`` (the per-partition
    writer idiom).  Returns the line count.  Lines must not contain
    newlines (they are the record delimiter)."""
    os.makedirs(path, exist_ok=True)

    def _write_part(idx, rows):
        lines = [r[0] for r in rows]
        if lines:
            blob = encode_ssf(
                lines, seed=f"part-{idx}".encode(), chunk_bytes=chunk_bytes
            )
            with open(os.path.join(path, f"part-{idx:05d}.ssf"), "wb") as fh:
                fh.write(blob)
        yield len(lines)

    total = sum(
        df.select(text_col).rdd.mapPartitionsWithIndex(_write_part).collect()
    )
    if total == 0:
        # header-only stream so an empty frame round-trips (the
        # write_avro empty contract: filtered-to-empty is legal)
        with open(os.path.join(path, "part-00000.ssf"), "wb") as fh:
            fh.write(encode_ssf([], seed=b"part-empty"))
    return total


def read_ssf_lines(
    spark: SparkSession, path: str, split_bytes: int = 32 << 20
) -> DataFrame:
    """SSF streams → DataFrame(uncomp_offset long, line string), one
    task per compressed byte range: the splittable-compressed-text
    read the reference built SimpleSeekableFormat for."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, "*.ssf")))
    if not files:
        raise ValueError(f"no .ssf files under {path}")
    splits = byte_range_splits(files, split_bytes)
    rdd = spark.sparkContext.parallelize(splits, len(splits)).flatMap(
        lambda t: _decode_file_range(t[0], t[1], t[2])
    )
    return spark.createDataFrame(rdd, "uncomp_offset long, line string")


def ssf_meta(path: str) -> dict:
    """Stream inventory from chunk HEADERS only (no inflation): chunk
    count, compressed/uncompressed byte totals per file."""
    import glob as _glob

    out = {"files": 0, "chunks": 0, "uncompressed": 0, "compressed": 0}
    for f in sorted(_glob.glob(os.path.join(path, "*.ssf"))):
        out["files"] += 1
        with open(f, "rb") as fh:
            sync = _read_header(fh)
            for _, ulen, clen, _ in _iter_chunks(
                fh, sync, inflate_from=math.inf
            ):
                out["chunks"] += 1
                out["uncompressed"] += ulen
                out["compressed"] += clen
    return out
