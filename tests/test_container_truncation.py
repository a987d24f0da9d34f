"""Truncation sweep over the sync-framed container readers (no Spark
session): every cut of a SequenceFile, Avro OCF or seekable stream,
through its whole-file reader and its range or lookup reader, must
decode to an exact prefix of the full decode or raise ValueError —
never a shortened record, and never IndexError, struct.error,
zlib.error or EOFError."""

from __future__ import annotations

import hashlib
import json
import re
import struct

import pytest

from hadoop_20_warehouse_spark.sources import avro, seekable
from hadoop_20_warehouse_spark.sources.mapfile import mapfile_get_many
from hadoop_20_warehouse_spark.sources.seqfile import (
    WRITABLE_DECODERS,
    WRITABLE_ENCODERS,
    encode_sequence_file,
    parse_sequence_file,
)
from hadoop_20_warehouse_spark.sources.splitscan import byte_range_splits

TEXT = "org.apache.hadoop.io.Text"
_enc, _dec = WRITABLE_ENCODERS[TEXT], WRITABLE_DECODERS[TEXT][1]


def _sweep(blob: bytes, tmp_path, name: str, readers: list, full: list) -> None:
    """Every cut point of ``blob`` through every reader, called with
    (cut bytes, path of a file holding them): each returns a prefix of
    ``full`` or raises ValueError; the uncut file returns ``full``."""
    path = tmp_path / name
    for cut in range(len(blob) + 1):
        path.write_bytes(blob[:cut])
        for read in readers:
            try:
                got = read(blob[:cut], str(path))
            except ValueError:
                continue
            assert got == full[: len(got)], (read.__name__, cut)
    for read in readers:
        assert read(blob, str(path)) == full, read.__name__


@pytest.mark.parametrize(
    "compression,ctype",
    [(None, "record"), ("default", "record"), ("default", "block")],
)
def test_sequence_file_truncation(tmp_path, compression, ctype):
    """Whole-file parse and MapFile lookups over every cut of a
    SequenceFile with a sync escape (plain, record-compressed) or
    several blocks (block-compressed).  The lookup's index keeps the
    entries before the cut, so its last window walks into the tear."""
    pairs = [
        (_enc(f"k{i:03d}"), _enc(hashlib.md5(bytes([i])).hexdigest() + "x" * (i % 9)))
        for i in range(48)
    ]
    kw = dict(compression=compression, compress_type=ctype, sync_seed=b"sweep")
    escape = struct.pack(">i", -1) + hashlib.md5(b"sweep").digest()
    if ctype == "block":
        blob = encode_sequence_file(iter(pairs), TEXT, TEXT, block_bytes=400, **kw)
        # index every block start (block mode's positions are
        # block-aligned) with the block's first key
        starts = [m.start() for m in re.finditer(re.escape(escape), blob)]
        assert len(starts) > 3
        index = [
            (p, next(parse_sequence_file(blob[: starts[0]] + blob[p:])[2])[0])
            for p in starts
        ]
    else:
        blob, positions = encode_sequence_file(
            iter(pairs), TEXT, TEXT, record_positions=True, **kw
        )
        assert escape in blob
        index = [(positions[i], pairs[i][0]) for i in range(0, len(pairs), 8)]
    full = [(_dec(k, 0)[0], _dec(v, 0)[0]) for k, v in pairs]
    keys = [k for k, _ in full]

    def whole(cut, _path):
        return [(_dec(k, 0)[0], _dec(v, 0)[0]) for k, v in parse_sequence_file(cut)[2]]

    def lookup(cut, _path):
        kept = [(p, _dec(k, 0)[0]) for p, k in index if p < len(cut)]
        got = mapfile_get_many(
            str(tmp_path),
            keys,
            max_scan_bytes=256,
            index=(TEXT, [k for _, k in kept], [p for p, _ in kept]),
        )
        return sorted(got.items())

    _sweep(blob, tmp_path, "data", [whole, lookup], full)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_truncation(tmp_path, codec):
    """Whole-file decode and block-split reads over every cut of an
    Avro OCF with several blocks."""
    sj = json.dumps(
        {
            "type": "record",
            "name": "Record",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "s", "type": ["null", "string"]},
            ],
        }
    )
    full = [(i * 7919, None if i % 5 == 0 else f"s{i}" * (i % 4)) for i in range(60)]
    blob = avro.encode_avro_file(iter(full), sj, codec=codec, block_records=8)

    def whole(cut, _path):
        return avro.decode_avro_file(cut)[1]

    def splits(_cut, path):
        return [
            row
            for f, start, end in byte_range_splits([path], 96)
            for row in avro._decode_file_range(f, start, end, sj)
        ]

    _sweep(blob, tmp_path, "part-00000.avro", [whole, splits], full)


def test_ssf_truncation(tmp_path):
    """Whole-stream decode, compressed-range splits and an
    uncompressed-offset seek (which skips the payloads before it) over
    every cut of a seekable stream of several chunks."""
    lines = [f"line {i} " + "y" * (i % 13) for i in range(120)]
    blob = seekable.encode_ssf(lines, chunk_bytes=256)
    text = "".join(line + "\n" for line in lines).encode()
    offset = len(text) // 2
    full = list(text)

    def whole(cut, _path):
        return list("".join(s + "\n" for s in seekable.decode_ssf(cut)).encode())

    def splits(_cut, path):
        rows = [
            row
            for f, start, end in byte_range_splits([path], 64)
            for row in seekable._decode_file_range(f, start, end)
        ]
        assert all(text.startswith(line.encode(), off) for off, line in rows)
        return list("".join(line + "\n" for _, line in rows).encode())

    def seek(_cut, path):
        tail = seekable.seek_uncompressed(path, offset)
        return full[:offset] + list(tail) if tail else []

    _sweep(blob, tmp_path, "part-00000.ssf", [whole, splits, seek], full)
