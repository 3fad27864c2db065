"""Avro container reader (operators/avro.py): all codecs, full type
surface, JSON dialect, malformed tiers, Spark surface."""

import bz2
import json
import lzma
import struct
import tracemalloc

import pytest

from geist_spark.operators.avro import (
    _records_of,
    _zigzag,
    avro_build,
    avro_info,
    avro_records,
)

SCHEMA = {
    "type": "record", "name": "T", "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "boolean"},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "u", "type": ["null", "long"]},
        {"name": "e", "type": {"type": "enum", "name": "E",
                               "symbols": ["X", "Y"]}},
        {"name": "by", "type": "bytes"},
        {"name": "fx", "type": {"type": "fixed", "name": "F2",
                                "size": 2}},
        {"name": "d", "type": "double"},
    ],
}
RECS = [
    {"id": -1, "s": "héllo", "b": True, "arr": [1, -2, 3],
     "m": {"k": "v"}, "u": None, "e": "Y", "by": b"\x00\xff",
     "fx": b"ab", "d": 2.5},
    {"id": 1 << 40, "s": "", "b": False, "arr": [], "m": {},
     "u": -99, "e": "X", "by": b"", "fx": b"cd", "d": -0.5},
]


@pytest.mark.parametrize(
    "codec", ["null", "deflate", "snappy", "zstandard", "bzip2", "xz"]
)
def test_codec_roundtrip(codec):
    blob = avro_build(SCHEMA, RECS, codec=codec)
    got = list(_records_of(blob, 1 << 26))
    assert got[0]["id"] == -1 and got[0]["arr"] == [1, -2, 3]
    assert got[0]["by"] == "AP8="  # bytes surface as base64
    assert got[1]["u"] == -99 and got[1]["id"] == 1 << 40
    assert got[0]["d"] == 2.5


def test_multiblock_and_named_type_reuse():
    schema = {
        "type": "record", "name": "R", "fields": [
            {"name": "a", "type": {"type": "fixed", "name": "F1",
                                   "size": 1}},
            {"name": "b", "type": "F1"},  # named-type reference
        ],
    }
    recs = [{"a": bytes([i % 256]), "b": b"\x07"} for i in range(25)]
    blob = avro_build(schema, recs, codec="deflate", rows_per_block=7)
    got = list(_records_of(blob, 1 << 20))
    assert len(got) == 25 and got[3]["b"] == "Bw=="


def test_malformed_tiers():
    blob = avro_build(SCHEMA, RECS, codec="snappy")
    bad = bytearray(blob)
    bad[-3] ^= 0xFF  # corrupt trailing sync
    with pytest.raises(ValueError, match="sync"):
        list(_records_of(bytes(bad), 1 << 20))
    with pytest.raises(ValueError, match="magic"):
        list(_records_of(b"PK\x03\x04zipnotavro", 1 << 20))
    # unknown codec is the capability tier (patch the metadata value,
    # not the schema's "null" union branch that happens to come first)
    raw = avro_build(SCHEMA, RECS, codec="null")
    at = raw.index(b"avro.codec")
    patched = raw[:at] + raw[at:].replace(b"null", b"brot", 1)
    with pytest.raises(NotImplementedError, match="codec"):
        list(_records_of(patched, 1 << 20))


def test_bomb_bounded():
    recs = [{"id": 1, "s": "x" * 10000, "b": True, "arr": [], "m": {},
             "u": None, "e": "X", "by": b"", "fx": b"ab", "d": 0.0}
            for _ in range(50)]
    blob = avro_build(SCHEMA, recs, codec="deflate")
    with pytest.raises(ValueError, match="max_bytes"):
        list(_records_of(blob, 1000))


@pytest.mark.parametrize("codec", ["bzip2", "xz"])
def test_bz2_xz_bomb_bounded_memory(codec):
    """A 50 MB zero block under max_bytes=1024 raises before it is
    inflated: the decompressor stops at max_bytes + 1 of output."""
    zeros = b"\x00" * 50_000_000
    comp = bz2.compress(zeros) if codec == "bzip2" else lzma.compress(
        zeros, preset=0
    )
    del zeros
    header = avro_build(SCHEMA, [], codec=codec)  # header + sync only
    sync = header[-16:]
    blob = header + _zigzag(1) + _zigzag(len(comp)) + comp + sync
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="max_bytes"):
            list(_records_of(blob, 1024))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 * 1024 * 1024, peak


def test_spark_surface(spark):
    blob = avro_build(SCHEMA, RECS, codec="zstandard")
    df = spark.createDataFrame(
        [(1, blob), (2, None)], "file_id long, payload binary"
    )
    rows = avro_records(df).collect()
    assert len(rows) == 2
    rec = json.loads(
        [r for r in rows if r["row_idx"] == 0][0]["record_json"]
    )
    assert rec["s"] == "héllo" and rec["e"] == "Y"
    info = avro_info(df).collect()
    assert len(info) == 1
    assert info[0]["codec"] == "zstandard" and info[0]["n_rows"] == 2
