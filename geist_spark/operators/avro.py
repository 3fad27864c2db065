"""Avro Object Container File reader (Avro 1.11 spec) with a paired
writer.

Avro container files are the lingua franca of data-lake ingestion
(Kafka archives, Sqoop/CDC dumps, event exports); reading them needs
no external jar here — this is a from-scratch binary decoder: header
metadata map, sync-marker framing, zigzag-varint primitives, records /
enums / arrays / maps / unions / fixed, and the standard block codecs
(null, deflate via raw zlib; snappy with its 4-byte big-endian CRC32
suffix, zstandard, and bzip2/xz through operators/lzcodecs.py — the
pyarrow-native Snappy/zstd decoders and the bounded stdlib bz2/lzma
stream walk).

Decoded datums surface as deterministic JSON strings (compact
separators, schema field order, bytes/fixed as base64, unions
unwrapped) so the operator stays schema-agnostic — downstream
`from_json` applies typing per pipeline. Two-tier errors
(operators/records.py): a malformed container or datum (bad magic,
sync mismatch, varint overrun, snappy CRC mismatch) always raises;
an unknown codec is the capability limit. All decompression BOUNDED
by max_bytes.

Scale: the decoder family's one Arrow stage over (file_id, payload),
row fan-out inside the batch — the warc_parse shape; at 100 TB the
file listing is the input table and block decode parallelizes per
file.

Reference parity: n/a — zpiroux/geist is JSON-event only
(/root/reference/README.md:566); Avro ingestion is extension surface.
"""

from __future__ import annotations

import base64
import bz2
import json
import lzma
import struct
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame

from geist_spark.operators import lzcodecs
from geist_spark.operators.records import payload_stage, to_json

AVRO_MAGIC = b"Obj\x01"

AVRO_RECORDS_SCHEMA = "file_id long, row_idx int, record_json string"
AVRO_INFO_SCHEMA = (
    "file_id long, schema_json string, codec string, n_blocks int, "
    "n_rows long"
)


def _err(msg: str) -> ValueError:
    return ValueError(f"malformed Avro container: {msg}")


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise _err("payload truncated")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def long(self) -> int:
        """Zigzag varint (Avro int and long share the encoding)."""
        val = 0
        shift = 0
        while True:
            if self.pos >= len(self.data):
                raise _err("varint truncated")
            byte = self.data[self.pos]
            self.pos += 1
            val |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
            if shift > 63:
                raise _err("varint longer than 64 bits")
        return (val >> 1) ^ -(val & 1)

    def eof(self) -> bool:
        return self.pos >= len(self.data)


def _decode_datum(r: _Reader, schema, names: dict):
    """One datum per the (parsed-JSON) schema; returns plain Python
    values (bytes/fixed as base64 str — the documented dialect)."""
    if isinstance(schema, str):
        if schema in names:
            return _decode_datum(r, names[schema], names)
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            flag = r.take(1)[0]
            if flag > 1:
                raise _err("boolean byte out of range")
            return bool(flag)
        if t in ("int", "long"):
            return r.long()
        if t == "float":
            return struct.unpack("<f", r.take(4))[0]
        if t == "double":
            return struct.unpack("<d", r.take(8))[0]
        if t == "bytes":
            n = r.long()
            if n < 0:
                raise _err("negative bytes length")
            return base64.b64encode(r.take(n)).decode()
        if t == "string":
            n = r.long()
            if n < 0:
                raise _err("negative string length")
            try:
                return r.take(n).decode("utf-8")
            except UnicodeDecodeError:
                raise _err("string is not valid utf-8") from None
        raise _err(f"unknown schema type {t!r}")
    if isinstance(schema, list):  # union: long index then value
        idx = r.long()
        if not 0 <= idx < len(schema):
            raise _err("union index out of range")
        return _decode_datum(r, schema[idx], names)
    t = schema["type"]
    if t == "record":
        out = {}
        for f in schema["fields"]:
            out[f["name"]] = _decode_datum(r, f["type"], names)
        return out
    if t == "enum":
        idx = r.long()
        syms = schema["symbols"]
        if not 0 <= idx < len(syms):
            raise _err("enum index out of range")
        return syms[idx]
    if t == "array":
        out = []
        while True:
            count = r.long()
            if count == 0:
                break
            if count < 0:
                count = -count
                r.long()  # block byte size, unused when streaming
            for _ in range(count):
                out.append(_decode_datum(r, schema["items"], names))
            if len(out) > 10_000_000:
                raise _err("array block count bomb")
        return out
    if t == "map":
        out = {}
        while True:
            count = r.long()
            if count == 0:
                break
            if count < 0:
                count = -count
                r.long()
            for _ in range(count):
                k = _decode_datum(r, "string", names)
                out[k] = _decode_datum(r, schema["values"], names)
            if len(out) > 10_000_000:
                raise _err("map block count bomb")
        return out
    if t == "fixed":
        return base64.b64encode(r.take(schema["size"])).decode()
    # named-type reference carried as {"type": "<name>"}
    return _decode_datum(r, t, names)


def _collect_names(schema, names: dict):
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed") and "name" in schema:
            names[schema["name"]] = schema
        if t == "record":
            for f in schema.get("fields", ()):
                _collect_names(f.get("type"), names)
        elif t == "array":
            _collect_names(schema.get("items"), names)
        elif t == "map":
            _collect_names(schema.get("values"), names)
    elif isinstance(schema, list):
        for s in schema:
            _collect_names(s, names)


def _decompress_block(codec: str, block: bytes, max_bytes: int) -> bytes:
    if codec in ("null", ""):
        return block
    if codec == "deflate":
        d = zlib.decompressobj(wbits=-15)
        try:
            out = d.decompress(block, max_bytes + 1)
        except zlib.error as exc:
            raise _err(f"deflate block: {exc}") from None
        if len(out) > max_bytes or not d.eof:
            raise _err("deflate block exceeds max_bytes or truncated")
        return out
    if codec == "snappy":
        if len(block) < 4:
            raise _err("snappy block missing CRC32 suffix")
        out = lzcodecs.snappy_decompress(block[:-4], max_bytes)
        want = struct.unpack(">I", block[-4:])[0]
        if zlib.crc32(out) & 0xFFFFFFFF != want:
            raise _err("snappy block CRC32 mismatch")
        return out
    if codec == "zstandard":
        return lzcodecs.zstd_decompress(block, max_bytes=max_bytes)
    if codec in ("bzip2", "xz"):
        return lzcodecs.inflate_bx(
            block, "bz2" if codec == "bzip2" else "xz", max_bytes
        )
    raise NotImplementedError(
        f"Avro codec {codec!r} unsupported (null/deflate/snappy/"
        "zstandard/bzip2/xz are implemented)"
    )


def _container(b: bytes, max_bytes: int):
    """Parse one container: returns (schema_json, codec, blocks) with
    blocks = list of (n_rows, decompressed bytes)."""
    if b[:4] != AVRO_MAGIC:
        raise _err("missing Obj\\x01 magic")
    r = _Reader(b, 4)
    meta = {}
    while True:
        count = r.long()
        if count == 0:
            break
        if count < 0:
            count = -count
            r.long()
        for _ in range(count):
            klen = r.long()
            k = r.take(klen).decode("utf-8", "replace")
            vlen = r.long()
            meta[k] = r.take(vlen)
        if len(meta) > 10000:
            raise _err("metadata map bomb")
    sync = r.take(16)
    schema_raw = meta.get("avro.schema")
    if schema_raw is None:
        raise _err("header has no avro.schema")
    codec = meta.get("avro.codec", b"null").decode("utf-8", "replace")
    blocks = []
    budget = max_bytes
    while not r.eof():
        n_rows = r.long()
        n_bytes = r.long()
        if n_rows < 0 or n_bytes < 0:
            raise _err("negative block header")
        payload = r.take(n_bytes)
        if r.take(16) != sync:
            raise _err("sync marker mismatch")
        data = _decompress_block(codec, payload, budget)
        budget -= len(data)
        if budget < 0:
            raise _err("decompressed blocks exceed max_bytes")
        blocks.append((n_rows, data))
    return schema_raw.decode("utf-8"), codec, blocks


def _records_of(b: bytes, max_bytes: int):
    schema_json, codec, blocks = _container(b, max_bytes)
    try:
        schema = json.loads(schema_json)
    except json.JSONDecodeError as exc:
        raise _err(f"schema is not valid JSON: {exc}") from None
    names: dict = {}
    _collect_names(schema, names)
    for n_rows, data in blocks:
        r = _Reader(data)
        for _ in range(n_rows):
            yield _decode_datum(r, schema, names)
        if not r.eof():
            raise _err("block has trailing bytes after its rows")


def avro_records(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    max_bytes: int = 256 * 1024 * 1024,
    on_unsupported: str = "error",
) -> DataFrame:
    """Avro container -> one row per datum: (file_id, row_idx 0-based,
    record_json). JSON dialect: compact separators, schema field
    order, bytes/fixed base64, unions unwrapped, non-ASCII kept raw."""
    return payload_stage(
        files,
        lambda b: [
            (i, to_json(r)) for i, r in enumerate(_records_of(b, max_bytes))
        ],
        AVRO_RECORDS_SCHEMA, on_unsupported, in_col=payload_col,
        id_col=id_col, null_row=False,
    )


def avro_info(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    max_bytes: int = 256 * 1024 * 1024,
    on_unsupported: str = "error",
) -> DataFrame:
    """Container-grain census: schema JSON, codec, block/row counts."""

    def decode(b: bytes) -> list:
        schema_json, codec, blocks = _container(b, max_bytes)
        return [(schema_json, codec, len(blocks), sum(n for n, _ in blocks))]

    return payload_stage(
        files, decode, AVRO_INFO_SCHEMA, on_unsupported, in_col=payload_col,
        id_col=id_col, null_row=False,
    )


# ---------------------------------------------------------------------------
# Paired writer


def _zigzag(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63)
    out = bytearray()
    while True:
        byte = u & 0x7F
        u >>= 7
        if u:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def _encode_datum(schema, value, names: dict) -> bytes:
    if isinstance(schema, str):
        if schema in names:
            return _encode_datum(names[schema], value, names)
        t = schema
        if t == "null":
            return b""
        if t == "boolean":
            return bytes([1 if value else 0])
        if t in ("int", "long"):
            return _zigzag(int(value))
        if t == "float":
            return struct.pack("<f", value)
        if t == "double":
            return struct.pack("<d", value)
        if t == "bytes":
            raw = value if isinstance(value, bytes) else base64.b64decode(value)
            return _zigzag(len(raw)) + raw
        if t == "string":
            raw = value.encode("utf-8")
            return _zigzag(len(raw)) + raw
        raise AssertionError(f"writer: unknown type {t}")
    if isinstance(schema, list):
        for idx, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is None and bt == "null":
                return _zigzag(idx)
            if value is not None and bt != "null":
                return _zigzag(idx) + _encode_datum(branch, value, names)
        raise AssertionError("writer: no union branch matches value")
    t = schema["type"]
    if t == "record":
        return b"".join(
            _encode_datum(f["type"], value[f["name"]], names)
            for f in schema["fields"]
        )
    if t == "enum":
        return _zigzag(schema["symbols"].index(value))
    if t == "array":
        if not value:
            return _zigzag(0)
        body = b"".join(
            _encode_datum(schema["items"], v, names) for v in value
        )
        return _zigzag(len(value)) + body + _zigzag(0)
    if t == "map":
        if not value:
            return _zigzag(0)
        body = b""
        for k, v in value.items():
            kb = k.encode("utf-8")
            body += _zigzag(len(kb)) + kb
            body += _encode_datum(schema["values"], v, names)
        return _zigzag(len(value)) + body + _zigzag(0)
    if t == "fixed":
        raw = value if isinstance(value, bytes) else base64.b64decode(value)
        if len(raw) != schema["size"]:
            raise AssertionError("writer: fixed size mismatch")
        return raw
    return _encode_datum(t, value, names)


def avro_build(
    schema: dict,
    records: list,
    codec: str = "null",
    sync: bytes = b"\x00\x01\x02\x03\x04\x05\x06\x07"
    b"\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f",
    rows_per_block: int = 1000,
) -> bytes:
    """Paired container writer (null/deflate/snappy/zstandard/bzip2/
    xz codecs); self-checked through the reader."""
    names: dict = {}
    _collect_names(schema, names)
    out = bytearray(AVRO_MAGIC)
    schema_b = json.dumps(schema, separators=(",", ":")).encode()
    meta = [("avro.schema", schema_b), ("avro.codec", codec.encode())]
    out += _zigzag(len(meta))
    for k, v in meta:
        kb = k.encode()
        out += _zigzag(len(kb)) + kb + _zigzag(len(v)) + v
    out += _zigzag(0)
    out += sync
    for off in range(0, max(len(records), 1), rows_per_block):
        chunk = records[off : off + rows_per_block]
        if not chunk:
            break
        body = b"".join(_encode_datum(schema, r, names) for r in chunk)
        if codec == "deflate":
            comp = zlib.compress(body)[2:-4]  # raw deflate
        elif codec == "snappy":
            comp = pa.compress(
                body, codec="snappy", asbytes=True
            ) + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        elif codec == "zstandard":
            comp = pa.compress(body, codec="zstd", asbytes=True)
        elif codec == "bzip2":
            comp = bz2.compress(body)
        elif codec == "xz":
            comp = lzma.compress(body)
        else:
            comp = body
        out += _zigzag(len(chunk)) + _zigzag(len(comp)) + comp + sync
    blob = bytes(out)
    got = list(_records_of(blob, max_bytes=1 << 30))
    if len(got) != len(records):
        raise AssertionError("paired Avro writer self-check failed")
    return blob
