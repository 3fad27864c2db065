"""Schema-less protobuf wire-format inspection with a paired writer.

Event archives and Kafka topics carry protobuf payloads whose .proto
is often unavailable at curation time; the wire format alone still
exposes structure (field numbers, nesting, repetition) — what
`protoc --decode_raw` shows. This decodes it Spark-side: varint /
64-bit / length-delimited / 32-bit wire types, nested-message
detection, repeated fields, rendered as deterministic JSON keyed by
field number in first-seen order.

Dialect (documented, oracle-replayable):
- varints render as UNSIGNED ints (zigzag/two's-complement need the
  schema, which is the point of schema-LESS inspection),
- fixed64/fixed32 render as unsigned little-endian ints,
- length-delimited bytes: try a full nested parse first (non-empty,
  every field number in [1, 2^29)); else strict UTF-8 -> string;
  else base64 — protoc's own decode_raw heuristic order,
- repeated occurrences of a field collect into a JSON array,
- deprecated group wire types (3/4) are MALFORMED (ValueError).

The DataFrame surface is the shared records stage (operators/
records.py).
Reference parity: n/a (geist is JSON-only); extension surface.
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame

from geist_spark.operators.records import records_stage


def _err(msg: str) -> ValueError:
    return ValueError(f"malformed protobuf wire payload: {msg}")


def _varint(b: bytes, pos: int):
    val = 0
    shift = 0
    while True:
        if pos >= len(b):
            raise _err("varint truncated")
        byte = b[pos]
        pos += 1
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return val, pos
        shift += 7
        if shift > 63:
            raise _err("varint longer than 64 bits")


def _parse(b: bytes, depth: int = 0):
    """Ordered [(field_no, value), ...] for one message body."""
    if depth > 32:
        raise _err("message nesting deeper than 32")
    out = []
    pos = 0
    n = len(b)
    while pos < n:
        key, pos = _varint(b, pos)
        field = key >> 3
        wire = key & 7
        if field == 0:
            raise _err("field number 0 is illegal")
        if wire == 0:
            val, pos = _varint(b, pos)
        elif wire == 1:
            if pos + 8 > n:
                raise _err("fixed64 truncated")
            val = int.from_bytes(b[pos : pos + 8], "little")
            pos += 8
        elif wire == 5:
            if pos + 4 > n:
                raise _err("fixed32 truncated")
            val = int.from_bytes(b[pos : pos + 4], "little")
            pos += 4
        elif wire == 2:
            ln, pos = _varint(b, pos)
            if pos + ln > n:
                raise _err("length-delimited field truncated")
            chunk = b[pos : pos + ln]
            pos += ln
            val = _decode_bytes(chunk, depth)
        else:
            raise _err(f"wire type {wire} (groups are deprecated)")
        out.append((field, val))
    return out


def _decode_bytes(chunk: bytes, depth: int):
    if chunk:
        try:
            nested = _parse(chunk, depth + 1)
            if nested and all(1 <= f < (1 << 29) for f, _ in nested):
                return _fold(nested)
        except ValueError:
            pass
    try:
        return chunk.decode("utf-8", "strict")
    except UnicodeDecodeError:
        return base64.b64encode(chunk).decode()


def _fold(pairs):
    """Field-number-keyed dict, first-seen order, repeats -> lists.
    Unambiguous because a SINGLE decoded value is never a list (only
    int / str / dict come out of the wire types)."""
    out: dict = {}
    for f, v in pairs:
        k = str(f)
        if k in out:
            if isinstance(out[k], list):
                out[k].append(v)
            else:
                out[k] = [out[k], v]
        else:
            out[k] = v
    return out


def pb_decode(b: bytes) -> dict:
    """One message -> the field-number dict (see module dialect)."""
    return _fold(_parse(bytes(b)))


def pb_decode_records(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
) -> DataFrame:
    """(id, payload) -> (file_id, record_json): schema-less decode of
    one protobuf message per row, rendered as compact JSON."""
    return records_stage(
        files, lambda b: pb_decode(bytes(b)), payload_col, id_col
    )


# ---------------------------------------------------------------------------
# Paired writer


def _w_varint(v: int) -> bytes:
    if v < 0:
        raise AssertionError("writer varints are unsigned")
    out = bytearray()
    while True:
        byte = v & 0x7F
        v >>= 7
        if v:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def pb_build(fields: list) -> bytes:
    """Paired wire writer from explicit (field_no, kind, value) specs:
    kind in varint | i64 | i32 | bytes | str | msg (value = nested
    spec list). Self-checked through the decoder."""
    out = bytearray()
    for field, kind, value in fields:
        if kind == "varint":
            out += _w_varint(field << 3) + _w_varint(value)
        elif kind == "i64":
            out += _w_varint((field << 3) | 1)
            out += int(value).to_bytes(8, "little")
        elif kind == "i32":
            out += _w_varint((field << 3) | 5)
            out += int(value).to_bytes(4, "little")
        elif kind in ("bytes", "str", "msg"):
            body = (
                pb_build(value)
                if kind == "msg"
                else value.encode("utf-8") if kind == "str" else value
            )
            out += _w_varint((field << 3) | 2) + _w_varint(len(body))
            out += body
        else:
            raise AssertionError(f"unknown field kind {kind!r}")
    blob = bytes(out)
    pb_decode(blob)  # must at least parse cleanly
    return blob
