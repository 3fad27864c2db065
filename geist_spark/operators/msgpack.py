"""MessagePack decode with a paired encoder (schema-less event
payload inspection, the pbwire.py sibling).

MessagePack is the other common compact wire format in event archives
and API logs. Decode renders the deterministic JSON-value dialect the
repo's record readers share: bins as base64, ext types as
{"_ext": type, "data": base64}, non-string map keys stringified via
their compact-JSON rendering, strict UTF-8 strings. Bombs are bounded
by an element-count budget and a 32-deep nesting cap; ValueError =
malformed (reserved type bytes, truncation, trailing bytes) — there
is no capability tier (the full format decodes).

The paired encoder emits canonical minimal encodings and backs the
oracle fixtures. The DataFrame surface is the shared records stage
(operators/records.py). Reference parity: n/a (geist is JSON-only).
"""

from __future__ import annotations

import base64
import json
import struct

from pyspark.sql import DataFrame

from geist_spark.operators.records import records_stage


def _err(msg):
    return ValueError(f"malformed msgpack payload: {msg}")


def _decode(b, pos, depth, budget):
    if depth > 32:
        raise _err("nesting deeper than 32")
    if budget[0] <= 0:
        raise _err("element-count bomb")
    budget[0] -= 1
    if pos >= len(b):
        raise _err("truncated value")
    t = b[pos]
    pos += 1
    if t <= 0x7F:
        return t, pos
    if t >= 0xE0:
        return t - 256, pos
    if 0x80 <= t <= 0x8F:
        return _map(b, pos, t & 0xF, depth, budget)
    if 0x90 <= t <= 0x9F:
        return _arr(b, pos, t & 0xF, depth, budget)
    if 0xA0 <= t <= 0xBF:
        return _str(b, pos, t & 0x1F)
    if t == 0xC0:
        return None, pos
    if t == 0xC2:
        return False, pos
    if t == 0xC3:
        return True, pos
    if t in (0xC4, 0xC5, 0xC6):
        n, pos = _len(b, pos, 1 << (t - 0xC4))
        return _bin(b, pos, n)
    if t == 0xCA:
        _need(b, pos, 4)
        return struct.unpack_from(">f", b, pos)[0], pos + 4
    if t == 0xCB:
        _need(b, pos, 8)
        return struct.unpack_from(">d", b, pos)[0], pos + 8
    if 0xCC <= t <= 0xCF:
        n = 1 << (t - 0xCC)
        _need(b, pos, n)
        return int.from_bytes(b[pos:pos+n], "big"), pos + n
    if 0xD0 <= t <= 0xD3:
        n = 1 << (t - 0xD0)
        _need(b, pos, n)
        return int.from_bytes(b[pos:pos+n], "big", signed=True), pos + n
    if 0xD4 <= t <= 0xD8:  # fixext 1/2/4/8/16
        n = 1 << (t - 0xD4)
        _need(b, pos, 1 + n)
        et = b[pos]
        data = b[pos+1:pos+1+n]
        return {"_ext": et if et < 128 else et - 256,
                "data": base64.b64encode(data).decode()}, pos + 1 + n
    if t in (0xD9, 0xDA, 0xDB):
        n, pos = _len(b, pos, 1 << (t - 0xD9))
        return _str(b, pos, n)
    if t in (0xDC, 0xDD):
        n, pos = _len(b, pos, 2 if t == 0xDC else 4)
        return _arr(b, pos, n, depth, budget)
    if t in (0xDE, 0xDF):
        n, pos = _len(b, pos, 2 if t == 0xDE else 4)
        return _map(b, pos, n, depth, budget)
    if t in (0xC7, 0xC8, 0xC9):  # ext 8/16/32
        n, pos = _len(b, pos, 1 << (t - 0xC7))
        _need(b, pos, 1 + n)
        et = b[pos]
        data = b[pos+1:pos+1+n]
        return {"_ext": et if et < 128 else et - 256,
                "data": base64.b64encode(data).decode()}, pos + 1 + n
    raise _err(f"reserved type byte 0x{t:02x}")


def _need(b, pos, n):
    if pos + n > len(b):
        raise _err("truncated value body")


def _len(b, pos, nbytes):
    _need(b, pos, nbytes)
    return int.from_bytes(b[pos:pos+nbytes], "big"), pos + nbytes


def _str(b, pos, n):
    _need(b, pos, n)
    try:
        return b[pos:pos+n].decode("utf-8", "strict"), pos + n
    except UnicodeDecodeError:
        raise _err("str is not valid utf-8") from None


def _bin(b, pos, n):
    _need(b, pos, n)
    return base64.b64encode(b[pos:pos+n]).decode(), pos + n


def _arr(b, pos, n, depth, budget):
    out = []
    for _ in range(n):
        v, pos = _decode(b, pos, depth + 1, budget)
        out.append(v)
    return out, pos


def _map(b, pos, n, depth, budget):
    import json
    out = {}
    for _ in range(n):
        k, pos = _decode(b, pos, depth + 1, budget)
        if not isinstance(k, str):
            k = json.dumps(k, separators=(",", ":"), ensure_ascii=False)
        v, pos = _decode(b, pos, depth + 1, budget)
        out[k] = v
    return out, pos


def mp_decode(b, max_elements=1_000_000):
    budget = [max_elements]
    v, pos = _decode(bytes(b), 0, 0, budget)
    if pos != len(b):
        raise _err("trailing bytes after the value")
    return v


def mp_encode(v):
    if v is None:
        return b"\xc0"
    if v is True:
        return b"\xc3"
    if v is False:
        return b"\xc2"
    if isinstance(v, int):
        if 0 <= v <= 0x7F:
            return bytes([v])
        if -32 <= v < 0:
            return bytes([v & 0xFF])
        if v >= 0:
            for code, n in ((0xCC, 1), (0xCD, 2), (0xCE, 4), (0xCF, 8)):
                if v < 1 << (8 * n):
                    return bytes([code]) + v.to_bytes(n, "big")
            raise AssertionError("int too wide")
        for code, n in ((0xD0, 1), (0xD1, 2), (0xD2, 4), (0xD3, 8)):
            if -(1 << (8 * n - 1)) <= v:
                return bytes([code]) + v.to_bytes(n, "big", signed=True)
        raise AssertionError("int too narrow")
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        raw = v.encode("utf-8")
        n = len(raw)
        if n <= 31:
            return bytes([0xA0 | n]) + raw
        for code, w in ((0xD9, 1), (0xDA, 2), (0xDB, 4)):
            if n < 1 << (8 * w):
                return bytes([code]) + n.to_bytes(w, "big") + raw
    if isinstance(v, bytes):
        n = len(v)
        for code, w in ((0xC4, 1), (0xC5, 2), (0xC6, 4)):
            if n < 1 << (8 * w):
                return bytes([code]) + n.to_bytes(w, "big") + v
    if isinstance(v, list):
        n = len(v)
        if n <= 15:
            head = bytes([0x90 | n])
        elif n < 1 << 16:
            head = b"\xdc" + n.to_bytes(2, "big")
        else:
            head = b"\xdd" + n.to_bytes(4, "big")
        return head + b"".join(mp_encode(x) for x in v)
    if isinstance(v, dict):
        n = len(v)
        if n <= 15:
            head = bytes([0x80 | n])
        elif n < 1 << 16:
            head = b"\xde" + n.to_bytes(2, "big")
        else:
            head = b"\xdf" + n.to_bytes(4, "big")
        return head + b"".join(
            mp_encode(k) + mp_encode(val) for k, val in v.items()
        )
    raise AssertionError(f"unencodable {type(v)}")


def mp_decode_records(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    max_elements: int = 1_000_000,
) -> DataFrame:
    """(id, payload) -> (file_id, record_json) compact JSON."""
    return records_stage(
        files, lambda b: mp_decode(bytes(b), max_elements), payload_col,
        id_col,
    )
