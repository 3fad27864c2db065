"""Apple property-list parsing (XML and binary plists).

plist payloads ride along in macOS/iOS app-data dumps and some
crawl corpora; Python's stdlib `plistlib` reads both the XML and the
bplist00 binary forms, so the operator is the shared-JSON-dialect
rendering: bytes as base64, datetimes as ISO-8601, dict insertion
order preserved. plistlib errors map to the malformed ValueError
tier; payloads that are neither XML-plist-shaped nor bplist00 are a
CAPABILITY limit.

The DataFrame surface is the shared records stage (operators/
records.py). Reference parity: n/a (geist is JSON-only).
"""

from __future__ import annotations

import base64
import datetime
import plistlib

from pyspark.sql import DataFrame

from geist_spark.operators.records import records_stage


def _jsonable(v):
    if isinstance(v, dict):
        return {str(k): _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, bytes):
        return base64.b64encode(v).decode()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def plist_parse(b: bytes):
    """One plist payload -> JSON-ready value."""
    head = bytes(b[:8])
    if head != b"bplist00" and not head.lstrip()[:1] in (b"<", b""):
        raise NotImplementedError(
            "payload is neither an XML plist nor bplist00"
        )
    try:
        return _jsonable(plistlib.loads(bytes(b)))
    except Exception as exc:  # plistlib raises a mixed bag
        if isinstance(exc, NotImplementedError):
            raise
        raise ValueError(f"malformed plist: {exc}") from None


def plist_records(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    on_unsupported: str = "error",
) -> DataFrame:
    """(id, plist bytes) -> (file_id, record_json) compact JSON."""
    return records_stage(
        files, lambda b: plist_parse(bytes(b)), payload_col, id_col,
        on_unsupported,
    )
