"""Apple plist operator (operators/plistfile.py)."""

import json
import plistlib

import pytest

from geist_spark.operators.plistfile import plist_parse, plist_records

D = {"name": "x", "n": 3, "ok": True, "data": b"\x00\xff",
     "arr": [1, "two"]}


@pytest.mark.parametrize("fmt", [plistlib.FMT_XML, plistlib.FMT_BINARY])
def test_both_forms(fmt):
    got = plist_parse(plistlib.dumps(D, fmt=fmt))
    assert got == {"name": "x", "n": 3, "ok": True, "data": "AP8=",
                   "arr": [1, "two"]}


def test_tiers():
    with pytest.raises(ValueError, match="malformed plist"):
        plist_parse(b"bplist00garbage")
    with pytest.raises(NotImplementedError, match="neither"):
        plist_parse(b"\x89PNG\r\n\x1a\n")


def test_spark_surface(spark):
    rows = plist_records(
        spark.createDataFrame(
            [(1, plistlib.dumps(D, fmt=plistlib.FMT_BINARY)), (2, None)],
            "file_id long, payload binary",
        )
    ).collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["record_json"])["data"] == "AP8="


def test_spark_surface_limit_policy(spark):
    files = spark.createDataFrame(
        [(1, plistlib.dumps(D, fmt=plistlib.FMT_XML)),
         (2, b"\x89PNG\r\n\x1a\n")],
        "file_id long, payload binary",
    )
    rows = plist_records(files, on_unsupported="null").collect()
    assert [r["file_id"] for r in rows] == [1]
    with pytest.raises(Exception, match="file_id=2: payload is neither"):
        plist_records(files).collect()
