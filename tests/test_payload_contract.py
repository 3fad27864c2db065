"""The decoder family's two-tier contract, for the decoders no other
test runs under on_unsupported='null'.

Per decoder: a NULL payload's row shape, a capability limit that
fails naming `<id_col>=<id>:` under 'error' and takes the null shape
under 'null', and a malformed payload that raises ValueError under
both modes. 1:1 decoders emit one all-NULL row (id kept); fan-out
decoders emit no row."""

import struct

import pytest

from geist_spark.operators import avro, multimodal as mm, sqlitefile

_AVRO_SCHEMA = {
    "type": "record", "name": "R", "fields": [{"name": "id", "type": "long"}],
}


def _avro_brotli() -> bytes:
    raw = avro.avro_build(_AVRO_SCHEMA, [{"id": 1}, {"id": 2}], codec="null")
    at = raw.index(b"avro.codec")
    return raw[:at] + raw[at:].replace(b"null", b"brot", 1)


def _wav_mp3_tag() -> bytes:
    """A RIFF/WAVE whose fmt tag (0x55, MPEG layer 3) is no PCM
    variant: a capability limit, not damage."""
    data = bytes(16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 0x55, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(data)) + data
    )


# name -> (call(df, mode), id_col, null row after the id or None for
# "no row", capability payload, malformed payload, malformed message)
CASES = {
    "avro_records": (
        lambda df, m: avro.avro_records(df, on_unsupported=m),
        "file_id", None, _avro_brotli(), b"PK\x03\x04zipnotavro",
        "missing Obj",
    ),
    "avro_info": (
        lambda df, m: avro.avro_info(df, on_unsupported=m),
        "file_id", None, _avro_brotli(), b"PK\x03\x04zipnotavro",
        "missing Obj",
    ),
    "resize_real": (
        lambda df, m: mm.resize_real(df, 4, 4, on_unsupported=m),
        "media_id", (None,) * 6, b"not an image payload",
        mm._PNG_SIG + b"\x00\x00\x00\x0dIHDR", "truncated PNG chunk",
    ),
    "mkv_probe": (
        lambda df, m: mm.mkv_probe(df, on_unsupported=m),
        "media_id", (None,) * 8, b"not an ebml payload",
        b"\x1a\x45\xdf\xa3\x9f", "malformed EBML",
    ),
    "audio_envelope_fingerprint": (
        # the NULL levels row never reaches the shingle explode
        lambda df, m: mm.audio_envelope_fingerprint(df, on_unsupported=m),
        "media_id", None, _wav_mp3_tag(), b"not a wav payload",
        "not a RIFF/WAVE payload",
    ),
    "image_dhash": (
        lambda df, m: mm.image_dhash(df, on_unsupported=m),
        "media_id", (None, None), b"not an image payload",
        mm._PNG_SIG + b"\x00\x00\x00\x0dIHDR", "truncated PNG chunk",
    ),
    "sqlite_rows": (
        lambda df, m: sqlitefile.sqlite_rows(df, on_unsupported=m),
        "file_id", None, b"not a sqlite database",
        sqlitefile.SQLITE_MAGIC + b"\xff" * 200, "malformed SQLite",
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_two_tier_contract(spark, name):
    call, id_col, null_row, cap, bad, bad_msg = CASES[name]

    def frame(*rows):
        # one task: a failing row's error is the one the job reports
        return spark.createDataFrame(
            list(rows), f"{id_col} long, payload binary"
        ).coalesce(1)

    got = sorted(
        tuple(r) for r in call(frame((2, None), (3, cap)), "null").collect()
    )
    want = [] if null_row is None else [(2, *null_row), (3, *null_row)]
    assert got == want
    with pytest.raises(Exception, match=rf"NotImplementedError: {id_col}=3: "):
        call(frame((3, cap)), "error").collect()
    for mode in ("error", "null"):
        with pytest.raises(Exception, match=rf"ValueError: .*{bad_msg}"):
            call(frame((4, bad)), mode).collect()


def _zip_encrypted_member() -> bytes:
    """A stored a.txt whose central-directory flags say encrypted."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.txt", "plain", compress_type=zipfile.ZIP_STORED)
    raw = bytearray(buf.getvalue())
    cd = raw.index(b"PK\x01\x02")
    raw[cd + 8] |= 0x01
    return bytes(raw)


def test_limits_found_inside_a_payload_take_the_contract(spark):
    """A capability limit met mid-decode gets the same two tiers as
    one met up front: an encrypted member of an otherwise readable
    ZIP (archive_extract_text) and a dictionary zstd WARC transport
    (warc_parse)."""
    from geist_spark.operators.prep import archive_extract_text
    from geist_spark.operators.web import warc_parse

    # zstd frame header: single-segment off, 1-byte Dictionary_ID 7
    dict_zstd = b"\x28\xb5\x2f\xfd" + bytes([0x01, 0x00, 0x07]) + bytes(8)
    cases = (
        (archive_extract_text, _zip_encrypted_member(), []),
        (warc_parse, dict_zstd, [(5, *(None,) * 9)]),
    )
    for call, payload, null_rows in cases:
        df = spark.createDataFrame(
            [(5, payload)], "file_id long, payload binary"
        ).coalesce(1)
        limit = "NotImplementedError: file_id=5: "
        with pytest.raises(Exception, match=limit):
            call(df).collect()
        got = call(df, on_unsupported="null").collect()
        assert [tuple(r) for r in got] == null_rows
