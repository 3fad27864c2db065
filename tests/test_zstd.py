"""zstd decode (operators/lzcodecs.zstd_decompress over pyarrow's
libzstd): CLI-produced frames, multi-frame + skippable layouts, the
max_bytes bound, the dictionary capability tier, typed malformed
errors and content-checksum verification."""

import random
import shutil
import struct
import subprocess

import pyarrow as pa
import pytest

from geist_spark.operators.lzcodecs import zstd_decompress

HAVE_CLI = shutil.which("zstd") is not None

# `zstd -q -c` of b"payload with checksum": one raw block plus the
# XXH64 content checksum the CLI writes by default
CHECKSUMMED = bytes.fromhex(
    "28b52ffd2415a900007061796c6f6164207769746820636865636b73756d"
    "873afd21"
)


def _doc(seed: int, n: int) -> bytes:
    rng = random.Random(seed)
    words = [
        bytes(rng.choices(b"abcdefghij ", k=rng.randrange(2, 12)))
        for _ in range(80)
    ]
    return b"".join(rng.choice(words) for _ in range(n))


def _skippable(payload: bytes, nibble: int = 0) -> bytes:
    return struct.pack("<II", 0x184D2A50 + nibble, len(payload)) + payload


def _zc(data: bytes, level: int = 3) -> bytes:
    return pa.Codec("zstd", level).compress(data, asbytes=True)


@pytest.mark.skipif(not HAVE_CLI, reason="zstd binary not available")
@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_decode_cli_frames(level):
    """Frames from the reference CLI (content checksum on by
    default) at several levels."""
    data = _doc(11, 40000) * 3
    p = subprocess.run(
        ["zstd", "-q", f"-{level}", "-c"], input=data, capture_output=True
    )
    assert p.returncode == 0
    assert zstd_decompress(p.stdout, max_bytes=10**7) == data


@pytest.mark.parametrize(
    "data",
    [b"", b"x", b"ab", b"z" * 100000, bytes(range(256)) * 40],
    ids=["empty", "one", "two", "rle", "cycle"],
)
def test_roundtrip_edges(data):
    """Edge payloads in pyarrow's one-shot frames (single-segment,
    content size in the header) and, where the CLI exists, in its
    streamed frames (window descriptor, no content size)."""
    assert zstd_decompress(_zc(data), max_bytes=10**7) == data
    if HAVE_CLI:
        p = subprocess.run(
            ["zstd", "-q", "-c"], input=data, capture_output=True
        )
        assert zstd_decompress(p.stdout, max_bytes=10**7) == data


def test_multiframe_and_skippable():
    blob = (
        _skippable(b"seek-index")
        + _zc(b"first. ")
        + _skippable(b"ignored-index", 14)
        + _zc(b"second.", 19)
        + _skippable(b"", 15)
    )
    assert zstd_decompress(blob, max_bytes=100) == b"first. second."
    for empty in (b"", _skippable(b"only")):
        with pytest.raises(ValueError, match="no zstd frame"):
            zstd_decompress(empty)


def test_bomb_bounded():
    blob = _zc(b"\x00" * 200000)
    with pytest.raises(ValueError, match="max_bytes=1000"):
        zstd_decompress(blob, max_bytes=1000)
    assert zstd_decompress(blob, max_bytes=200000) == b"\x00" * 200000


def _with_dictionary_id(frame: bytes, did: int) -> bytes:
    """Re-key a real frame's header with a 1-byte Dictionary_ID."""
    fhd = frame[4]
    assert fhd & 3 == 0
    hdr = 5 if fhd & 0x20 else 6  # single-segment: no window byte
    return (frame[:4] + bytes([fhd | 1]) + frame[5:hdr] + bytes([did])
            + frame[hdr:])


def test_dictionary_is_capability_limit():
    # frame header with Dictionary_ID_flag=1, single-segment, FCS 1B
    blob = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 0x07, 0x00])
    with pytest.raises(NotImplementedError, match="Dictionary_ID=7"):
        zstd_decompress(blob, max_bytes=100)
    keyed = _with_dictionary_id(_zc(b"dictionary keyed text " * 20), 9)
    with pytest.raises(NotImplementedError, match="[Dd]ictionary"):
        zstd_decompress(_skippable(b"x") + keyed)
    # a dictionary frame after a plain one: only libzstd sees it
    with pytest.raises(NotImplementedError, match="[Dd]ictionary"):
        zstd_decompress(_zc(b"plain first") + keyed)


def test_malformed_is_typed():
    base = _zc(_doc(3, 5000))
    rng = random.Random(0)
    for _ in range(200):
        b = bytearray(base)
        mode = rng.randrange(3)
        if mode == 0:
            b = b[: rng.randrange(1, len(b))]
        elif mode == 1:
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        else:
            for _ in range(6):
                b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            zstd_decompress(bytes(b), max_bytes=10**6)
        except (ValueError, NotImplementedError):
            pass  # the only permitted failure modes
    with pytest.raises(ValueError, match="malformed zstd"):
        zstd_decompress(b"\x28\xb5\x2f\xfd fake-zstd")
    with pytest.raises(ValueError, match="malformed zstd"):
        zstd_decompress(_zc(b"ok") + b"trailing garbage")


def test_checksum_detects_corruption():
    assert zstd_decompress(CHECKSUMMED) == b"payload with checksum"
    for at in (12, -2):  # a literal byte, then the checksum itself
        blob = bytearray(CHECKSUMMED)
        blob[at] ^= 0x01
        with pytest.raises(ValueError, match="checksum"):
            zstd_decompress(bytes(blob), max_bytes=10**6)
