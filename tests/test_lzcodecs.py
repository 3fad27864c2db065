"""LZ4 + Snappy decode (operators/lzcodecs.py over pyarrow's liblz4 and
snappy): linked-block LZ4 frames from pyarrow and the CLIs, checksum
detection, bombs, the dictionary tier, fuzz typing, the CRC-32C check
value and the framed-Snappy CRC."""

import random
import shutil
import struct
import subprocess

import pyarrow as pa
import pytest

from geist_spark.operators.lzcodecs import (
    crc32c,
    lz4_decompress,
    snappy_decompress,
    snappy_stream_compress,
    snappy_stream_decompress,
    zstd_decompress,
)

# `lz4 -BX -c` of b"payload with checksum": FLG 0x74 (independent
# blocks, block checksum, content checksum), one stored block
CHECKSUMMED = bytes.fromhex(
    "04224d187440bd150000807061796c6f6164207769746820636865636b73"
    "756d873c784c00000000873c784c"
)


def _doc(seed, n):
    rng = random.Random(seed)
    words = [
        bytes(rng.choices(b"abcdefgh ", k=rng.randrange(2, 12)))
        for _ in range(50)
    ]
    return b"".join(rng.choice(words) for _ in range(n))


def _lz4(data: bytes) -> bytes:
    return pa.compress(data, codec="lz4", asbytes=True)


def _cli(argv, data):
    if shutil.which(argv[0]) is None:
        pytest.skip(f"{argv[0]} binary not available")
    p = subprocess.run(argv, input=data, capture_output=True, check=True)
    return p.stdout


# frame producer -> (decoder, frame of the payload); every LZ4 frame
# here is multi-block with linked blocks, the LZ4F default
FRAMES = {
    "pyarrow-lz4": (lz4_decompress, _lz4),
    "lz4-BD-B4": (
        lz4_decompress, lambda d: _cli(["lz4", "-q", "-BD", "-B4", "-c"], d)
    ),
    "zstd-1": (zstd_decompress, lambda d: _cli(["zstd", "-q", "-1", "-c"], d)),
    "zstd-19": (
        zstd_decompress, lambda d: _cli(["zstd", "-q", "-19", "-c"], d)
    ),
}


@pytest.mark.parametrize("producer", sorted(FRAMES))
@pytest.mark.parametrize("seed", [1, 2])
def test_linked_block_frames_decode(producer, seed):
    """Seeded payloads of 256 KiB and more span several 64 KiB blocks
    whose matches reach back into earlier blocks."""
    data = _doc(seed, 60000 * seed)
    assert len(data) >= 256 * 1024
    decode, encode = FRAMES[producer]
    assert decode(encode(data), max_bytes=len(data)) == data


def test_decompress_text_linked_block_frames(spark):
    """The same frames through prep.decompress_text's sniffing."""
    from geist_spark.operators.prep import decompress_text

    data = _doc(3, 70000)
    rows = []
    for i, name in enumerate(sorted(FRAMES)):
        try:
            rows.append((i, FRAMES[name][1](data)))
        except pytest.skip.Exception:
            continue  # CLI absent: the pyarrow frame still runs
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = decompress_text(df).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r["byte_len"] == len(data)
        assert r["text"] == data.decode()


def test_decompress_text_lz4_behind_skippable_frame(spark):
    """zstd and LZ4 share skippable frames: the sniff branches on the
    magic of the first real frame behind them, not on the first one."""
    from geist_spark.operators.prep import decompress_text

    data = _doc(4, 2000)
    pad = b"seek-index"
    lz4 = struct.pack("<II", 0x184D2A50, len(pad)) + pad + _lz4(data)
    zst = struct.pack("<II", 0x184D2A5E, len(pad)) + pad + pa.compress(
        data, codec="zstd", asbytes=True
    )
    df = spark.createDataFrame([(0, lz4), (1, zst)], "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decompress_text(df).collect()}
    for i in (0, 1):
        assert got[i]["byte_len"] == len(data)
        assert got[i]["text"] == data.decode()


@pytest.mark.parametrize(
    "data",
    [b"", b"x", b"ab" * 40000, _doc(3, 20000)],
    ids=["empty", "one", "rle", "doc"],
)
def test_roundtrips(data):
    assert lz4_decompress(_lz4(data), max_bytes=10**7) == data
    snappy = pa.compress(data, codec="snappy", asbytes=True)
    assert snappy_decompress(snappy, max_bytes=10**7) == data
    assert (
        snappy_stream_decompress(
            snappy_stream_compress(data), max_bytes=10**7
        )
        == data
    )


def test_check_values():
    assert crc32c(b"123456789") == 0xE3069283


def test_lz4_options_and_checksums():
    assert lz4_decompress(CHECKSUMMED) == b"payload with checksum"
    # a literal byte trips the block checksum, the trailer the content
    # checksum
    for at, what in ((14, "blockChecksum"), (-2, "contentChecksum")):
        b = bytearray(CHECKSUMMED)
        b[at] ^= 0x01
        with pytest.raises(ValueError, match=what):
            lz4_decompress(bytes(b), max_bytes=10**6)


def test_lz4_multiframe_and_skippable():
    skip = struct.pack("<II", 0x184D2A5F, 4) + b"meta"
    blob = skip + _lz4(b"first. ") + skip + _lz4(b"second.") + skip
    assert lz4_decompress(blob, max_bytes=100) == b"first. second."
    for bad in (b"", skip, _lz4(b"ok") + b"xy"):
        with pytest.raises(ValueError, match="malformed lz4"):
            lz4_decompress(bad)


def test_lz4_dictionary_is_capability_limit():
    # FLG with version 01 + DictID bit set, BD 0x70, DictID 7, header
    # checksum byte, EndMark: liblz4 alone returns b"" for this frame
    blob = bytes.fromhex("04224d18417007000000" "9b" "00000000")
    with pytest.raises(NotImplementedError, match="dictionary"):
        lz4_decompress(blob, max_bytes=100)


def test_lz4_later_dictionary_frame_is_capability_limit():
    """A dictionary frame behind a plain one (and behind a skippable
    frame) is tier-checked too: liblz4 would drop its blocks and
    return the first frame's 120 bytes."""
    dict_frame = bytes.fromhex("04224d18417007000000" "9b" "00000000")
    skip = struct.pack("<II", 0x184D2A5F, 4) + b"meta"
    first = pa.compress(b"hello world " * 10, codec="lz4", asbytes=True)
    for blob in (first + dict_frame, first + skip + first + dict_frame):
        with pytest.raises(NotImplementedError, match="dictionary"):
            lz4_decompress(blob, max_bytes=10**6)
    assert lz4_decompress(first + skip + first) == b"hello world " * 20


def test_bombs_bounded():
    data = b"\x00" * 500000
    with pytest.raises(ValueError, match="max_bytes=1000"):
        lz4_decompress(_lz4(data), max_bytes=1000)
    with pytest.raises(ValueError, match="max_bytes=1000"):
        snappy_decompress(
            pa.compress(data, codec="snappy", asbytes=True), max_bytes=1000
        )
    with pytest.raises(ValueError, match="max_bytes=1000"):
        snappy_stream_decompress(
            snappy_stream_compress(data), max_bytes=1000
        )


def test_snappy_stream_crc_detects_corruption():
    blob = bytearray(snappy_stream_compress(_doc(5, 8000)))
    blob[-3] ^= 0x01
    with pytest.raises(ValueError):
        snappy_stream_decompress(bytes(blob), max_bytes=10**6)


def test_fuzz_typed():
    raw = _doc(6, 60000)
    rng = random.Random(0)
    for decode, base in (
        (lz4_decompress, _lz4(raw)),
        (snappy_decompress, pa.compress(raw, codec="snappy", asbytes=True)),
    ):
        for _ in range(100):
            b = bytearray(base)
            if rng.random() < 0.5:
                b = b[: rng.randrange(1, len(b))]
            else:
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                decode(bytes(b), max_bytes=10**6)
            except (ValueError, NotImplementedError):
                pass
