"""Compressed-payload decoders for crawl and data-lake ingestion:
zstd frames (0xFD2FB528 — CommonCrawl .warc.zst, Avro "zstandard"),
LZ4 frames (0x184D2204 — log shippers, Kafka, .lz4 artifacts), raw
Snappy blocks (Avro/Parquet/Kafka) and framed Snappy (the sNaPpY
stream format), plus the bounded bzip2/xz stream walk.

The codecs are the native builds pyarrow ships (libzstd, liblz4,
snappy) and the stdlib's bz2/lzma; this module holds the repo
contract around them, for prep.decompress_text, web.warc_parse and
the Avro block codecs:

- Every decode is BOUNDED by max_bytes: frame codecs stream through
  pyarrow's CompressedInputStream and read at most max_bytes + 1
  bytes, raw Snappy rejects its declared length before decoding, and
  bz2/xz decompressors get max_length. A decompression bomb raises
  the typed malformed ValueError naming max_bytes, never OOMs an
  executor (the PNG-IDAT rule).
- Two-tier errors: ValueError("malformed <codec> payload: ...") for
  anything the library rejects (truncation, corruption, checksum
  mismatch, trailing garbage); NotImplementedError for dictionary
  frames, a declared capability limit (crawl archives are
  self-contained frames). libzstd reports a dictionary frame as
  "Dictionary mismatch"; liblz4 would silently return nothing for
  one, so every LZ4 frame's FLG DictID bit is checked here.
- Multi-frame concatenation, skippable frames and the zstd/LZ4
  checksums are the libraries' own behaviour.

Framed Snappy's chunk walk and its masked CRC-32C stay in Python: no
native CRC-32C is installed.
"""

from __future__ import annotations

import bz2
import lzma
import struct

import pyarrow as pa

ZSTD_MAGIC = 0xFD2FB528
LZ4_MAGIC = 0x184D2204
SKIPPABLE_MAGIC = 0x184D2A50  # low nibble free: 0x184D2A50..5F
SNAPPY_STREAM_MAGIC = b"\xff\x06\x00\x00sNaPpY"


def _err(what: str, msg: str) -> ValueError:
    return ValueError(f"malformed {what} payload: {msg}")


# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli; framed Snappy uses the masked variant)

_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for byte in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ byte) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _snappy_mask(crc: int) -> int:
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# zstd / LZ4 frames


def _is_skippable(b: bytes, pos: int) -> bool:
    return struct.unpack_from("<I", b, pos)[0] >> 4 == SKIPPABLE_MAGIC >> 4


def skippable_prefix(b: bytes) -> int:
    """Length of the skippable frames (zstd and LZ4 share them) that
    open `b`: the offset of its first real frame's magic. A truncated
    run may end past len(b)."""
    pos = 0
    while len(b) - pos >= 8 and _is_skippable(b, pos):
        pos += 8 + struct.unpack_from("<I", b, pos + 4)[0]
    return pos


def _first_frame(b: bytes, what: str, magic: int) -> int:
    """Offset of the first frame descriptor after any leading
    skippable frames; that frame must carry `magic`."""
    pos = skippable_prefix(b)
    if len(b) - pos < 4:
        raise _err(what, f"payload contains no {what} frame")
    if _is_skippable(b, pos):
        raise _err(what, "truncated skippable frame")
    m = struct.unpack_from("<I", b, pos)[0]
    if m != magic:
        raise _err(what, f"bad frame magic 0x{m:08x}")
    if len(b) - pos < 5:
        raise _err(what, "truncated frame descriptor")
    return pos + 4


def _dictionary_limit(what: str, detail: str) -> NotImplementedError:
    return NotImplementedError(
        f"{what} frame requires an external dictionary ({detail}) — "
        "dictionary frames are a capability limit; crawl archives use "
        "self-contained frames"
    )


def _read_frames(b: bytes, codec: str, max_bytes: int) -> bytes:
    try:
        with pa.CompressedInputStream(pa.BufferReader(b), codec) as stream:
            out = stream.read(max_bytes + 1)
    except (OSError, pa.ArrowInvalid) as exc:
        if "Dictionary mismatch" in str(exc):
            raise _dictionary_limit(codec, str(exc)) from None
        raise _err(codec, str(exc)) from None
    if len(out) > max_bytes:
        raise _err(codec, f"output exceeds max_bytes={max_bytes}")
    return out


def zstd_decompress(b: bytes, max_bytes: int = 64 * 1024 * 1024) -> bytes:
    """Decode a zstd payload: one or more concatenated frames,
    skippable frames ignored, content checksums verified."""
    pos = _first_frame(b, "zstd", ZSTD_MAGIC)
    fhd = b[pos]
    at = pos + (1 if fhd & 0x20 else 2)  # single-segment: no window byte
    did = int.from_bytes(b[at : at + (0, 1, 2, 4)[fhd & 3]], "little")
    if did:
        raise _dictionary_limit("zstd", f"Dictionary_ID={did}")
    return _read_frames(b, "zstd", max_bytes)


def _lz4_check_dict_ids(b: bytes, pos: int) -> None:
    """Raise the dictionary limit if any frame from `pos` on sets the
    FLG DictID bit. Walks frame descriptors, skipping blocks by their
    size words and checksum flags and skippable frames by their size;
    it stops quietly at anything else (truncation, foreign bytes),
    which liblz4 then reports as malformed."""
    n = len(b)
    while n - pos >= 6:
        if _is_skippable(b, pos):
            pos += 8 + struct.unpack_from("<I", b, pos + 4)[0]
            continue
        if struct.unpack_from("<I", b, pos)[0] != LZ4_MAGIC:
            return
        flg = b[pos + 4]
        if flg & 0x01:
            raise _dictionary_limit("lz4", "FLG DictID set")
        # magic, FLG, BD, optional 8-byte content size, HC
        pos += 7 + (8 if flg & 0x08 else 0)
        block_crc = 4 if flg & 0x10 else 0
        while True:
            if n - pos < 4:
                return
            size = struct.unpack_from("<I", b, pos)[0]
            pos += 4
            if not size:  # EndMark
                break
            pos += (size & 0x7FFFFFFF) + block_crc
        pos += 4 if flg & 0x04 else 0  # content checksum


def lz4_decompress(b: bytes, max_bytes: int = 64 * 1024 * 1024) -> bytes:
    """Decode an LZ4 frame payload (linked or independent blocks,
    frame concatenation, skippable frames, block/content checksums
    verified)."""
    _lz4_check_dict_ids(b, _first_frame(b, "lz4", LZ4_MAGIC) - 4)
    return _read_frames(b, "lz4", max_bytes)


# ---------------------------------------------------------------------------
# Snappy


def snappy_decompress(b: bytes, max_bytes: int = 64 * 1024 * 1024) -> bytes:
    """Raw Snappy block decode (the format Avro/Parquet embed)."""
    total = shift = i = 0
    while True:
        if i >= len(b):
            raise _err("snappy", "truncated length varint")
        byte = b[i]
        total |= (byte & 0x7F) << shift
        i += 1
        shift += 7
        if not byte & 0x80:
            break
        if shift > 35:
            raise _err("snappy", "length varint too long")
    if total > max_bytes:
        raise _err("snappy", f"output exceeds max_bytes={max_bytes}")
    try:
        return pa.decompress(
            b, decompressed_size=total, codec="snappy", asbytes=True
        )
    except (OSError, pa.ArrowInvalid) as exc:
        raise _err("snappy", str(exc)) from None


def snappy_stream_decompress(
    b: bytes, max_bytes: int = 64 * 1024 * 1024
) -> bytes:
    """Framed Snappy (the sNaPpY stream format): stream identifier,
    compressed/uncompressed chunks with masked CRC-32C, padding and
    reserved-skippable chunks."""
    if b[: len(SNAPPY_STREAM_MAGIC)] != SNAPPY_STREAM_MAGIC:
        raise _err("snappy", "missing sNaPpY stream identifier")
    out = bytearray()
    pos = 0
    n = len(b)
    while pos < n:
        if n - pos < 4:
            raise _err("snappy", "truncated chunk header")
        ctype = b[pos]
        clen = int.from_bytes(b[pos + 1 : pos + 4], "little")
        pos += 4
        if pos + clen > n:
            raise _err("snappy", "chunk past payload end")
        chunk = b[pos : pos + clen]
        pos += clen
        if ctype == 0xFF:
            if chunk != SNAPPY_STREAM_MAGIC[4:]:
                raise _err("snappy", "bad stream identifier body")
        elif ctype in (0x00, 0x01):
            if clen < 4:
                raise _err("snappy", "chunk missing CRC")
            want = struct.unpack_from("<I", chunk, 0)[0]
            body = chunk[4:]
            data = (
                snappy_decompress(body, max_bytes - len(out))
                if ctype == 0x00
                else body
            )
            if len(out) + len(data) > max_bytes:
                raise _err(
                    "snappy", f"output exceeds max_bytes={max_bytes}"
                )
            if _snappy_mask(crc32c(data)) != want:
                raise _err("snappy", "chunk CRC-32C mismatch")
            out += data
        elif ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            pass  # padding / reserved-skippable
        else:
            raise _err("snappy", f"reserved unskippable chunk 0x{ctype:02x}")
    return bytes(out)


def snappy_stream_compress(data: bytes) -> bytes:
    """Framed-Snappy writer (sNaPpY stream): one compressed chunk per
    64 KiB of input (the format's chunk limit), each block from
    pyarrow's Snappy."""
    out = bytearray(SNAPPY_STREAM_MAGIC)
    for off in range(0, len(data), 65536):
        chunk = data[off : off + 65536]
        body = struct.pack("<I", _snappy_mask(crc32c(chunk))) + pa.compress(
            chunk, codec="snappy", asbytes=True
        )
        out += b"\x00" + len(body).to_bytes(3, "little") + body
    return bytes(out)


# ---------------------------------------------------------------------------
# bzip2 / xz


def inflate_bx(b: bytes, codec: str, max_bytes: int) -> bytes:
    """bzip2 (codec 'bz2') or xz: one stdlib decompressor per
    concatenated stream (pbzip2 / multi-stream xz with stream
    padding), each asked for at most the remaining budget + 1 bytes,
    so a bomb stops at max_bytes + 1 of output."""
    parts, data, budget = [], b, max_bytes
    while data:
        d = (
            bz2.BZ2Decompressor()
            if codec == "bz2"
            else lzma.LZMADecompressor(lzma.FORMAT_XZ)
        )
        try:
            chunk = d.decompress(data, budget + 1)
        except (OSError, lzma.LZMAError) as exc:
            raise _err(codec, str(exc)) from None
        parts.append(chunk)
        budget -= len(chunk)
        if budget < 0:
            raise ValueError(
                f"compressed payload inflates past max_bytes={max_bytes}"
            )
        if not d.eof:
            raise ValueError("truncated compressed payload")
        data = d.unused_data
        if codec == "xz":
            # xz stream padding: NUL runs between streams are legal
            data = data.lstrip(b"\x00")
    return b"".join(parts)
