"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct;
decode / feature-extraction run as Arrow-batched `mapInPandas` stages
so the Python boundary is per-batch, not per-row. `decode_real`
REALLY decodes the dependency-free formats (Netpbm P6/P5,
uncompressed 24-bit BMP, 8-bit PNG via stdlib zlib + numpy
unfiltering, GIF via a pure-python LZW with numpy palette
mapping/deinterlace, baseline JPEG via pure-python Huffman + batched
numpy IDCT (see jpeg.py), and uncompressed TIFF via an IFD tag walk
in either byte order) — actual pixels, exact luma,
cross-format hash (JPEG covers baseline SOF0 AND progressive SOF2
since round 8); remaining codec formats (WebP/AVIF/...)
need libraries NOT in this container,
so for those `decode_real` raises (or NULLs, by option) and
`extract_media_features` computes deterministic
pseudo-features (byte length, md5, an 8-bin byte histogram) — the
Spark-side plumbing (schema, batch shape, partition behavior) is the
same either way; swap in PIL/ffmpeg on a cluster that has them.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from geist_spark.operators.jpeg import jpeg_decode
from geist_spark.operators.records import check_policy, payload_stage

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("hist", T.ArrayType(T.LongType()), True),
    ]
)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload
    (the container has no image/audio fixtures; the binary-column
    path is identical). fan_out first: media tables are exactly the
    skinny-scan-into-heavy-Arrow-stage shape the widener exists
    for."""
    from geist_spark.operators.bucketing import fan_out

    documents = fan_out(documents)
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def _decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for a real decoder. A real image decoder
    would go here (e.g. PIL.Image.open over payload bytes) — keep the
    signature: one pandas batch in, one feature batch out."""
    out = {
        "media_id": pdf["media_id"],
        "byte_len": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
        "content_md5": pdf["payload"].map(
            lambda b: hashlib.md5(bytes(b)).hexdigest() if b is not None else None
        ),
        "hist": pdf["payload"].map(
            lambda b: [0] * 8
            if b is None
            else [sum(1 for x in bytes(b) if x >> 5 == i) for i in range(8)]
        ),
    }
    return pd.DataFrame(out)


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    mapInPandas keeps partitioning intact (no shuffle); at 100 TB the
    payload column should be read lazily (parquet column pruning keeps
    other columns off the wire when features are all a query needs)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(pdf)

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_stub(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: explodes a deterministic frame
    index per media row (real decoder would emit actual frames).
    Demonstrates the fan-out schema (media_id, frame_idx, frame_bytes)."""
    n_frames = F.greatest(
        (F.coalesce(F.col("meta.duration_ms"), F.length(F.col("payload")))
         / F.lit(every_ms)).cast("int"),
        F.lit(1),
    )
    return media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("frame_bytes", F.lit(None).cast("binary"))


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma_fx", T.LongType(), True),
        T.StructField("pixel_md5", T.StringType(), True),
    ]
)


def _avi_decode(b: bytes) -> tuple:
    """AVI parse (pure python): RIFF 'AVI ' container (walk clamped
    to the DECLARED RIFF size — trailing padding after it is
    spec-legal and ignored), avih main header (frame period, dims),
    strf stream format (bit depth, compression, row order — the REAL
    discriminators; the '..db'/'..dc' chunk tags are only advisory),
    LIST movi walk collecting frames. Two codecs: raw-DIB
    (biCompression=0, 24-bit) and MJPEG (fourcc 'MJPG' — each frame
    is a standalone baseline JPEG, decoded by jpeg.jpeg_decode).
    Returns (usec_per_frame, width, height, top_down, codec,
    [raw_frame_bytes...]) with codec in ("raw", "mjpg") — frames stay
    RAW here; the caller decodes only the frames it actually samples
    (_dib_to_rgb / jpeg_decode), so skipped frames cost nothing —
    for MJPEG that skips the whole Huffman+IDCT, the dominant cost."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    riff_len = struct.unpack_from("<I", b, 4)[0]
    usec = w = h = None
    strf: tuple | None = None
    frames: list[bytes] = []

    # Iterative chunk walk (explicit continuation stack, NOT recursion:
    # a crafted payload of thousands of nested 8-byte LIST headers must
    # raise a typed error or just cost memory — never RecursionError,
    # which would escape the two-tier error contract and kill the
    # mapInPandas task even under on_unsupported='null').
    # Readers must stop at the declared RIFF size; trailing bytes are
    # padding, not chunks.
    stack: list[tuple[int, int]] = [(12, min(len(b), 8 + riff_len))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            cid = bytes(b[pos : pos + 4])
            (clen,) = struct.unpack_from("<I", b, pos + 4)
            body_start, body_end = pos + 8, pos + 8 + clen
            if body_end > end:
                raise ValueError(
                    f"truncated AVI chunk {cid!r}: header says {clen} "
                    f"bytes, container has {end - body_start}"
                )
            if cid == b"LIST":
                # resume this level after the list body, descend now —
                # same depth-first order as the recursive walk
                stack.append((body_end + (clen & 1), end))
                pos, end = body_start + 4, body_end  # skip list type tag
                continue
            elif cid == b"avih":
                if clen < 40:
                    raise ValueError("truncated AVI main header")
                usec = struct.unpack_from("<I", b, body_start)[0]
                w, h = struct.unpack_from("<II", b, body_start + 32)
            elif cid == b"strf" and strf is None:  # first video stream
                if clen < 40:
                    raise ValueError("truncated AVI strf header")
                bi_h = struct.unpack_from("<i", b, body_start + 8)[0]
                bpp = struct.unpack_from("<H", b, body_start + 14)[0]
                comp = struct.unpack_from("<I", b, body_start + 16)[0]
                strf = (bi_h, bpp, comp)
            elif cid[2:] in (b"db", b"dc"):
                frames.append(bytes(b[body_start:body_end]))
            pos = body_end + (clen & 1)  # chunks are word-aligned
    if usec is None:
        raise ValueError("AVI missing avih main header")
    if strf is None:
        raise ValueError("AVI missing strf stream format header")
    bi_h, bpp, comp = strf
    if comp == 0x47504A4D:  # fourcc 'MJPG' (LE)
        codec = "mjpg"
    elif comp == 0 and bpp == 24:
        codec = "raw"
    else:
        # biCompression/biBitCount are the real codec discriminators
        # (encoders tag compressed frames '00db' too) — capability
        # limit, not malformed data
        raise NotImplementedError(
            f"only uncompressed 24-bit raw-DIB and MJPEG AVI supported "
            f"(bpp={bpp}, compression={comp}); other codecs need ffmpeg"
        )
    if not usec or w is None or w <= 0 or h is None or h <= 0:
        raise ValueError(
            f"malformed AVI header: usec_per_frame={usec}, width={w}, "
            f"height={h}"
        )
    if codec == "raw":
        stride = (w * 3 + 3) & ~3
        for fi, data in enumerate(frames):
            if len(data) < stride * h:
                raise ValueError(
                    f"truncated AVI frame {fi}: need {stride * h} bytes, "
                    f"got {len(data)}"
                )
    else:
        for fi, data in enumerate(frames):
            if data[:2] != b"\xff\xd8":
                raise ValueError(
                    f"malformed MJPEG AVI: frame {fi} is not a JPEG"
                )
    return usec, w, h, bi_h < 0, codec, frames


def frame_sample_real(
    media: DataFrame, every_ms: int = 1000, on_unsupported: str = "error"
) -> DataFrame:
    """REAL video frame sampling — uncompressed raw-DIB AVI (frames
    normalized bottom-up/BGR/padding to row-major RGB exactly like
    decode_real's BMP path) and MJPEG AVI (each sampled frame is a
    standalone baseline JPEG, decoded by jpeg.jpeg_decode — skipped
    frames never pay the Huffman+IDCT). One output row per SAMPLED
    frame: the stride is max(1, every_ms*1000 // usec_per_frame) and
    frames at idx % stride == 0 are kept, each with its exact
    timestamp (idx * usec_per_frame // 1000), exact BT.601 milli-luma,
    and the pixel hash; for MJPEG the emitted dims are the DECODED
    frame's own (authoritative over the container header). The fan-out
    runs inside the same Arrow-batched mapInPandas stage — no shuffle,
    no per-row Python boundary.

    Two-tier errors (operators/records.py; 1:1 NULL shape: one row,
    frame_idx NULL): not an AVI and codecs other than raw-DIB/MJPEG
    are capability limits; truncated chunks/frames, a zero frame
    period and a non-JPEG MJPEG frame are malformed."""
    if every_ms <= 0:
        raise ValueError("every_ms must be positive")

    def decode(b: bytes) -> list:
        if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
            raise NotImplementedError(
                "payload is not a raw-DIB or MJPEG AVI; other "
                "video containers/codecs need ffmpeg, not "
                "present in this environment — pass "
                "on_unsupported='null' to skip"
            )
        usec, w, h, top_down, codec, frames = _avi_decode(b)
        if not frames:
            # decodable but frameless: keep one row per media (dims
            # carried, frame_idx NULL) so the id never silently
            # vanishes from per-media accounting
            return [(None, None, w, h, None, None)]
        rows = []
        # skipped frames are never decoded; a mid-stream capability
        # limit (a progressive-JPEG MJPEG frame) raises out of the
        # list, so the media collapses to one NULL row under 'null'
        for idx in range(0, len(frames), max(1, every_ms * 1000 // usec)):
            if codec == "mjpg":
                _fmt, fw, fh, _ch, rgb = jpeg_decode(frames[idx])
            else:
                fw, fh = w, h
                rgb = _dib_to_rgb(frames[idx], 0, w, h, top_down)
            rows.append((
                idx, idx * usec // 1000, fw, fh,
                _luma_fx(rgb), hashlib.md5(rgb).hexdigest(),
            ))
        return rows

    return payload_stage(media, decode, FRAME_SCHEMA, on_unsupported)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def resize_stub(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Image-resize plumbing as an Arrow-batched mapInPandas stage.

    A real implementation decodes payload bytes, resamples to
    (width, height) and re-encodes; the stub emits a deterministic
    payload of the right order of magnitude (w*h bytes derived from the
    source md5) so downstream schema/partitioning/size behavior is
    exercised for real. No shuffle: resize is per-row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = width * height
        for pdf in batches:
            def fake_resize(b):
                if b is None:
                    return None
                seed = hashlib.md5(bytes(b)).digest()
                return (seed * (n // len(seed) + 1))[:n]

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "payload": pdf["payload"].map(fake_resize),
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        # exact integer luma: (299*sum_r + 587*sum_g + 114*sum_b)
        # div n_pixels, in milli-luma units (0..255000)
        T.StructField("mean_luma_fx", T.LongType(), True),
        # md5 of the row-major RGB byte stream AFTER normalization
        # (BMP bottom-up/BGR/padding undone), so the same image
        # encoded as PPM and as BMP hashes identically
        T.StructField("pixel_md5", T.StringType(), True),
    ]
)


def _ppm_decode(b: bytes) -> tuple:
    """Netpbm P6 (RGB) / P5 (gray) raw decode: header tokens may be
    separated by whitespace and '#' comments; maxval <= 255."""
    magic = bytes(b[:2]).decode("ascii", "replace")
    pos, toks = 2, []
    while len(toks) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM/PGM header")
        try:
            toks.append(int(b[start:pos]))
        except ValueError:
            # keep the two-tier taxonomy's typed message — a bare
            # "invalid literal for int()" would not name the format
            raise ValueError(
                f"malformed PPM/PGM header token {bytes(b[start:pos])!r} "
                "(expected a decimal integer)"
            ) from None
    pos += 1  # exactly one whitespace byte after maxval
    w, h, maxval = toks
    if w <= 0 or h <= 0 or maxval <= 0:
        raise ValueError(
            f"malformed PPM/PGM header: width={w}, height={h}, maxval={maxval}"
        )
    if maxval > 255:
        raise NotImplementedError(
            f"16-bit PPM/PGM unsupported (maxval={maxval})"
        )
    ch = 3 if magic == "P6" else 1
    need = w * h * ch
    px = bytes(b[pos : pos + need])
    if len(px) < need:
        raise ValueError(
            f"truncated PPM/PGM payload: need {need} pixel bytes, got {len(px)}"
        )
    if ch == 1:  # normalize gray to RGB triples for the cross-format md5
        rgb = np.repeat(np.frombuffer(px, dtype=np.uint8), 3).tobytes()
    else:
        rgb = px
    return magic, w, h, ch, rgb


def _dib_to_rgb(
    data: bytes, off: int, w: int, h: int, top_down: bool
) -> bytes:
    """Normalize one raw 24-bit DIB pixel block (BGR channel order,
    4-byte-padded rows, bottom-up unless top_down) to row-major RGB —
    the ONE copy of this index arithmetic, shared by the BMP decoder
    and the AVI frame path. Caller has already bounds-checked.

    numpy reshape/slice, no per-byte Python: decode is the dominant
    per-byte cost of a multimodal pipeline (measured ~200x over the
    per-byte loop — SCALE.md "Decoder vectorization")."""
    stride = (w * 3 + 3) & ~3
    arr = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=off)
    # drop row padding, split pixels
    px = arr.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    # three contiguous-destination channel copies beat a strided
    # `[..., ::-1].tobytes()` ~7x (measured in tools/decode_probe.py)
    out = np.empty((h, w, 3), dtype=np.uint8)
    out[:, :, 0] = px[:, :, 2]
    out[:, :, 1] = px[:, :, 1]
    out[:, :, 2] = px[:, :, 0]
    return out.tobytes()


def _bmp_decode(b: bytes) -> tuple:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) decode: undo the
    4-byte row padding, the bottom-up row order (negative height =
    top-down), and BGR channel order."""
    import struct

    if len(b) < 54:
        raise ValueError("truncated BMP header")
    off = struct.unpack_from("<I", b, 10)[0]
    w, h_signed = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if comp != 0 or bpp != 24:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, compression={comp})"
        )
    if w <= 0 or h_signed == 0 or off < 54:
        raise ValueError(
            f"malformed BMP header: width={w}, height={h_signed}, "
            f"pixel offset={off} (must be >= 54)"
        )
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    if len(b) < off + stride * h:
        raise ValueError("truncated BMP pixel data")
    return "BMP", w, h, 3, _dib_to_rgb(b, off, w, h, h_signed < 0)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filtering (None/Sub/Up/Average/Paeth,
    RFC 2083 §6). None and Up are whole-row numpy ops; Sub is an exact
    per-channel-lane cumulative sum mod 256; Average/Paeth carry a
    left-dependency so they scan (still per-row, and encoders rarely
    emit them for synthetic data). Returns the (h, stride) recon
    array."""
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    out = np.zeros((h, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        ft = int(rows[r, 0])
        cur = rows[r, 1:].astype(np.int64)
        up = out[r - 1].astype(np.int64) if r else zero
        if ft == 0:
            res = cur
        elif ft == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp]
            res = np.cumsum(cur.reshape(-1, bpp), axis=0).reshape(-1) & 0xFF
        elif ft == 2:  # Up
            res = (cur + up) & 0xFF
        elif ft in (3, 4):  # Average / Paeth: sequential in x
            res = np.zeros(stride, dtype=np.int64)
            upl = out[r - 1] if r else None
            for x in range(stride):
                left = int(res[x - bpp]) if x >= bpp else 0
                u = int(up[x])
                ul = int(upl[x - bpp]) if (r and x >= bpp) else 0
                if ft == 3:
                    res[x] = (cur[x] + (left + u) // 2) & 0xFF
                else:
                    p = left + u - ul
                    pa, pb, pc = abs(p - left), abs(p - u), abs(p - ul)
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = u
                    else:
                        pred = ul
                    res[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"malformed PNG: unknown filter type {ft}")
        out[r] = res.astype(np.uint8)
    return out


# Adam7 interlace passes (PNG spec §8.2): (x_start, y_start, x_step,
# y_step) in stream order; each pass is an independently-filtered
# sub-image, empty passes contribute no scanlines
_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_alpha_over_white(px: np.ndarray, alpha: np.ndarray) -> np.ndarray:
    """Integer alpha composite onto an opaque WHITE background —
    the declared dialect for alpha PNGs (DIALECT.md): out =
    (fg*a + 255*(255-a) + 127) // 255, exact and SQL-replayable.
    px and alpha broadcast together; both uint8-range int64."""
    return (px * alpha + 255 * (255 - alpha) + 127) // 255


def _png_decode(b: bytes) -> tuple:
    """PNG decode WITHOUT codec libraries: stdlib zlib inflate + numpy
    scanline unfiltering. Supported: 8- and 16-bit depth, ALL five
    color types — 0 (grayscale), 2 (RGB), 3 (palette), 4
    (gray+alpha), 6 (RGBA) — plus tRNS transparency in its three
    legal homes, non-interlaced AND Adam7 interlaced (each pass
    unfiltered as its own sub-image, scattered back with strided
    numpy assignment). 16-bit samples reduce to 8 by taking the high
    byte (the standard downsample; tRNS color matching happens at
    full 16-bit precision FIRST). Alpha composites onto an opaque
    white background with exact integer rounding (_png_alpha_over_
    white — the dialect an oracle can replay); gray normalizes to RGB
    triples (like PGM) so the cross-format pixel_md5 contract holds;
    palette expands through PLTE. channels reports the SOURCE channel
    count (1 gray, 2 gray+alpha, 3 RGB/palette, 4 RGBA). CAPABILITY
    limits (bit depths 1/2/4) raise NotImplementedError; bad chunk
    CRCs, truncation, inflate/size mismatches, and tRNS on alpha
    color types are MALFORMED (ValueError), per the two-tier error
    contract."""
    import struct
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat, saw_iend = 8, None, None, [], False
    trns = None
    while pos + 8 <= len(b):
        (clen,) = struct.unpack_from(">I", b, pos)
        ctype = bytes(b[pos + 4 : pos + 8])
        body_end = pos + 8 + clen
        if body_end + 4 > len(b):
            raise ValueError(
                f"truncated PNG chunk {ctype!r}: header says {clen} bytes"
            )
        body = bytes(b[pos + 8 : body_end])
        (crc,) = struct.unpack_from(">I", b, body_end)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"malformed PNG: chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"tRNS":
            trns = body
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos = body_end + 4
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("malformed PNG: missing or short IHDR chunk")
    if not saw_iend:
        raise ValueError("truncated PNG: missing IEND chunk")
    w, h, depth, ctype_v, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"malformed PNG IHDR: compression={comp}, filter={filt}, "
            f"interlace={interlace}"
        )
    if ctype_v not in (0, 2, 3, 4, 6):
        raise ValueError(f"malformed PNG IHDR: color type {ctype_v}")
    if depth not in (1, 2, 4, 8, 16) or (
        ctype_v == 3 and depth == 16
    ) or (depth < 8 and ctype_v not in (0, 3)):
        raise ValueError(
            f"malformed PNG IHDR: bit depth {depth} with color type "
            f"{ctype_v}"
        )
    if trns is not None and ctype_v in (4, 6):
        # the spec forbids tRNS alongside a full alpha channel
        raise ValueError(
            f"malformed PNG: tRNS chunk with color type {ctype_v}"
        )
    if w <= 0 or h <= 0:
        raise ValueError(f"malformed PNG IHDR: width={w}, height={h}")
    if not idat:
        raise ValueError("malformed PNG: no IDAT chunks")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype_v]
    if depth < 8:  # packed gray/palette bits: filters act on BYTES
        sampb, bpp = 0, 1
        stride = (w * depth + 7) // 8
    else:
        sampb = depth // 8
        bpp = channels * sampb
        stride = w * bpp

    def row_stride(pw: int) -> int:
        return (pw * depth + 7) // 8 if depth < 8 else pw * bpp

    def unpack_bits(rows: np.ndarray, pw: int) -> np.ndarray:
        """(h, stride_bytes) packed rows -> (h, pw) samples
        (MSB-first within each byte, per the PNG spec)."""
        bits = np.unpackbits(rows, axis=1)
        per = 8 // depth
        vals = bits.reshape(rows.shape[0], -1, depth)
        weights = 1 << np.arange(depth - 1, -1, -1)
        samples = (vals * weights).sum(axis=2)
        del per
        return samples[:, :pw].astype(np.int64)
    if interlace == 1:
        spans = []
        expected = 0
        for x0, y0, xs, ys in _ADAM7_PASSES:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            nbytes = (
                ph * (1 + row_stride(pw)) if pw > 0 and ph > 0 else 0
            )
            spans.append((pw, ph, nbytes))
            expected += nbytes
    else:
        expected = h * (1 + stride)
    # bounded inflate: a decompression-bomb IDAT (deflate ~1030:1)
    # must raise the typed malformed error at expected+1 bytes, never
    # materialize gigabytes before the size check (OOM would escape
    # the two-tier error contract like the AVI RecursionError did)
    try:
        raw = zlib.decompressobj().decompress(
            b"".join(idat), expected + 1
        )
    except zlib.error as exc:
        raise ValueError(f"malformed PNG IDAT stream: {exc}") from None
    if len(raw) != expected:
        raise ValueError(
            f"malformed PNG: inflated to {'>' if len(raw) > expected else ''}"
            f"{len(raw)} bytes, expected {expected} for {w}x{h} "
            f"color type {ctype_v}"
        )
    if interlace == 1 and depth >= 8:
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for (x0, y0, xs, ys), (pw, ph, nbytes) in zip(
            _ADAM7_PASSES, spans
        ):
            if nbytes == 0:
                continue
            rec = _png_unfilter(
                raw[off : off + nbytes], ph, pw * bpp, bpp
            )
            off += nbytes
            img[y0::ys, x0::xs] = rec.reshape(ph, pw, bpp)
        recon = img.reshape(h, stride)
    elif interlace == 1:  # sub-byte: unpack per pass, scatter samples
        samples = np.zeros((h, w), dtype=np.int64)
        off = 0
        for (x0, y0, xs, ys), (pw, ph, nbytes) in zip(
            _ADAM7_PASSES, spans
        ):
            if nbytes == 0:
                continue
            rec = _png_unfilter(
                raw[off : off + nbytes], ph, row_stride(pw), 1
            )
            off += nbytes
            samples[y0::ys, x0::xs] = unpack_bits(rec, pw)
        recon = None
    else:
        recon = _png_unfilter(raw, h, stride, bpp)

    # (h, w, channels) samples at FULL precision (tRNS color matching
    # is 16-bit exact), then reduction to 8-bit
    if depth < 8:
        if recon is not None:
            samples = unpack_bits(recon, w)
        full = samples[..., None]
        if ctype_v == 0:
            # exact gray upscale: 255 divides by every sub-byte
            # maxval (1 -> 255, 3 -> 85, 15 -> 17)
            px8 = full * (255 // ((1 << depth) - 1))
        else:
            px8 = full
    else:
        sp = recon.reshape(h, w, channels, sampb).astype(np.int64)
        full = (
            sp[..., 0] * 256 + sp[..., 1] if sampb == 2 else sp[..., 0]
        )
        px8 = (full >> 8) if sampb == 2 else full

    if ctype_v == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError(
                "malformed PNG: palette image without valid PLTE"
            )
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px8[..., 0].reshape(-1)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError(
                f"malformed PNG: palette index {int(idx.max())} out of "
                f"range ({pal.shape[0]} entries)"
            )
        rgb = pal[idx].astype(np.int64)
        if trns is not None:
            if len(trns) > pal.shape[0]:
                raise ValueError(
                    "malformed PNG: tRNS longer than the palette"
                )
            alut = np.full(pal.shape[0], 255, dtype=np.int64)
            alut[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            rgb = _png_alpha_over_white(rgb, alut[idx][:, None])
        return "PNG", w, h, 3, rgb.astype(np.uint8).tobytes()

    if ctype_v == 0:
        gray = px8[..., 0]
        if trns is not None:
            if len(trns) < 2:
                raise ValueError("malformed PNG: short gray tRNS chunk")
            (tv,) = struct.unpack_from(">H", trns, 0)
            if depth <= 8:
                tv &= (1 << depth) - 1
            mask = full[..., 0] == tv
            gray = np.where(mask, 255, gray)
        return (
            "PNG", w, h, 1,
            np.repeat(gray.astype(np.uint8).reshape(-1), 3).tobytes(),
        )

    if ctype_v == 2:
        rgb = px8
        if trns is not None:
            if len(trns) < 6:
                raise ValueError("malformed PNG: short RGB tRNS chunk")
            tvs = np.array(
                struct.unpack_from(">HHH", trns, 0), dtype=np.int64
            )
            if depth == 8:
                tvs &= 0xFF
            mask = (full == tvs).all(axis=-1)
            rgb = np.where(mask[..., None], 255, rgb)
        return "PNG", w, h, 3, rgb.astype(np.uint8).tobytes()

    if ctype_v == 4:  # gray + alpha
        gray = _png_alpha_over_white(px8[..., 0], px8[..., 1])
        return (
            "PNG", w, h, 2,
            np.repeat(gray.astype(np.uint8).reshape(-1), 3).tobytes(),
        )

    # ctype 6: RGBA
    rgb = _png_alpha_over_white(px8[..., :3], px8[..., 3:4])
    return "PNG", w, h, 4, rgb.astype(np.uint8).tobytes()


def _png_filter_rows(sub: np.ndarray, fts: list[int], bpp: int) -> bytes:
    """Apply per-scanline PNG filters to a (rows, stride) int64 array
    with `bpp` filter bytes per pixel (fixture encoder side)."""
    stride = sub.shape[1]
    lines = bytearray()
    for r, ft in enumerate(fts):
        cur = sub[r]
        up = sub[r - 1] if r else np.zeros(stride, dtype=np.int64)
        if ft == 0:
            filt = cur
        elif ft == 1:
            left = np.concatenate(
                [np.zeros(bpp, dtype=np.int64), cur[:-bpp]]
            )
            filt = (cur - left) & 0xFF
        elif ft == 2:
            filt = (cur - up) & 0xFF
        elif ft in (3, 4):
            filt = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                u = int(up[x])
                ul = int(sub[r - 1][x - bpp]) if (r and x >= bpp) else 0
                if ft == 3:
                    filt[x] = (cur[x] - (left + u) // 2) & 0xFF
                else:
                    p = left + u - ul
                    pa, pb, pc = (
                        abs(p - left), abs(p - u), abs(p - ul)
                    )
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = u
                    else:
                        pred = ul
                    filt[x] = (cur[x] - pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        lines.append(ft)
        lines += filt.astype(np.uint8).tobytes()
    return bytes(lines)


def png_encode(
    w: int,
    h: int,
    raw: bytes,
    ctype: int = 2,
    depth: int = 8,
    palette: bytes | None = None,
    trns: bytes | None = None,
    filters: list[int] | None = None,
    interlace: bool = False,
) -> bytes:
    """Synthetic-fixture PNG encoder (tests + the m_decode_png gate —
    NOT a public pipeline operator): any color type 0/2/3/4/6 at 8-
    or 16-bit, one zlib stream, per-scanline filter types from
    `filters` (default all 0/None) so the decoder's unfiltering paths
    run against real filtered data at every bytes-per-pixel width,
    optional PLTE/tRNS chunks, optional Adam7 interlace (each pass
    filtered as its own sub-image, `filters` indexed in pass-scanline
    order). `raw` is the packed sample bytes, big-endian for 16-bit,
    length w*h*channels*(depth//8)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    def pack_rows(samp: np.ndarray) -> np.ndarray:
        """(rows, pw) sub-byte samples -> (rows, stride) packed bytes
        (MSB-first, rows padded to whole bytes per the spec)."""
        bits = (
            (samp[..., None] >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(samp.shape[0], -1).astype(np.uint8)
        pad = (-bits.shape[1]) % 8
        if pad:
            bits = np.pad(bits, ((0, 0), (0, pad)))
        return np.packbits(bits, axis=1)

    subsamp = None
    if depth < 8:
        # sub-byte: `raw` is ONE SAMPLE PER BYTE (values < 2^depth);
        # rows pack MSB-first (per Adam7 pass when interlaced)
        if ctype not in (0, 3):
            raise ValueError("sub-byte depth needs color type 0 or 3")
        if len(raw) != w * h:
            raise ValueError("raw length must be w*h samples")
        subsamp = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
        if (subsamp >= (1 << depth)).any():
            raise ValueError(f"sample out of range for depth {depth}")
        bpp = 1
    else:
        bpp = channels * (depth // 8)
        if len(raw) != w * h * bpp:
            raise ValueError(f"raw length must be w*h*{bpp}")

    if not interlace:
        filters = filters or [0] * h
        if len(filters) != h:
            raise ValueError("need one filter type per row")
        if subsamp is not None:
            arr = pack_rows(subsamp).astype(np.int64)
        else:
            arr = (
                np.frombuffer(raw, dtype=np.uint8)
                .reshape(h, w * bpp)
                .astype(np.int64)
            )
        lines = _png_filter_rows(arr, filters, bpp)
    else:
        if subsamp is not None:
            subs = [
                pack_rows(subsamp[y0::ys, x0::xs])[..., None]
                for x0, y0, xs, ys in _ADAM7_PASSES
                if subsamp[y0::ys, x0::xs].size
            ]
        else:
            arr3 = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, bpp)
            subs = [
                arr3[y0::ys, x0::xs]
                for x0, y0, xs, ys in _ADAM7_PASSES
                if arr3[y0::ys, x0::xs].size
            ]
        total = sum(s.shape[0] for s in subs)
        filters = filters or [0] * total
        if len(filters) != total:
            raise ValueError(
                f"need one filter type per pass scanline ({total})"
            )
        parts, fi = [], 0
        for sub in subs:
            ph = sub.shape[0]
            parts.append(
                _png_filter_rows(
                    sub.reshape(ph, -1).astype(np.int64),
                    filters[fi : fi + ph],
                    bpp,
                )
            )
            fi += ph
        lines = b"".join(parts)

    def chunk(ct: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ct + body
            + struct.pack(">I", zlib.crc32(ct + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                       int(interlace))
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette)
    if trns is not None:
        out += chunk(b"tRNS", trns)
    out += chunk(b"IDAT", zlib.compress(bytes(lines)))
    out += chunk(b"IEND", b"")
    return out


def png_encode_rgb(
    w: int,
    h: int,
    rgb: bytes,
    filters: list[int] | None = None,
    interlace: bool = False,
) -> bytes:
    """8-bit RGB convenience wrapper over png_encode (the original
    fixture surface — tests and gates that predate alpha support)."""
    return png_encode(w, h, rgb, ctype=2, depth=8, filters=filters,
                      interlace=interlace)


# GIF interlace passes (GIF89a spec appendix E): row starts/steps in
# the order interlaced data rows appear in the stream
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_decode(data: bytes, mcs: int, max_px: int) -> bytes:
    """GIF-variant LZW decode (LSB-first variable-width codes, clear
    and end-of-information codes, 12-bit cap with frozen-table
    deferred-clear handling). Inherently sequential — each code's
    meaning depends on the one before — so this is a per-code Python
    loop by nature, not an unvectorized oversight; the surrounding
    palette mapping and deinterlace are numpy. Output is bounded at
    `max_px` (a crafted stream cannot emit more pixels than the image
    descriptor declares — same bomb contract as the PNG inflate
    bound)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    width = mcs + 1
    prev: bytes | None = None
    out = bytearray()
    acc = nacc = pos = 0
    n = len(data)
    while True:
        while nacc < width:
            if pos >= n:
                raise ValueError(
                    "malformed GIF: LZW stream ends without "
                    "end-of-information code"
                )
            acc |= data[pos] << nacc
            nacc += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nacc -= width
        if code == clear:
            table = list(roots)
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):  # clear/eoi already handled above
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"malformed GIF: LZW code {code} out of range")
        out += entry
        if len(out) > max_px:
            raise ValueError(
                f"malformed GIF: LZW stream yields more than {max_px} pixels"
            )
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1


def _gif_decode(b: bytes) -> tuple:
    """GIF decode WITHOUT codec libraries: header + logical screen
    descriptor walk, global/local color tables, variable-width LZW
    (clear/EOI, 12-bit cap, KwKwK), and 4-pass interlace reorder (a
    numpy row gather). Animated GIFs decode to their FIRST frame —
    the same convention as frame-accurate video sampling's frame 0;
    later image descriptors are ignored. Since round 8 transparency
    and sub-rect first frames COMPOSITE onto an opaque white logical
    screen (the PNG alpha-over-white dialect: transparent pixels and
    uncovered screen area are white; the background-color index is
    ignored, matching modern renderers) and the output dims are the
    LOGICAL SCREEN's. MALFORMED data (truncation, LZW codes out of
    range, palette index overflow, pixel-count mismatch, frame
    rectangle outside the screen) always raises ValueError."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(b) < 13:
        raise ValueError("truncated GIF: missing logical screen descriptor")
    ls_w = b[6] | (b[7] << 8)
    ls_h = b[8] | (b[9] << 8)
    packed = b[10]
    pos = 13
    gct = None
    transparent_idx = None
    if packed & 0x80:
        n_colors = 2 << (packed & 0x07)
        if pos + 3 * n_colors > len(b):
            raise ValueError("truncated GIF: global color table cut short")
        gct = b[pos : pos + 3 * n_colors]
        pos += 3 * n_colors

    def sub_blocks(pos: int) -> tuple[bytes, int]:
        parts = []
        while True:
            if pos >= len(b):
                raise ValueError("truncated GIF: unterminated sub-blocks")
            sz = b[pos]
            pos += 1
            if sz == 0:
                return b"".join(parts), pos
            if pos + sz > len(b):
                raise ValueError("truncated GIF: sub-block cut short")
            parts.append(b[pos : pos + sz])
            pos += sz

    while True:
        if pos >= len(b):
            raise ValueError("truncated GIF: missing trailer")
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer before any image descriptor
            raise ValueError("malformed GIF: no image data before trailer")
        if block == 0x21:  # extension
            if pos >= len(b):
                raise ValueError("truncated GIF: extension label missing")
            label = b[pos]
            pos += 1
            body, pos = sub_blocks(pos)
            if label == 0xF9 and len(body) >= 4 and body[0] & 0x01:
                # graphic control: transparent index applies to the
                # NEXT rendering block (GIF89a spec 23)
                transparent_idx = body[3]
            continue
        if block != 0x2C:
            raise ValueError(f"malformed GIF: unknown block 0x{block:02x}")
        # image descriptor
        if pos + 9 > len(b):
            raise ValueError("truncated GIF: image descriptor cut short")
        left = b[pos] | (b[pos + 1] << 8)
        top = b[pos + 2] | (b[pos + 3] << 8)
        w = b[pos + 4] | (b[pos + 5] << 8)
        h = b[pos + 6] | (b[pos + 7] << 8)
        ipacked = b[pos + 8]
        pos += 9
        if w <= 0 or h <= 0:
            raise ValueError(f"malformed GIF image descriptor: {w}x{h}")
        if left + w > ls_w or top + h > ls_h:
            raise ValueError(
                f"malformed GIF: frame {w}x{h}@{left},{top} outside "
                f"the {ls_w}x{ls_h} logical screen"
            )
        palette = gct
        if ipacked & 0x80:  # local color table wins
            n_colors = 2 << (ipacked & 0x07)
            if pos + 3 * n_colors > len(b):
                raise ValueError("truncated GIF: local color table cut short")
            palette = b[pos : pos + 3 * n_colors]
            pos += 3 * n_colors
        if palette is None:
            raise ValueError("malformed GIF: image without any color table")
        if pos >= len(b):
            raise ValueError("truncated GIF: LZW minimum code size missing")
        mcs = b[pos]
        pos += 1
        if not 2 <= mcs <= 8:
            raise ValueError(f"malformed GIF: LZW minimum code size {mcs}")
        data, pos = sub_blocks(pos)
        idx_bytes = _lzw_decode(data, mcs, w * h)
        if len(idx_bytes) != w * h:
            raise ValueError(
                f"malformed GIF: LZW stream yields {len(idx_bytes)} of "
                f"{w * h} pixels"
            )
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        idx = np.frombuffer(idx_bytes, dtype=np.uint8)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError(
                f"malformed GIF: palette index {int(idx.max())} out of "
                f"range ({pal.shape[0]} entries)"
            )
        rgb = pal[idx].reshape(h, w, 3)
        idx2 = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced: stream rows land in pass order
            order = np.concatenate(
                [np.arange(s, h, st) for s, st in _GIF_PASSES]
            )
            out = np.empty_like(rgb)
            out[order] = rgb
            rgb = out
            oidx = np.empty_like(idx2)
            oidx[order] = idx2
            idx2 = oidx
        if (
            transparent_idx is None
            and (left, top, w, h) == (0, 0, ls_w, ls_h)
        ):
            return "GIF", w, h, 3, rgb.tobytes()
        # composite onto the opaque white logical screen (the PNG
        # alpha-over-white dialect): transparent pixels and uncovered
        # screen area stay white
        canvas = np.full((ls_h, ls_w, 3), 255, dtype=np.uint8)
        region = canvas[top : top + h, left : left + w]
        if transparent_idx is None:
            region[:] = rgb
        else:
            mask = idx2 != transparent_idx
            region[mask] = rgb[mask]
        return "GIF", ls_w, ls_h, 3, canvas.tobytes()


def gif_encode_rgb(
    w: int,
    h: int,
    rgb: bytes,
    interlace: bool = False,
    left: int = 0,
    top: int = 0,
    screen: tuple | None = None,
    transparent_color: tuple | None = None,
) -> bytes:
    """Synthetic-fixture GIF encoder (tests + the m_decode_gif gate
    query synthesize payloads with it — NOT a public pipeline
    operator): builds a per-image palette from the distinct colors
    (≤256 or ValueError), REAL greedy LZW with dictionary growth,
    width promotion and a 4096-entry clear/reset, optional 4-pass
    interlacing — so the decoder's hard paths run against genuinely
    compressed data. `screen`/`left`/`top` place the frame as a
    sub-rect of a larger logical screen; `transparent_color` (an RGB
    triple present in the image) emits a graphic control extension
    flagging that palette entry transparent."""
    if len(rgb) != w * h * 3:
        raise ValueError("rgb length must be w*h*3")
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
    colors, inverse = np.unique(arr, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise ValueError(
            f"gif_encode_rgb: {colors.shape[0]} distinct colors (max 256)"
        )
    # color table size is 2^(k+1); LZW min code size must cover it
    k = 0
    while (2 << k) < colors.shape[0]:
        k += 1
    n_colors = 2 << k
    mcs = max(2, k + 1)
    idx = inverse.astype(np.uint8).reshape(h, w)
    if interlace:
        order = np.concatenate([np.arange(s, h, st) for s, st in _GIF_PASSES])
        idx = idx[order]
    indices = idx.reshape(-1).tobytes()

    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out_codes = bytearray()
    acc = nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out_codes.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, mcs + 1
    emit(clear, width)
    wseq = b""
    for byte in indices:
        wk = wseq + bytes([byte])
        if wk in table:
            wseq = wk
            continue
        emit(table[wseq], width)
        if next_code == 4096:  # table full: clear and restart
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = eoi + 1, mcs + 1
        else:
            table[wk] = next_code
            next_code += 1
            # the decoder's table lags one entry behind; it promotes
            # width after its len hits 1<<width == our next_code - 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        wseq = bytes([byte])
    if wseq:
        emit(table[wseq], width)
    emit(eoi, width)
    if nacc:
        out_codes.append(acc & 0xFF)

    blocks = bytearray()
    for i in range(0, len(out_codes), 255):
        chunk = out_codes[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)

    gct = colors.tobytes() + b"\x00" * (3 * n_colors - colors.size)
    ls_w, ls_h = screen if screen is not None else (w, h)
    if left + w > ls_w or top + h > ls_h:
        raise ValueError("frame rectangle outside the logical screen")
    lsd = bytes(
        [ls_w & 0xFF, ls_w >> 8, ls_h & 0xFF, ls_h >> 8,
         0x80 | (k << 4) | k, 0, 0]
    )
    gce = b""
    if transparent_color is not None:
        want = np.array(transparent_color, dtype=np.uint8)
        hits = np.nonzero((colors == want).all(axis=1))[0]
        if not hits.size:
            raise ValueError("transparent_color not present in the image")
        gce = bytes([0x21, 0xF9, 0x04, 0x01, 0, 0, int(hits[0]), 0x00])
    idesc = bytes(
        [0x2C, left & 0xFF, left >> 8, top & 0xFF, top >> 8,
         w & 0xFF, w >> 8, h & 0xFF, h >> 8,
         0x40 if interlace else 0x00]
    )
    return (
        b"GIF89a" + lsd + gct + gce + idesc + bytes([mcs]) + bytes(blocks)
        + b"\x3B"
    )


def _luma_fx(rgb: bytes) -> int:
    """Exact integer BT.601 luma in milli-units, averaged per pixel.
    Channel sums are strided int64 numpy reductions (arr[c::3] beats
    an axis-0 reduction of the (n, 3) view ~10x — decode_probe.py);
    the 299/587/114 weighting happens in Python ints so the result is
    exact for any image size."""
    n = len(rgb) // 3
    if not n:
        return 0
    arr = np.frombuffer(rgb, dtype=np.uint8, count=n * 3)
    sr = int(arr[0::3].sum(dtype=np.int64))
    sg = int(arr[1::3].sum(dtype=np.int64))
    sb = int(arr[2::3].sum(dtype=np.int64))
    return (299 * sr + 587 * sg + 114 * sb) // n


def _decode_rgb_bytes(b: bytes, alt_hint: str) -> tuple:
    """The ONE image-format dispatch shared by decode_real and
    resize_real: (fmt, w, h, channels, rgb) for
    PPM/PGM/BMP/PNG/GIF/JPEG/TIFF/WEBP-lossless, or
    NotImplementedError (capability limit) for anything else —
    keeping the two operators' accepted-format sets identical by
    construction."""
    if b[:8] == _PNG_SIG:
        return _png_decode(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_decode(b)
    if b[:2] == b"\xff\xd8":
        return jpeg_decode(b)
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return _tiff_decode(b)
    if b[:2] in (b"P6", b"P5"):
        return _ppm_decode(b)
    if b[:2] == b"BM":
        return _bmp_decode(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        from geist_spark.operators.vp8l import webp_decode_rgb

        # VP8L lossless decodes for real (operators/vp8l.py); lossy
        # VP8 raises NotImplementedError inside (a capability limit)
        return webp_decode_rgb(b)
    raise NotImplementedError(
        "payload is not PPM/PGM/BMP/PNG/GIF/JPEG/TIFF/WEBP-lossless; "
        "other codecs (lossy WebP/AVIF/...) need PIL/ffmpeg, not "
        f"present in this environment — pass on_unsupported='null' "
        f"to skip, or use {alt_hint}"
    )


def _nn_resize_rgb(
    rgb: bytes, w: int, h: int, out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor resize of a row-major RGB byte block — pure
    integer index mapping (src = (dst * src_dim) // dst_dim), the
    standard NN convention, exactly replayable in SQL. Two numpy fancy
    index gathers (rows then columns), no per-pixel Python."""
    arr = np.frombuffer(rgb, dtype=np.uint8, count=w * h * 3).reshape(h, w, 3)
    rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return arr[rows][:, cols].tobytes()


def resize_real(
    media: DataFrame,
    width: int = 224,
    height: int = 224,
    on_unsupported: str = "error",
) -> DataFrame:
    """REAL image resize: decode the codec-free formats (the same
    shared image dispatch as decode_real) and nearest-neighbor-
    resample the ACTUAL pixels to (width, height) — integer index
    mapping src = (dst * src_dim) // dst_dim, so the resampled
    luma/hash are exactly replayable. Returns DECODED_SCHEMA rows
    (media_id, format, width, height, channels, mean_luma_fx,
    pixel_md5) for the RESIZED image: width/height are the TARGET
    dims, channels the SOURCE channel count (1 for grayscale —
    matching decode_real's meaning of the column), luma/hash over the
    resized normalized-RGB bytes. Same payload stage and capability
    limits as decode_real (operators/records.py); resize_stub
    remains the plumbing twin for undecodable payloads."""
    if width <= 0 or height <= 0:
        raise ValueError("width and height must be positive")

    def decode(b: bytes) -> list:
        fmt, w, h, ch, rgb = _decode_rgb_bytes(
            b, "resize_stub (deterministic plumbing twin)"
        )
        r = _nn_resize_rgb(rgb, w, h, width, height)
        return [
            (fmt, width, height, ch, _luma_fx(r), hashlib.md5(r).hexdigest())
        ]

    return payload_stage(media, decode, DECODED_SCHEMA, on_unsupported)


def decode_real(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """REAL image decode for the container-friendly formats — Netpbm
    P6/P5, uncompressed 24-bit BMP, and 8-bit PNG (stdlib zlib inflate
    + scanline unfiltering; no codec libraries): actual pixel bytes
    come out, normalized to row-major RGB, with exact integer luma and
    a cross-format pixel hash (the same image encoded as PPM, BMP and
    PNG produces the SAME pixel_md5 — property-tested). Runs as the
    same Arrow-batched `mapInPandas` stage as the stubs: per-batch
    Python boundary, no shuffle, partitioning preserved. Pixel-block
    normalization is numpy-vectorized (SCALE.md "Decoder
    vectorization").

    Two-tier errors (operators/records.py): formats and variants
    outside _decode_rgb_bytes's set are capability limits, so
    on_unsupported="null" decodes what's decodable in a mixed corpus in
    one pass; truncation, non-positive dimensions and a pixel offset
    inside the header are malformed — silent partial decodes are the
    wrong default for a data pipeline."""

    def decode(b: bytes) -> list:
        fmt, w, h, ch, rgb = _decode_rgb_bytes(
            b, "extract_media_features (deterministic stub)"
        )
        return [
            (fmt, w, h, ch, _luma_fx(rgb), hashlib.md5(rgb).hexdigest())
        ]

    return payload_stage(media, decode, DECODED_SCHEMA, on_unsupported)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        # exact integer loudness: max |sample| and floor(mean(sample^2))
        # — no sqrt, so the oracle replays bit-for-bit
        T.StructField("peak_abs", T.LongType(), True),
        T.StructField("mean_square_fx", T.LongType(), True),
    ]
)


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("make", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("has_gps", T.BooleanType(), True),
    ]
)

STRIP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("orig_len", T.LongType(), True),
        T.StructField("stripped_len", T.LongType(), True),
    ]
)


def _jpeg_walk_segments(b: bytes):
    """Yield (marker, segment_bytes) for each pre-entropy JPEG
    segment, then ('SOS', rest-of-stream) and stop — entropy-coded
    data (with embedded RST markers) is never walked. MALFORMED
    (truncated segment, byte where a marker should be) raises
    ValueError."""
    import struct

    if b[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG payload (no SOI)")
    pos, n = 2, len(b)
    while pos + 2 <= n:
        if b[pos] != 0xFF:
            raise ValueError(
                f"malformed JPEG: expected marker at {pos}, "
                f"got 0x{b[pos]:02x}"
            )
        m = b[pos + 1]
        if m == 0xD9:  # EOI before SOS: metadata-only stream
            yield (m, bytes(b[pos : pos + 2]))
            return
        if pos + 4 > n:
            raise ValueError("truncated JPEG: marker without length")
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        if seglen < 2 or pos + 2 + seglen > n:
            raise ValueError("truncated JPEG segment")
        if m == 0xDA:  # start of scan: rest is entropy data + EOI
            yield (m, bytes(b[pos:]))
            return
        yield (m, bytes(b[pos : pos + 2 + seglen]))
        pos += 2 + seglen
    raise ValueError("truncated JPEG: no SOS/EOI")


def _exif_parse(b: bytes) -> dict | None:
    """Parse the first APP1 Exif segment of a JPEG: TIFF-structured
    IFD0 (II or MM), tags Make/Model/Orientation/DateTime and the
    GPS-IFD pointer (0x8825 — presence only; coordinates are exactly
    what strip_metadata exists to remove). Returns None when the
    JPEG carries no Exif APP1."""
    import struct

    for m, seg in _jpeg_walk_segments(b):
        if m != 0xE1 or seg[4:10] != b"Exif\x00\x00":
            continue
        t = seg[10:]
        if t[:4] == b"II*\x00":
            e = "<"
        elif t[:4] == b"MM\x00*":
            e = ">"
        else:
            raise ValueError("malformed Exif: bad TIFF header")
        if len(t) < 8:
            # valid II*/MM* magic but the 4-byte IFD-offset field is
            # truncated — malformed (ValueError), not a capability limit
            raise ValueError("malformed Exif: truncated TIFF header")
        (ifd_off,) = struct.unpack_from(e + "I", t, 4)
        if ifd_off + 2 > len(t):
            raise ValueError("malformed Exif: IFD offset past end")
        (n_tags,) = struct.unpack_from(e + "H", t, ifd_off)
        if ifd_off + 2 + 12 * n_tags > len(t):
            raise ValueError("truncated Exif IFD")
        out = {
            "orientation": None, "make": None, "model": None,
            "datetime": None, "has_gps": False,
        }
        sizes = {1: 1, 2: 1, 3: 2, 4: 4}
        for i in range(n_tags):
            off = ifd_off + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(e + "HHI", t, off)
            if typ not in sizes:
                continue
            total = sizes[typ] * cnt
            src = off + 8
            if total > 4:
                (src,) = struct.unpack_from(e + "I", t, off + 8)
                if src + total > len(t):
                    raise ValueError(f"truncated Exif tag {tag:#x}")
            if tag == 0x8825:
                out["has_gps"] = True
            elif tag == 0x0112 and typ == 3:
                (out["orientation"],) = struct.unpack_from(e + "H", t, src)
            elif typ == 2 and tag in (0x010F, 0x0110, 0x0132):
                raw = t[src : src + cnt].split(b"\x00")[0]
                key = {0x010F: "make", 0x0110: "model",
                       0x0132: "datetime"}[tag]
                out[key] = raw.decode("ascii", errors="replace")
        return out
    return None


# APPn markers always kept by strip_metadata: APP0 (JFIF — decoders
# key colorspace off it) and APP14 (Adobe color transform)
_STRIP_KEEP_APP = {0xE0, 0xEE}

# PNG ancillary chunks DROPPED by strip_metadata: textual metadata,
# Exif, and timestamps (provenance/privacy); everything else —
# critical chunks and rendering-relevant ancillaries (gAMA, cHRM,
# sRGB, pHYs, bKGD, tRNS, sBIT) — is kept verbatim, CRCs untouched
_PNG_STRIP_CHUNKS = {b"tEXt", b"zTXt", b"iTXt", b"eXIf", b"tIME"}


def _png_strip_metadata(b: bytes) -> bytes:
    """Lossless PNG metadata strip: drop tEXt/zTXt/iTXt/eXIf/tIME
    chunks, keep everything else byte-identical (kept chunks' CRCs
    pass through, never recomputed). Chunk CRCs of DROPPED chunks
    are not validated — stripping must not fail on a corrupt comment
    — but the chunk framing itself must be well-formed."""
    import struct

    if b[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG payload")
    out = bytearray(b[:8])
    pos = 8
    while pos + 8 <= len(b):
        (clen,) = struct.unpack_from(">I", b, pos)
        ctype = bytes(b[pos + 4 : pos + 8])
        end = pos + 8 + clen + 4
        if end > len(b):
            raise ValueError(
                f"truncated PNG chunk {ctype!r}: header says {clen} bytes"
            )
        if ctype not in _PNG_STRIP_CHUNKS:
            out += b[pos:end]
        pos = end
        if ctype == b"IEND":
            return bytes(out)
    raise ValueError("truncated PNG: missing IEND chunk")


def _jpeg_strip_metadata(b: bytes) -> bytes:
    """Lossless metadata strip: drop APP1-APP13/APP15 (Exif incl.
    GPS, XMP, Photoshop IRB, ICC) and COM segments; keep APP0/APP14
    and every structural segment (DQT/DHT/SOF/DRI/SOS); entropy data
    passes through verbatim — the decoded pixels are untouched."""
    out = bytearray(b[:2])
    for m, seg in _jpeg_walk_segments(b):
        if m == 0xFE or (0xE1 <= m <= 0xEF and m not in _STRIP_KEEP_APP):
            continue
        out += seg
    return bytes(out)


def exif_extract(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """Per-image EXIF metadata for multimodal curation: orientation,
    camera make/model, capture datetime, and whether a GPS IFD is
    present (privacy flag — pair with strip_metadata). JPEG-only by
    nature (the other supported formats carry no EXIF): non-JPEG
    payloads are a capability limit (operators/records.py's two-tier
    contract, 1:1 NULL shape); a JPEG without an Exif APP1 is a
    normal row (format='JPEG', NULL fields, has_gps=false); damaged
    JPEG/Exif structure is malformed.

    One Arrow stage, zero shuffle — the marker walk stops
    at SOS, so cost is per-image METADATA bytes, not payload size."""

    def decode(b: bytes) -> list:
        info = _exif_parse(b)
        if info is None:
            return [("JPEG", None, None, None, None, False)]
        return [("JPEG", info["orientation"], info["make"], info["model"],
                 info["datetime"], info["has_gps"])]

    return payload_stage(media, decode, EXIF_SCHEMA, on_unsupported)


def strip_metadata(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """Privacy scrub for multimodal corpora: losslessly remove
    metadata from JPEG (APP1-APP13/APP15 + COM: Exif incl. GPS
    coordinates, XMP, Photoshop IRB, ICC, comments — APP0/APP14 and
    all structural segments stay, so any decoder produces the same
    pixels), RIFF/WAVE (LIST/INFO, id3, cue/bext — only
    fmt /data/fact survive, sample bytes verbatim), PNG
    (tEXt/zTXt/iTXt/eXIf/tIME dropped; critical and rendering
    chunks kept with their CRCs untouched), ID3v2-tagged MP3
    (leading ID3v2 tag + trailing ID3v1 block cut; MPEG frames
    verbatim), and FLAC (VORBIS_COMMENT/PICTURE/PADDING blocks
    dropped, last-block flag re-pinned, frames verbatim).
    on_unsupported: 'error' and 'null' as in operators/records.py's
    two-tier contract (other formats are the capability limit), or
    'keep' (pass other formats through unchanged — the right mode
    for mixed corpora: PPM here carries no metadata segments).
    Malformed JPEG/WAV/PNG structure always raises.

    Map-only Arrow stage; output schema keeps orig/stripped lengths
    so the scrub is auditable without re-reading payloads."""
    check_policy(on_unsupported, ("error", "null", "keep"))
    keep = on_unsupported == "keep"

    def decode(b: bytes) -> list:
        try:
            if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                out = _wav_strip_metadata(b)
            elif b[:8] == _PNG_SIG:
                out = _png_strip_metadata(b)
            elif b[:3] == b"ID3":
                out = _mp3_strip_metadata(b)
            elif b[:4] == b"fLaC":
                out = _flac_strip_metadata(b)
            else:
                out = _jpeg_strip_metadata(b)
        except NotImplementedError:
            if not keep:
                raise
            out = b  # 'keep': other formats pass through unchanged
        return [(out, len(b), len(out))]

    return payload_stage(
        media, decode, STRIP_SCHEMA, "error" if keep else on_unsupported
    )


def exif_app1(
    make: str,
    model: str,
    orientation: int,
    datetime_s: str,
    gps: bool = False,
    big_endian: bool = False,
) -> bytes:
    """Synthetic-fixture APP1 Exif segment builder (tests + the
    m_exif_* gate queries — NOT a public operator): TIFF header, IFD0
    with Make/Model/Orientation/DateTime (+ a minimal GPS IFD behind
    the 0x8825 pointer when gps=True), II or MM byte order."""
    import struct

    e = ">" if big_endian else "<"
    mk = make.encode("ascii") + b"\x00"
    md = model.encode("ascii") + b"\x00"
    dt = datetime_s.encode("ascii") + b"\x00"
    n = 4 + (1 if gps else 0)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n + 4
    data = bytearray()

    def val_or_off(raw: bytes) -> bytes:
        if len(raw) <= 4:
            return raw + b"\x00" * (4 - len(raw))
        off = data_off + len(data)
        data.extend(raw)
        return struct.pack(e + "I", off)

    entries = []
    entries.append(
        struct.pack(e + "HHI", 0x010F, 2, len(mk)) + val_or_off(mk)
    )
    entries.append(
        struct.pack(e + "HHI", 0x0110, 2, len(md)) + val_or_off(md)
    )
    entries.append(
        struct.pack(e + "HHI", 0x0112, 3, 1)
        + struct.pack(e + "H", orientation) + b"\x00\x00"
    )
    entries.append(
        struct.pack(e + "HHI", 0x0132, 2, len(dt)) + val_or_off(dt)
    )
    if gps:
        gps_off = data_off + len(data)
        entries.append(
            struct.pack(e + "HHI", 0x8825, 4, 1)
            + struct.pack(e + "I", gps_off)
        )
        # minimal GPS IFD: GPSVersionID 2.3.0.0
        data.extend(
            struct.pack(e + "H", 1)
            + struct.pack(e + "HHI", 0x0000, 1, 4) + bytes([2, 3, 0, 0])
            + struct.pack(e + "I", 0)
        )
    tiff = (
        (b"MM\x00*" if big_endian else b"II*\x00")
        + struct.pack(e + "I", ifd_off)
        + struct.pack(e + "H", n)
        + b"".join(entries)
        + struct.pack(e + "I", 0)
        + bytes(data)
    )
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


MP4_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("major_brand", T.StringType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("has_video", T.BooleanType(), True),
        T.StructField("has_audio", T.BooleanType(), True),
    ]
)


def _mp4_boxes(b: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for each ISO-BMFF box in
    [start, end): 32-bit sizes, size==1 64-bit largesize, size==0
    to-end-of-enclosing. Malformed sizes raise ValueError."""
    import struct

    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", b, pos)
        btype = bytes(b[pos + 4 : pos + 8])
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4: largesize header")
            (size,) = struct.unpack_from(">Q", b, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"malformed MP4: box {btype!r} size {size} at {pos}"
            )
        yield btype, pos + hdr, pos + size
        pos += size
    if pos != end:
        raise ValueError("truncated MP4: trailing partial box header")


def _mp4_parse(b: bytes) -> dict:
    """ISO-BMFF metadata probe WITHOUT codecs: ftyp major brand,
    mvhd duration (v0 32-bit / v1 64-bit times), track count, video
    dimensions from tkhd's 16.16 fixed-point fields, and
    track-handler presence (vide/soun). Iterative container descent
    (explicit stack — the AVI recursion lesson)."""
    import struct

    n = len(b)
    if n < 12 or b[4:8] != b"ftyp":
        raise NotImplementedError(
            "not an ISO-BMFF/MP4 payload (no ftyp box)"
        )
    out = {
        "major_brand": b[8:12].decode("ascii", errors="replace"),
        "duration_ms": None, "n_tracks": 0, "width": None,
        "height": None, "has_video": False, "has_audio": False,
    }
    stack = [(0, n)]
    while stack:
        s, e = stack.pop()
        for btype, bs, be in _mp4_boxes(b, s, e):
            if btype in (b"moov", b"trak", b"mdia"):
                if btype == b"trak":
                    out["n_tracks"] += 1
                stack.append((bs, be))
            elif btype == b"mvhd":
                body = b[bs:be]
                if len(body) < 24:
                    raise ValueError("malformed MP4: short mvhd")
                if body[0] == 1:
                    if len(body) < 32:
                        raise ValueError("malformed MP4: short mvhd v1")
                    (ts,) = struct.unpack_from(">I", body, 20)
                    (dur,) = struct.unpack_from(">Q", body, 24)
                else:
                    ts, dur = struct.unpack_from(">II", body, 12)
                out["duration_ms"] = dur * 1000 // ts if ts else None
            elif btype == b"tkhd":
                body = b[bs:be]
                if len(body) < 16:
                    raise ValueError("malformed MP4: short tkhd")
                wfx, hfx = struct.unpack_from(">II", body, len(body) - 8)
                if wfx and hfx:  # audio tracks carry 0x0
                    out["width"] = wfx >> 16
                    out["height"] = hfx >> 16
            elif btype == b"hdlr":
                if be - bs < 12:
                    raise ValueError("malformed MP4: short hdlr")
                handler = bytes(b[bs + 8 : bs + 12])
                if handler == b"vide":
                    out["has_video"] = True
                elif handler == b"soun":
                    out["has_audio"] = True
    return out


def mp4_probe(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """Video-container metadata for corpus curation WITHOUT codec
    libraries: brand, duration, track count/kinds, and display
    dimensions from the ISO-BMFF box tree (the moov side — entropy
    data in mdat is never touched, so cost is per-file metadata
    bytes). Sample decode remains the documented capability limit
    (no ffmpeg in this environment); this is the real, testable
    Spark-side surface a 100 TB video corpus needs for filtering,
    budgeting and dedup BEFORE any decode. Non-BMFF payloads are a
    capability limit; malformed box trees always raise."""
    return _run_probe(media, _mp4_parse, MP4_SCHEMA, "MP4", on_unsupported)


def mp4_build(
    major: bytes,
    timescale: int,
    duration: int,
    tracks: list,
    largesize_mdat: bool = False,
) -> bytes:
    """Synthetic-fixture ISO-BMFF builder (tests + the m_mp4_probe
    gate — NOT a public operator): ftyp + moov(mvhd + trak(tkhd +
    mdia(hdlr))*) + mdat. `tracks` is a list of (handler, w, h);
    audio tracks pass w=h=0. largesize_mdat exercises the 64-bit
    size path."""
    import struct

    def box(t: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + t + body

    ftyp = box(b"ftyp", major + b"\x00\x00\x02\x00" + b"isom")
    mvhd = box(
        b"mvhd",
        bytes(4) + bytes(8)
        + struct.pack(">II", timescale, duration) + bytes(80),
    )
    traks = b""
    for handler, w, h in tracks:
        tkhd = box(
            b"tkhd", bytes(76) + struct.pack(">II", w << 16, h << 16)
        )
        hdlr = box(b"hdlr", bytes(8) + handler + bytes(13))
        traks += box(b"trak", tkhd + box(b"mdia", hdlr))
    moov = box(b"moov", mvhd + traks)
    if largesize_mdat:
        mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16)
    else:
        mdat = box(b"mdat", b"")
    return ftyp + moov + mdat


def _run_probe(
    media: DataFrame,
    parse_fn,
    schema: "T.StructType",
    fmt_name: str,
    on_unsupported: str,
) -> DataFrame:
    """The header-probe family (mp4/ogg/webp/flac/id3/mkv/RIFF INFO):
    parse_fn returns a dict holding every schema field after
    (media_id, format)."""
    fields = schema.fieldNames()[2:]

    def decode(b: bytes) -> list:
        info = parse_fn(b)
        return [(fmt_name, *(info[k] for k in fields))]

    return payload_stage(media, decode, schema, on_unsupported)


OGG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def _ogg_page(b: bytes, pos: int) -> tuple:
    """Parse one Ogg page header at pos: returns (granule, htype,
    payload_start, payload_len, page_end) or raises ValueError."""
    import struct

    if b[pos : pos + 4] != b"OggS" or pos + 27 > len(b):
        raise ValueError("malformed Ogg: page capture pattern")
    if b[pos + 4] != 0:
        raise ValueError(f"malformed Ogg: stream version {b[pos + 4]}")
    htype = b[pos + 5]
    (granule,) = struct.unpack_from("<q", b, pos + 6)
    nsegs = b[pos + 26]
    seg_end = pos + 27 + nsegs
    if seg_end > len(b):
        raise ValueError("truncated Ogg segment table")
    paylen = sum(b[pos + 27 : seg_end])
    if seg_end + paylen > len(b):
        raise ValueError("truncated Ogg page payload")
    return granule, htype, seg_end, paylen, seg_end + paylen


def _ogg_parse(b: bytes) -> dict:
    """Ogg container probe WITHOUT codecs: codec identification from
    the BOS packet (Vorbis ident header / OpusHead), channels and
    rate from its fixed fields, duration from the LAST page's
    granule position (PCM sample count; Opus granules run at 48 kHz
    less pre-skip). Page CRCs are NOT validated — this is a probe,
    not a demuxer. Vorbis and Opus only; other codecs-in-Ogg
    (Theora, Speex, FLAC) are typed capability limits."""
    import struct

    if b[:4] != b"OggS":
        raise NotImplementedError("not an Ogg payload")
    _g, htype, ps, plen, _end = _ogg_page(b, 0)
    if not htype & 0x02:
        raise ValueError("malformed Ogg: first page is not BOS")
    pkt = b[ps : ps + plen]
    out = {
        "codec": None, "n_channels": None, "sample_rate": None,
        "duration_ms": None,
    }
    preskip = 0
    if pkt[:7] == b"\x01vorbis":
        if len(pkt) < 16:
            raise ValueError("malformed Ogg: short Vorbis ident header")
        out["codec"] = "vorbis"
        out["n_channels"] = pkt[11]
        (out["sample_rate"],) = struct.unpack_from("<I", pkt, 12)
    elif pkt[:8] == b"OpusHead":
        if len(pkt) < 16:
            raise ValueError("malformed Ogg: short OpusHead")
        out["codec"] = "opus"
        out["n_channels"] = pkt[9]
        (preskip,) = struct.unpack_from("<H", pkt, 10)
        (out["sample_rate"],) = struct.unpack_from("<I", pkt, 12)
    else:
        raise NotImplementedError(
            "Ogg codec unsupported (Vorbis/Opus ident packets only)"
        )
    # last-page granule: scan candidate "OggS" positions from the
    # tail (the pattern can occur inside payload bytes — validate)
    pos = len(b)
    for _ in range(16):
        pos = b.rfind(b"OggS", 0, pos)
        if pos < 0:
            break
        try:
            granule, _h, _p, _l, end = _ogg_page(b, pos)
        except ValueError:
            continue
        if end == len(b) and granule >= 0:
            clock = 48000 if out["codec"] == "opus" else out["sample_rate"]
            n = max(granule - (preskip if out["codec"] == "opus" else 0), 0)
            if clock:
                out["duration_ms"] = n * 1000 // clock
            break
    return out


def ogg_probe(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """Ogg Vorbis/Opus metadata probe — the last major audio
    container in the family (WAV/FLAC/MP3 covered): codec, channels,
    rate, duration from BOS ident fields + the final page's granule
    position. Same contract as the other probes."""
    return _run_probe(media, _ogg_parse, OGG_SCHEMA, "OGG", on_unsupported)


def ogg_build(
    codec: str,
    channels: int,
    rate: int,
    granule: int,
    preskip: int = 0,
) -> bytes:
    """Synthetic-fixture Ogg builder (tests + gate — NOT a public
    operator): BOS page with the ident packet + an EOS data page
    carrying the final granule. CRCs are zeroed (the probe does not
    validate them)."""
    import struct

    def page(htype: int, gran: int, payload: bytes, seq: int) -> bytes:
        nsegs = len(payload) // 255 + 1
        segs = bytes([255] * (len(payload) // 255) + [len(payload) % 255])
        return (
            b"OggS\x00" + bytes([htype])
            + struct.pack("<q", gran)
            + struct.pack("<I", 7777)       # serial
            + struct.pack("<I", seq)
            + b"\x00\x00\x00\x00"           # crc (not validated)
            + bytes([nsegs]) + segs + payload
        )

    if codec == "vorbis":
        ident = (
            b"\x01vorbis" + struct.pack("<I", 0)
            + bytes([channels]) + struct.pack("<I", rate)
            + struct.pack("<iii", -1, 128000, -1) + b"\xb8\x01"
        )
    else:
        ident = (
            b"OpusHead\x01" + bytes([channels])
            + struct.pack("<H", preskip) + struct.pack("<I", rate)
            + struct.pack("<hB", 0, 0)
        )
    return (
        page(0x02, 0, ident, 0)
        + page(0x04, granule, b"\xffdata" * 3, 1)
    )


MEDIA_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
    ]
)

# JPEG frame-header markers (SOF0..SOF15 minus DHT/JPG/DAC)
_JPEG_SOF = set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _probe_dims_tiff(b: bytes) -> tuple:
    """Header-only TIFF dims (tags 256/257) — no strip reads."""
    import struct

    e = "<" if b[:4] == b"II*\x00" else ">"
    (ifd,) = struct.unpack_from(e + "I", b, 4)
    if ifd + 2 > len(b):
        raise ValueError("truncated TIFF: IFD offset past end")
    (n,) = struct.unpack_from(e + "H", b, ifd)
    w = h = None
    for i in range(n):
        off = ifd + 2 + 12 * i
        if off + 12 > len(b):
            raise ValueError("truncated TIFF IFD")
        tag, typ = struct.unpack_from(e + "HH", b, off)
        if tag in (256, 257):
            v = (
                struct.unpack_from(e + "H", b, off + 8)[0]
                if typ == 3
                else struct.unpack_from(e + "I", b, off + 8)[0]
            )
            if tag == 256:
                w = v
            else:
                h = v
    if not w or not h:
        raise ValueError("malformed TIFF: missing dimensions")
    return w, h


def _probe_one(b: bytes) -> dict:
    """Magic-dispatch header probe: format + kind + dims/duration
    from HEADER bytes only (never entropy/sample data). The unified
    front door for a mixed crawl bucket — route by `kind`, budget by
    dims/duration, then hand off to the per-format decoders."""
    import struct

    out = {
        "format": None, "kind": None, "width": None, "height": None,
        "duration_ms": None, "sample_rate": None, "n_channels": None,
    }
    if b[:8] == _PNG_SIG:
        if len(b) < 24 or b[12:16] != b"IHDR":
            raise ValueError("malformed PNG: IHDR not first")
        w, h = struct.unpack_from(">II", b, 16)
        out.update(format="PNG", kind="image", width=w, height=h)
    elif b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) < 10:
            raise ValueError("truncated GIF header")
        w, h = struct.unpack_from("<HH", b, 6)
        out.update(format="GIF", kind="image", width=w, height=h)
    elif b[:2] == b"BM":
        if len(b) < 26:
            raise ValueError("truncated BMP header")
        w, h = struct.unpack_from("<ii", b, 18)
        out.update(format="BMP", kind="image", width=w, height=abs(h))
    elif b[:2] in (b"P6", b"P5") and len(b) > 2 and b[2:3].isspace():
        toks = b[:200].split()
        if len(toks) < 3:
            raise ValueError("truncated PPM/PGM header")
        try:
            w, h = int(toks[1]), int(toks[2])
        except ValueError:
            raise ValueError("malformed PPM/PGM header token") from None
        out.update(
            format=b[:2].decode(), kind="image", width=w, height=h
        )
    elif b[:4] in (b"II*\x00", b"MM\x00*"):
        w, h = _probe_dims_tiff(b)
        out.update(format="TIFF", kind="image", width=w, height=h)
    elif b[:2] == b"\xff\xd8":
        for m, seg in _jpeg_walk_segments(b):
            if m in _JPEG_SOF:
                if len(seg) < 9:
                    raise ValueError("malformed JPEG: short SOF")
                h, w = struct.unpack_from(">HH", seg, 5)
                out.update(
                    format="JPEG", kind="image", width=w, height=h
                )
                break
        else:
            raise ValueError("malformed JPEG: no SOF before scan")
    elif b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        info = _webp_parse(b)
        out.update(
            format="WEBP", kind="image",
            width=info["width"], height=info["height"],
        )
    elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        pos, fmt, data_len = 12, None, None
        while pos + 8 <= len(b):
            cid = bytes(b[pos : pos + 4])
            (clen,) = struct.unpack_from("<I", b, pos + 4)
            if cid == b"fmt " and pos + 8 + 16 <= len(b):
                fmt = struct.unpack_from("<HHIIHH", b, pos + 8)
            elif cid == b"data":
                data_len = min(clen, len(b) - pos - 8)
            pos += 8 + clen + (clen & 1)
        if fmt is None:
            raise ValueError("malformed WAV: missing fmt chunk")
        _afmt, ch, rate, byterate, _al, _bits = fmt
        out.update(
            format="WAV", kind="audio", sample_rate=rate,
            n_channels=ch,
            duration_ms=(
                data_len * 1000 // byterate
                if byterate and data_len is not None
                else None
            ),
        )
    elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        # LIST hdrl -> avih: usPerFrame, totalFrames@+16, w@+32 h@+36
        pos = 12
        while pos + 8 <= len(b):
            cid = bytes(b[pos : pos + 4])
            (clen,) = struct.unpack_from("<I", b, pos + 4)
            if cid == b"LIST" and b[pos + 8 : pos + 12] == b"hdrl":
                inner = pos + 12
                if b[inner : inner + 4] == b"avih":
                    body = inner + 8
                    if body + 40 > len(b):
                        raise ValueError("truncated AVI avih")
                    uspf, = struct.unpack_from("<I", b, body)
                    total, = struct.unpack_from("<I", b, body + 16)
                    w, h = struct.unpack_from("<II", b, body + 32)
                    out.update(
                        format="AVI", kind="video", width=w, height=h,
                        duration_ms=(
                            total * uspf // 1000 if uspf else None
                        ),
                    )
                    return out
            pos += 8 + clen + (clen & 1)
        raise ValueError("malformed AVI: no avih header")
    elif b[:4] == b"fLaC":
        info = _flac_parse(b)
        out.update(
            format="FLAC", kind="audio",
            sample_rate=info["sample_rate"],
            n_channels=info["n_channels"],
            duration_ms=info["duration_ms"],
        )
    elif b[:3] == b"ID3" or (
        len(b) >= 2 and b[0] == 0xFF and b[1] & 0xE0 == 0xE0
    ):
        info = _mp3_parse(b)
        out.update(
            format="MP3", kind="audio",
            sample_rate=info["sample_rate"],
            n_channels=info["n_channels"],
            duration_ms=info["duration_ms"],
        )
    elif b[:4] == b"OggS":
        info = _ogg_parse(b)
        out.update(
            format="OGG", kind="audio",
            sample_rate=info["sample_rate"],
            n_channels=info["n_channels"],
            duration_ms=info["duration_ms"],
        )
    elif len(b) >= 12 and b[4:8] == b"ftyp":
        info = _mp4_parse(b)
        out.update(
            format="MP4",
            kind="video" if info["has_video"] else "audio",
            width=info["width"], height=info["height"],
            duration_ms=info["duration_ms"],
        )
    elif b[:4] == b"\x1a\x45\xdf\xa3":
        info = _mkv_parse(b)
        out.update(
            format="WEBM" if info["doc_type"] == "webm" else "MKV",
            kind="video" if info["has_video"] else "audio",
            width=info["width"], height=info["height"],
            duration_ms=info["duration_ms"],
        )
    else:
        raise NotImplementedError(
            "unrecognized media payload (no known magic)"
        )
    return out


def media_probe(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """THE front door for a mixed multimodal bucket: sniff every
    payload's magic and emit one common schema — format, kind
    (image/audio/video), dimensions, duration, audio params — from
    HEADER bytes only. Downstream routing (decode the images,
    fingerprint the audio, probe-then-skip oversized video) hangs
    off this one map-only pass; at 100 TB it reads metadata bytes,
    never payload bodies. Unknown magic is a capability limit;
    structurally damaged headers of recognized formats are malformed
    (operators/records.py's two-tier contract)."""
    fields = MEDIA_PROBE_SCHEMA.fieldNames()[1:]

    def decode(b: bytes) -> list:
        info = _probe_one(b)
        return [tuple(info[k] for k in fields)]

    return payload_stage(media, decode, MEDIA_PROBE_SCHEMA, on_unsupported)


def audio_envelope_fingerprint(
    media: DataFrame,
    frame: int = 250,
    n_levels: int = 8,
    shingle: int = 4,
    on_unsupported: str = "error",
) -> DataFrame:
    """Coarse acoustic fingerprint for AUDIO near-dup detection — the
    audio twin of MinHash (text) and dHash (image): decode WAV (all
    supported codecs), per-frame absolute-sum envelope, quantized to
    `n_levels` RELATIVE to the clip max (sum * n_levels //
    (max_sum + 1) — exact integer, so the oracle replays it), then
    `shingle`-frame windows hashed md5-32bit WITH the window
    position in the key (positional banding — the band_id-in-the-
    join-key rule from MinHash-LSH: a hash is shared only by clips
    agreeing at the SAME offset, which keeps hot-hash load flat as
    the corpus grows; the tradeoff is that detection is
    time-ALIGNED, not shift-invariant). Output one row per window:
    (media_id, pos 1-based, sh_hash).

    Envelope-preserving edits (within-frame permutations, frame-sum-
    neutral noise) keep the fingerprint identical; clips shorter than
    frame*shingle emit no rows. The decode runs in one Arrow stage;
    shingling/hashing are JVM array expressions.

    Scale shape: map-only fingerprinting (zero shuffle); near-dup
    pairing joins at HASH grain (audio_near_dup_pairs), never
    all-pairs — the d_minhash/dhash shape on the audio axis."""
    if frame < 1 or n_levels < 2 or shingle < 1:
        raise ValueError("frame >= 1, n_levels >= 2, shingle >= 1")

    def decode(b: bytes) -> list:
        _ch, _r, _b, samples = _wav_samples(b)
        a = np.abs(samples)
        nf = a.shape[0] // frame
        if not nf:
            return [([],)]
        sums = a[: nf * frame].reshape(nf, frame).sum(axis=1)
        mx = int(sums.max())
        return [((sums * n_levels // (mx + 1)).astype(np.int32).tolist(),)]

    lv = payload_stage(
        media, decode, "media_id long, levels array<int>", on_unsupported
    )
    lcol = F.col("levels")
    n_sh = F.size(lcol) - shingle + 1
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.struct(
            i.alias("pos"),
            F.conv(
                F.md5(
                    F.concat(
                        i.cast("string"),
                        F.lit(":"),
                        F.array_join(
                            F.transform(
                                F.slice(lcol, i, shingle),
                                lambda x: x.cast("string"),
                            ),
                            "-",
                        ),
                    )
                ).substr(1, 8),
                16,
                10,
            )
            .cast("long")
            .alias("sh_hash"),
        ),
    )
    return (
        lv.filter(F.size(lcol) >= shingle)
        .select("media_id", F.explode(shingles).alias("s"))
        .select(
            "media_id",
            F.col("s.pos").alias("pos"),
            F.col("s.sh_hash").alias("sh_hash"),
        )
    )


def audio_near_dup_pairs(
    media: DataFrame,
    frame: int = 250,
    n_levels: int = 8,
    shingle: int = 4,
    min_shared: int = 8,
    max_hash_clips: int = 32,
) -> DataFrame:
    """Audio near-dup candidates: clips sharing >= min_shared
    DISTINCT envelope-shingle hashes. Hash-grain grouping with
    in-row sorted-combination pair expansion (the winnow_overlap
    shape — no self-join, the fingerprint stage runs once) and a
    hot-hash cap (silence/constant-tone shingles would otherwise
    join quadratically). Output (clip_a, clip_b, shared_shingles),
    clip_a < clip_b."""
    fps = audio_envelope_fingerprint(
        media, frame, n_levels, shingle, on_unsupported="null"
    )
    byhash = (
        fps.groupBy("sh_hash")
        .agg(F.array_sort(F.collect_set("media_id")).alias("clips"))
        .filter(F.size("clips").between(2, max_hash_clips))
    )
    clips = F.col("clips")
    pairs = F.explode(
        F.flatten(
            F.transform(
                clips,
                lambda x, i: F.transform(
                    F.slice(clips, i + F.lit(2), F.size(clips)),
                    lambda y: F.struct(
                        x.alias("clip_a"), y.alias("clip_b")
                    ),
                ),
            )
        )
    )
    return (
        byhash.select(pairs.alias("p"))
        .groupBy(
            F.col("p.clip_a").alias("clip_a"),
            F.col("p.clip_b").alias("clip_b"),
        )
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )


WEBP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("variant", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("has_alpha", T.BooleanType(), True),
        T.StructField("has_animation", T.BooleanType(), True),
        T.StructField("has_exif", T.BooleanType(), True),
    ]
)


def _webp_parse(b: bytes) -> dict:
    """WebP header probe WITHOUT codecs: dimensions + feature flags
    from the first VP8 (lossy keyframe tag), VP8L (lossless
    bitstream header) or VP8X (extended canvas) chunk. Pixel decode
    stays a capability limit; this is the curation surface."""
    import struct

    if len(b) < 16 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise NotImplementedError("not a RIFF/WEBP payload")
    pos = 12
    while pos + 8 <= len(b):
        cid = bytes(b[pos : pos + 4])
        (clen,) = struct.unpack_from("<I", b, pos + 4)
        body = bytes(b[pos + 8 : pos + 8 + clen])
        if len(body) < clen:
            raise ValueError(f"truncated WEBP chunk {cid!r}")
        if cid == b"VP8 ":
            if clen < 10:
                raise ValueError("malformed WEBP: short VP8 chunk")
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError(
                    "malformed WEBP: VP8 keyframe start code missing"
                )
            w = struct.unpack_from("<H", body, 6)[0] & 0x3FFF
            h = struct.unpack_from("<H", body, 8)[0] & 0x3FFF
            return {
                "variant": "lossy", "width": w, "height": h,
                "has_alpha": False, "has_animation": False,
                "has_exif": False,
            }
        if cid == b"VP8L":
            if clen < 5 or body[0] != 0x2F:
                raise ValueError("malformed WEBP: bad VP8L signature")
            bits = struct.unpack_from("<I", body, 1)[0]
            return {
                "variant": "lossless",
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "has_alpha": bool((bits >> 28) & 1),
                "has_animation": False,
                "has_exif": False,
            }
        if cid == b"VP8X":
            if clen < 10:
                raise ValueError("malformed WEBP: short VP8X chunk")
            flags = body[0]
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return {
                "variant": "extended", "width": w, "height": h,
                "has_alpha": bool(flags & 0x10),
                "has_animation": bool(flags & 0x02),
                "has_exif": bool(flags & 0x08),
            }
        pos += 8 + clen + (clen & 1)
    raise ValueError("malformed WEBP: no VP8/VP8L/VP8X chunk")


def webp_probe(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """WebP metadata probe (webp is the dominant modern web image
    format; its pixel decode needs libwebp — not in this
    environment — but filtering/budgeting only needs this header
    surface). Same contract as mp4_probe."""
    return _run_probe(media, _webp_parse, WEBP_SCHEMA, "WEBP", on_unsupported)


def webp_build(
    variant: str,
    w: int,
    h: int,
    alpha: bool = False,
    anim: bool = False,
    exif: bool = False,
) -> bytes:
    """Synthetic-fixture WebP builder (tests + gate — NOT a public
    operator): real header bit layouts, dummy entropy bytes."""
    import struct

    if variant == "lossy":
        body = (
            b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", w & 0x3FFF, h & 0x3FFF) + b"\x00" * 4
        )
        chunk = b"VP8 "
    elif variant == "lossless":
        bits = (w - 1) | ((h - 1) << 14) | (int(alpha) << 28)
        body = b"\x2f" + struct.pack("<I", bits) + b"\x00" * 3
        chunk = b"VP8L"
    else:
        flags = (
            (0x10 if alpha else 0) | (0x02 if anim else 0)
            | (0x08 if exif else 0)
        )
        body = (
            bytes([flags]) + b"\x00" * 3
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
        )
        chunk = b"VP8X"
    inner = chunk + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        inner += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"WEBP" + inner


FLAC_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("total_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("artist", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("has_picture", T.BooleanType(), True),
    ]
)


def _flac_blocks(b: bytes):
    """Yield (block_type, body, is_last, start, end) for each FLAC
    metadata block; returns the offset where frames begin via the
    generator's final is_last block end."""
    pos = 4
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated FLAC metadata block header")
        hdr = b[pos]
        btype = hdr & 0x7F
        last = bool(hdr & 0x80)
        blen = int.from_bytes(b[pos + 1 : pos + 4], "big")
        end = pos + 4 + blen
        if end > len(b):
            raise ValueError(
                f"truncated FLAC metadata block type {btype}"
            )
        yield btype, bytes(b[pos + 4 : end]), last, pos, end
        if last:
            return
        pos = end


# MPEG audio frame tables (ISO 11172-3 / 13818-3, public spec):
# bitrate kbps by [version-group][layer][index]; sample rates by
# [version][index]; samples per frame by (version-group, layer)
_MP3_BITRATES = {
    # MPEG1: layer 1/2/3
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320],
    # MPEG2 / 2.5
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
}
_MP3_RATES = {3: [44100, 48000, 32000],   # version bits 11 = MPEG1
              2: [22050, 24000, 16000],   # 10 = MPEG2
              0: [11025, 12000, 8000]}    # 00 = MPEG2.5


def _mp3_parse(b: bytes) -> dict:
    """MP3 duration/params via the frame-header walk: skip the ID3v2
    tag (and a trailing ID3v1 block), then either trust a Xing/Info/
    VBRI header's frame count (the VBR fast path) or walk every
    frame header summing samples (CBR and headerless VBR — exact).
    Free-format bitrate (index 0) is a CAPABILITY limit (the frame
    length is not derivable from the header); bad sync, reserved
    version/layer/bitrate/rate indices, and a payload with no
    complete frame are MALFORMED."""
    import struct

    pos = 0
    if b[:3] == b"ID3":
        pos = _id3_parse(b)["tag_size"]
    end = len(b)
    if end - pos >= 128 and b[end - 128 : end - 125] == b"TAG":
        end -= 128
    frames = 0
    samples = 0
    sr = None
    n_channels = None
    while pos + 4 <= end:
        h0, h1, h2, h3 = b[pos : pos + 4]
        if not (h0 == 0xFF and h1 & 0xE0 == 0xE0):
            if frames:
                break  # trailing junk/padding after the audio stream
            raise ValueError(
                f"malformed MP3: no frame sync at offset {pos}"
            )
        vbits = (h1 >> 3) & 0x03
        lbits = (h1 >> 1) & 0x03
        if vbits == 1 or lbits == 0:
            raise ValueError("malformed MP3: reserved version/layer")
        layer = 4 - lbits  # bits 11=L1, 10=L2, 01=L3
        vgroup = 1 if vbits == 3 else 2
        br_idx = (h2 >> 4) & 0x0F
        sr_idx = (h2 >> 2) & 0x03
        padding = (h2 >> 1) & 0x01
        mode = (h3 >> 6) & 0x03
        if br_idx == 15 or sr_idx == 3:
            raise ValueError("malformed MP3: reserved bitrate/rate index")
        if br_idx == 0:
            raise NotImplementedError(
                "free-format MP3 bitrate unsupported (frame length "
                "requires a sync scan)"
            )
        bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
        rate = _MP3_RATES[vbits][sr_idx]
        if sr is None:
            sr, n_channels = rate, (1 if mode == 3 else 2)
        if layer == 1:
            spf = 384
            flen = (12 * bitrate // rate + padding) * 4
        else:
            spf = 1152 if (layer == 2 or vgroup == 1) else 576
            flen = spf // 8 * bitrate // rate + padding
        if flen <= 4:
            raise ValueError("malformed MP3: degenerate frame length")
        if pos + flen > end:
            if frames:
                break  # final frame truncated: count what played
            raise ValueError("truncated MP3: first frame cut short")
        if frames == 0:
            # Xing/Info (after the side info) or VBRI (fixed +36):
            # a frame-count field short-circuits the walk (VBR path)
            side = (
                (17 if mode == 3 else 32)
                if vgroup == 1
                else (9 if mode == 3 else 17)
            )
            for off, tag in ((pos + 4 + side, b"Xing"),
                             (pos + 4 + side, b"Info"),
                             (pos + 36, b"VBRI")):
                if b[off : off + 4] != tag:
                    continue
                if tag == b"VBRI":
                    if off + 18 > end:
                        raise ValueError("truncated MP3 VBRI header")
                    (nf,) = struct.unpack_from(">I", b, off + 14)
                else:
                    (flags,) = struct.unpack_from(">I", b, off + 4)
                    if not flags & 0x01:
                        continue  # no frame-count field
                    (nf,) = struct.unpack_from(">I", b, off + 8)
                return {
                    "sample_rate": sr,
                    "n_channels": n_channels,
                    "duration_ms": nf * spf * 1000 // sr,
                }
        frames += 1
        samples += spf
        pos += flen
    if frames == 0:
        raise ValueError("malformed MP3: no complete audio frame")
    return {
        "sample_rate": sr,
        "n_channels": n_channels,
        "duration_ms": samples * 1000 // sr,
    }


def mp3_build(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    stereo: bool = True,
    id3_tag: bytes = b"",
    xing_frames: int | None = None,
    vbri_frames: int | None = None,
    id3v1: bool = False,
) -> bytes:
    """Synthetic-fixture MP3 builder (tests + the m_media_probe gate
    — NOT a public operator): MPEG1 Layer III frame headers with
    real header-derived frame lengths and zero-filled payloads;
    optional leading ID3v2 tag, optional Xing or VBRI header in the
    first frame, optional trailing ID3v1 block."""
    import struct

    br_idx = _MP3_BITRATES[(1, 3)].index(bitrate_kbps)
    sr_idx = _MP3_RATES[3].index(sample_rate)
    mode = 0 if stereo else 3
    hdr = bytes([
        0xFF,
        0xE0 | (3 << 3) | (1 << 1) | 1,  # MPEG1, Layer III, no CRC
        (br_idx << 4) | (sr_idx << 2),
        mode << 6,
    ])
    flen = 1152 // 8 * (bitrate_kbps * 1000) // sample_rate
    out = bytearray(id3_tag)
    for i in range(n_frames):
        body = bytearray(flen - 4)
        if i == 0 and xing_frames is not None:
            side = 17 if mode == 3 else 32
            body[side : side + 4] = b"Xing"
            body[side + 4 : side + 8] = struct.pack(">I", 0x01)
            body[side + 8 : side + 12] = struct.pack(">I", xing_frames)
        if i == 0 and vbri_frames is not None:
            body[32 : 32 + 4] = b"VBRI"
            body[32 + 14 : 32 + 18] = struct.pack(">I", vbri_frames)
        out += hdr + body
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)


def _flac_parse(b: bytes) -> dict:
    """FLAC metadata probe WITHOUT the codec: STREAMINFO bit fields
    (sample rate / channels / bit depth / total samples -> duration)
    and VORBIS_COMMENT artist/title, plus PICTURE presence. Audio
    frame decode stays a capability limit."""
    import struct

    if b[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC payload")
    out = {
        "sample_rate": None, "n_channels": None,
        "bits_per_sample": None, "total_samples": None,
        "duration_ms": None, "artist": None, "title": None,
        "has_picture": False,
    }
    for btype, body, _last, _s, _e in _flac_blocks(b):
        if btype == 0:  # STREAMINFO
            if len(body) < 34:
                raise ValueError("malformed FLAC: short STREAMINFO")
            (packed,) = struct.unpack_from(">Q", body, 10)
            out["sample_rate"] = packed >> 44
            out["n_channels"] = ((packed >> 41) & 0x7) + 1
            out["bits_per_sample"] = ((packed >> 36) & 0x1F) + 1
            out["total_samples"] = packed & ((1 << 36) - 1)
            if out["sample_rate"]:
                out["duration_ms"] = (
                    out["total_samples"] * 1000 // out["sample_rate"]
                )
        elif btype == 4:  # VORBIS_COMMENT (little-endian lengths)
            pos = 0
            if len(body) < 8:
                raise ValueError("malformed FLAC: short VORBIS_COMMENT")
            (vlen,) = struct.unpack_from("<I", body, 0)
            pos = 4 + vlen
            if pos + 4 > len(body):
                raise ValueError("truncated FLAC vendor string")
            (n,) = struct.unpack_from("<I", body, pos)
            pos += 4
            for _ in range(n):
                if pos + 4 > len(body):
                    raise ValueError("truncated FLAC comment count")
                (clen,) = struct.unpack_from("<I", body, pos)
                pos += 4
                item = body[pos : pos + clen]
                if len(item) < clen:
                    raise ValueError("truncated FLAC comment")
                pos += clen
                key, _, val = item.partition(b"=")
                k = key.decode("ascii", errors="replace").upper()
                if k in ("ARTIST", "TITLE") and out[k.lower()] is None:
                    out[k.lower()] = val.decode(
                        "utf-8", errors="replace"
                    )
        elif btype == 6:
            out["has_picture"] = True
    return out


def _flac_strip_metadata(b: bytes) -> bytes:
    """Strip VORBIS_COMMENT, PICTURE and PADDING blocks from a FLAC
    payload, re-flagging the final kept block as last; STREAMINFO,
    seektables/cuesheets and the frame bytes pass through
    verbatim."""
    if b[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC payload")
    kept = []
    frames_at = None
    for btype, body, last, s, e in _flac_blocks(b):
        if btype not in (1, 4, 6):  # 1=PADDING
            kept.append((btype, body))
        if last:
            frames_at = e
    if not kept:
        raise ValueError("malformed FLAC: no STREAMINFO block")
    out = bytearray(b"fLaC")
    for i, (btype, body) in enumerate(kept):
        hdr = btype | (0x80 if i == len(kept) - 1 else 0)
        out.append(hdr)
        out += len(body).to_bytes(3, "big")
        out += body
    return bytes(out) + b[frames_at:]


def flac_probe(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """FLAC metadata for audio-corpus curation: STREAMINFO fields,
    duration, Vorbis-comment artist/title, embedded-picture flag —
    the filtering surface; frame decode stays a capability limit.
    Same contract as mp4_probe/webp_probe."""
    return _run_probe(media, _flac_parse, FLAC_SCHEMA, "FLAC", on_unsupported)


def flac_build(
    sample_rate: int,
    channels: int,
    bps: int,
    total_samples: int,
    comments: dict | None = None,
    picture: bool = False,
    padding: int = 0,
    frames: bytes = b"\xff\xf8fake-frames",
) -> bytes:
    """Synthetic-fixture FLAC builder (tests + gates — NOT a public
    operator): real STREAMINFO bit packing + Vorbis comments."""
    import struct

    packed = (
        (sample_rate << 44) | ((channels - 1) << 41)
        | ((bps - 1) << 36) | total_samples
    )
    si = bytes(10) + struct.pack(">Q", packed) + bytes(16)
    blocks = [(0, si)]
    if comments is not None:
        vendor = b"geist-fixture"
        body = struct.pack("<I", len(vendor)) + vendor
        body += struct.pack("<I", len(comments))
        for k, v in comments.items():
            item = f"{k}={v}".encode("utf-8")
            body += struct.pack("<I", len(item)) + item
        blocks.append((4, body))
    if picture:
        blocks.append((6, bytes(20)))
    if padding:
        blocks.append((1, bytes(padding)))
    out = bytearray(b"fLaC")
    for i, (btype, body) in enumerate(blocks):
        out.append(btype | (0x80 if i == len(blocks) - 1 else 0))
        out += len(body).to_bytes(3, "big")
        out += body
    return bytes(out) + frames


ID3_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("version", T.IntegerType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("artist", T.StringType(), True),
        T.StructField("album", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("has_image", T.BooleanType(), True),
    ]
)

_ID3_TEXT_FRAMES = {
    b"TIT2": "title",
    b"TPE1": "artist",
    b"TALB": "album",
    b"TDRC": "date",   # v2.4
    b"TYER": "date",   # v2.3
}


def _syncsafe(b: bytes) -> int:
    if any(x & 0x80 for x in b):
        raise ValueError("malformed ID3: non-syncsafe size byte")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3_text(body: bytes) -> str:
    """Decode an ID3v2 text frame body: leading encoding byte
    (0 latin-1, 1 utf-16 BOM, 2 utf-16-be, 3 utf-8), NUL-terminated."""
    if not body:
        return ""
    enc, rest = body[0], body[1:]
    if enc == 0:
        return rest.split(b"\x00")[0].decode("latin-1", errors="replace")
    if enc == 1:
        return rest.decode("utf-16", errors="replace").split("\x00")[0]
    if enc == 2:
        return rest.decode("utf-16-be", errors="replace").split("\x00")[0]
    if enc == 3:
        return rest.split(b"\x00")[0].decode("utf-8", errors="replace")
    raise ValueError(f"malformed ID3: text encoding {enc}")


# ID3v2.2 3-byte frame ids -> output fields (informal v2.2 spec)
_ID3V22_TEXT_FRAMES = {
    b"TT2": "title", b"TP1": "artist", b"TAL": "album", b"TYE": "date",
}


def _id3_parse(b: bytes) -> dict:
    """Parse an ID3v2.2/2.3/2.4 tag: title/artist/album/date text
    frames (TIT2/TPE1/TALB/TDRC|TYER, or the v2.2 3-byte ids
    TT2/TP1/TAL/TYE) + embedded-image (APIC/PIC) presence.
    Unsynchronized tags are a typed capability limit (round 8 —
    previously they would mis-parse); structural damage raises
    ValueError. Returns tag_size so strip can cut the tag."""
    import struct

    if b[:3] != b"ID3":
        raise NotImplementedError("not an ID3v2-tagged payload")
    if len(b) < 10:
        raise ValueError("truncated ID3 header")
    ver, flags = b[3], b[5]
    if flags & 0x80:
        raise NotImplementedError(
            "unsynchronized ID3v2 tag unsupported (frame sizes would "
            "mis-parse)"
        )
    if ver not in (2, 3, 4):
        raise NotImplementedError(f"ID3v2.{ver} unsupported")
    size = _syncsafe(b[6:10])
    if 10 + size > len(b):
        raise ValueError(
            f"truncated ID3 tag: header says {size} bytes"
        )
    out = {
        "version": ver, "title": None, "artist": None, "album": None,
        "date": None, "has_image": False, "tag_size": 10 + size,
    }
    if ver == 4 and flags & 0x10:
        # ID3v2.4 footer flag: tag occupies header + size + 10-byte
        # footer ("3DI" block); without this, strip leaves the footer
        # at the head of the audio stream.
        out["tag_size"] += 10
    if ver == 2:
        # v2.2 layout: 3-byte frame ids + 3-byte big-endian sizes,
        # no frame flags, no extended header/footer
        pos, end = 10, 10 + size
        while pos + 6 <= end:
            fid = bytes(b[pos : pos + 3])
            if fid == b"\x00\x00\x00":  # padding
                break
            fsize = int.from_bytes(b[pos + 3 : pos + 6], "big")
            body_end = pos + 6 + fsize
            if body_end > end:
                raise ValueError(f"truncated ID3 frame {fid!r}")
            body = bytes(b[pos + 6 : body_end])
            key = _ID3V22_TEXT_FRAMES.get(fid)
            if key and out[key] is None:
                out[key] = _id3_text(body)
            elif fid == b"PIC":
                out["has_image"] = True
            pos = body_end
        return out
    pos = 10
    if flags & 0x40:  # extended header: skip it
        if ver == 4:
            ehs = _syncsafe(b[10:14])
        else:
            (ehs,) = struct.unpack_from(">I", b, 10)
            ehs += 4
        pos += ehs
    end = 10 + size
    while pos + 10 <= end:
        fid = bytes(b[pos : pos + 4])
        if fid == b"\x00\x00\x00\x00":  # padding
            break
        raw = b[pos + 4 : pos + 8]
        fsize = _syncsafe(raw) if ver == 4 else struct.unpack(">I", raw)[0]
        body_end = pos + 10 + fsize
        if body_end > end:
            raise ValueError(f"truncated ID3 frame {fid!r}")
        body = bytes(b[pos + 10 : body_end])
        key = _ID3_TEXT_FRAMES.get(fid)
        if key and out[key] is None:
            out[key] = _id3_text(body)
        elif fid == b"APIC":
            out["has_image"] = True
        pos = body_end
    return out


def _mp3_strip_metadata(b: bytes) -> bytes:
    """Strip the leading ID3v2 tag and any trailing ID3v1 block
    (128 bytes starting 'TAG') from an MP3 payload; the audio frames
    pass through verbatim."""
    info = _id3_parse(b)
    out = b[info["tag_size"]:]
    if len(out) >= 128 and out[-128:-125] == b"TAG":
        out = out[:-128]
    return out


def id3_extract(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """MP3 metadata for audio-corpus curation: ID3v2.3/2.4 title/
    artist/album/date text frames (all four text encodings) and
    embedded-image (APIC) presence — the MPEG audio frames
    themselves remain a codec capability limit; this is the real
    Spark-side filtering surface. Untagged/non-ID3 payloads are a
    capability limit; structural damage always raises."""
    return _run_probe(media, _id3_parse, ID3_SCHEMA, "MP3", on_unsupported)


def id3v2_build(
    title: str,
    artist: str,
    album: str,
    date: str,
    version: int = 4,
    apic: bool = False,
    encodings: tuple = (3, 3, 3, 3),
    footer: bool = False,
) -> bytes:
    """Synthetic-fixture ID3v2 tag builder (tests + the m_id3_extract
    gate — NOT a public operator)."""
    import struct

    def enc_text(s: str, enc: int) -> bytes:
        if enc == 0:
            return b"\x00" + s.encode("latin-1")
        if enc == 1:
            return b"\x01" + s.encode("utf-16")  # BOM included
        if enc == 2:
            return b"\x02" + s.encode("utf-16-be")
        return b"\x03" + s.encode("utf-8")

    def frame(fid: bytes, body: bytes) -> bytes:
        if version == 4:
            sz = bytes(
                [(len(body) >> s) & 0x7F for s in (21, 14, 7, 0)]
            )
        else:
            sz = struct.pack(">I", len(body))
        return fid + sz + b"\x00\x00" + body

    date_fid = b"TDRC" if version == 4 else b"TYER"
    frames = (
        frame(b"TIT2", enc_text(title, encodings[0]))
        + frame(b"TPE1", enc_text(artist, encodings[1]))
        + frame(b"TALB", enc_text(album, encodings[2]))
        + frame(date_fid, enc_text(date, encodings[3]))
    )
    if apic:
        frames += frame(
            b"APIC", b"\x00image/png\x00\x03\x00" + b"\x89PNGfake"
        )
    sz = len(frames)
    flags = 0x10 if (footer and version == 4) else 0
    size_ss = bytes([(sz >> s) & 0x7F for s in (21, 14, 7, 0)])
    hdr = b"ID3" + bytes([version, 0, flags]) + size_ss
    out = hdr + frames
    if footer and version == 4:
        # v2.4 footer: header copy with reversed id, appended after
        # the frames; tag then occupies 10 + size + 10 bytes
        out += b"3DI" + bytes([version, 0, flags]) + size_ss
    return out


RIFF_INFO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("artist", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("software", T.StringType(), True),
        T.StructField("has_id3", T.BooleanType(), True),
    ]
)

# LIST/INFO subchunk ids -> output fields (RIFF spec INFO tags)
_RIFF_INFO_TAGS = {
    b"IART": "artist",
    b"INAM": "title",
    b"ICRD": "date",
    b"ISFT": "software",
}

# chunks a stripped WAV keeps: format, audio data, and the
# compressed-format frame count (structural, not metadata)
_WAV_KEEP_CHUNKS = {b"fmt ", b"data", b"fact"}


def _riff_chunks(b: bytes):
    """Yield (chunk_id, body_bytes) for each top-level RIFF/WAVE
    chunk (word-aligned walk, same contract as _wav_samples)."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos = 12
    while pos + 8 <= len(b):
        cid = bytes(b[pos : pos + 4])
        (clen,) = struct.unpack_from("<I", b, pos + 4)
        body = bytes(b[pos + 8 : pos + 8 + clen])
        if len(body) < clen:
            raise ValueError(
                f"truncated WAV chunk {cid!r}: header says {clen} bytes"
            )
        yield cid, body
        pos += 8 + clen + (clen & 1)


def _riff_info_parse(b: bytes) -> dict:
    """Extract LIST/INFO metadata (artist/title/date/software) and
    flag embedded id3 chunks from a RIFF/WAVE payload."""
    import struct

    out = {v: None for v in _RIFF_INFO_TAGS.values()}
    out["has_id3"] = False
    for cid, body in _riff_chunks(b):
        if cid in (b"id3 ", b"ID3 "):
            out["has_id3"] = True
        elif cid == b"LIST" and body[:4] == b"INFO":
            pos = 4
            while pos + 8 <= len(body):
                sid = bytes(body[pos : pos + 4])
                (slen,) = struct.unpack_from("<I", body, pos + 4)
                sval = body[pos + 8 : pos + 8 + slen]
                if len(sval) < slen:
                    raise ValueError(
                        f"truncated INFO subchunk {sid!r}"
                    )
                key = _RIFF_INFO_TAGS.get(sid)
                if key:
                    out[key] = (
                        sval.split(b"\x00")[0]
                        .decode("ascii", errors="replace")
                    )
                pos += 8 + slen + (slen & 1)
    return out


def _wav_strip_metadata(b: bytes) -> bytes:
    """Rebuild a RIFF/WAVE payload keeping only structural chunks
    (fmt /data/fact, original order) — LIST/INFO, id3, cue points,
    bext and any other metadata chunks are dropped; sample bytes
    pass through verbatim and the RIFF size field is recomputed."""
    import struct

    parts = []
    for cid, body in _riff_chunks(b):
        if cid not in _WAV_KEEP_CHUNKS:
            continue
        parts.append(
            cid + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) & 1 else b"")
        )
    payload = b"".join(parts)
    return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload


def riff_info_extract(
    media: DataFrame, on_unsupported: str = "error"
) -> DataFrame:
    """Audio twin of exif_extract: RIFF LIST/INFO metadata
    (artist/title/date/software) + an id3-chunk presence flag from
    WAV payloads. Non-RIFF payloads are a capability limit
    (operators/records.py's two-tier contract, 1:1 NULL shape); a WAV
    without INFO is a normal row (format='WAV', NULL fields);
    truncated chunks are malformed.
    Map-only Arrow stage, chunk-header walk only."""
    return _run_probe(
        media, _riff_info_parse, RIFF_INFO_SCHEMA, "WAV", on_unsupported
    )


# IMA/DVI ADPCM tables (IMA ADPCM reference algorithm, also
# Microsoft WAV format 0x11): 89-entry step table + 16-entry index
# adjustment — both engines replay the same integer state machine
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8,
                    -1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)


def _ima_adpcm_decode(
    data: bytes, ch: int, block_align: int
) -> np.ndarray:
    """IMA ADPCM decode, any channel count: per block, one 4-byte
    header PER CHANNEL (int16 predictor = that channel's first
    output sample, uint8 step index, reserved byte), then the body
    in 4-byte-per-channel groups — each group carries 8 nibbles
    (low-nibble-first) for ONE channel, channels rotating within the
    group row (the Microsoft WAVE IMA layout). The state machine
    (diff from step-table bits, +-32768 clamp, index adjustment
    clamped to 0..88) is INHERENTLY sequential per channel — each
    sample's state depends on the previous — so this is a per-nibble
    python loop by nature (the LZW rule), not an unvectorized
    oversight. Returns int64 samples INTERLEAVED frame-major."""
    import struct

    frames: list[np.ndarray] = []
    pos, n = 0, len(data)
    hdr = 4 * ch
    while pos < n:
        block = data[pos : pos + block_align]
        pos += block_align
        if len(block) < hdr:
            raise ValueError(
                f"malformed ADPCM: block shorter than its {hdr}-byte "
                "header"
            )
        preds, idxs, chans = [], [], []
        for c in range(ch):
            pred, idx = struct.unpack_from("<hB", block, 4 * c)
            if idx > 88:
                raise ValueError(
                    f"malformed ADPCM: step index {idx} out of range "
                    "(0..88)"
                )
            preds.append(pred)
            idxs.append(idx)
            chans.append([pred])
        body = block[hdr:]
        # mono tolerates a ragged tail (each byte is 2 standalone
        # nibbles); multi-channel needs complete group rows or the
        # channel rotation would misassign nibbles
        if ch > 1 and len(body) % (4 * ch):
            raise ValueError(
                f"malformed ADPCM: block body {len(body)} bytes is not "
                f"a multiple of the {4 * ch}-byte channel group row"
            )
        for g in range(0, len(body), 4 * ch):
            for c in range(ch):
                pred, idx = preds[c], idxs[c]
                out = chans[c]
                for byte in body[g + 4 * c : g + 4 * c + 4]:
                    for nib in (byte & 0x0F, byte >> 4):
                        step = _IMA_STEP_TABLE[idx]
                        diff = step >> 3
                        if nib & 1:
                            diff += step >> 2
                        if nib & 2:
                            diff += step >> 1
                        if nib & 4:
                            diff += step
                        pred = pred - diff if nib & 8 else pred + diff
                        pred = max(-32768, min(32767, pred))
                        idx = max(0, min(88, idx + _IMA_INDEX_TABLE[nib]))
                        out.append(pred)
                preds[c], idxs[c] = pred, idx
        per_ch = np.array(chans, dtype=np.int64)  # (ch, frames)
        frames.append(per_ch.T.reshape(-1))  # interleave frame-major
    return (
        np.concatenate(frames) if frames else np.empty(0, dtype=np.int64)
    )


def _ima_adpcm_decode_mono(data: bytes, block_align: int) -> np.ndarray:
    """Mono shorthand for _ima_adpcm_decode (kept for tests and the
    oracle-gate docstring lineage)."""
    return _ima_adpcm_decode(data, 1, block_align)


def _g711_tables() -> tuple:
    """256-entry µ-law / A-law expansion LUTs (ITU-T G.711, the
    classic CCITT ulaw2linear/alaw2linear formulas), built once as
    int64 numpy arrays. Exact integer — the oracle gate replays the
    same formulas in SQL."""
    global _G711_LUTS
    try:
        return _G711_LUTS
    except NameError:
        pass
    codes = np.arange(256, dtype=np.int64)
    u = 255 - codes  # µ-law: stored complemented
    e = (u >> 4) & 7
    m = u & 0x0F
    mag = (((m << 3) + 0x84) << e) - 0x84
    ulaw = np.where(u >= 128, -mag, mag)
    a = codes ^ 0x55  # A-law: even bits inverted
    seg = (a >> 4) & 7
    t = (a & 0x0F) << 4
    mag = np.where(
        seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0)
    )
    mag = np.where(seg == 1, t + 0x108, mag)
    alaw = np.where(a >= 128, mag, -mag)
    _G711_LUTS = (ulaw, alaw)
    return _G711_LUTS


def _wav_samples(b: bytes) -> tuple:
    """RIFF/WAVE sample extraction (pure python): fmt + data chunk
    walk; 8/16/24/32-bit signed LE linear PCM (8-bit unsigned,
    centered), IEEE float32/float64 (format 3 — samples map to
    trunc(x * 2^15), exact because scaling by a power of two is
    IEEE-exact; non-finite samples are malformed), G.711 µ-law
    (format 7) and A-law (format 6) expanded to 16-bit linear
    through exact-integer LUTs, and WAVE_FORMAT_EXTENSIBLE (0xFFFE)
    unwrapped via its SubFormat GUID. Returns (n_channels,
    sample_rate, bit_depth, samples) with bit_depth the CONTAINER
    depth (8 for G.711, 32/64 for float) and samples an int64
    INTERLEAVED numpy array (wide-sample sums of squares decompose
    hi/lo in _wav_decode so exactness holds past 16 bits)."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = bytes(b[pos : pos + 4])
        (clen,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
            if fmt[0] == 0xFFFE:
                # WAVE_FORMAT_EXTENSIBLE: the real format tag is the
                # SubFormat GUID's first two bytes (fmt body >= 40)
                if len(body) < 40:
                    raise ValueError(
                        "truncated WAVE_FORMAT_EXTENSIBLE fmt chunk"
                    )
                (sub,) = struct.unpack_from("<H", body, 24)
                fmt = (sub,) + tuple(fmt[1:])
        elif cid == b"data":
            if len(body) < clen:
                raise ValueError(
                    f"truncated WAV data chunk: header says {clen} bytes, "
                    f"got {len(body)}"
                )
            data = bytes(body)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_fmt, ch, rate, _byterate, _align, bits = fmt
    if not (
        (audio_fmt == 1 and bits in (8, 16, 24, 32))
        or (audio_fmt == 3 and bits in (32, 64))
        or (audio_fmt in (6, 7) and bits == 8)
        or (audio_fmt == 0x11 and bits == 4)
    ):
        raise NotImplementedError(
            f"only 8/16/24/32-bit PCM, 32/64-bit IEEE float, 8-bit "
            f"G.711 A-law/µ-law and 4-bit IMA ADPCM WAV supported "
            f"(format={audio_fmt}, bits={bits})"
        )
    if ch <= 0 or rate <= 0:
        raise ValueError(
            f"malformed WAV fmt chunk: channels={ch}, sample_rate={rate}"
        )
    if audio_fmt == 0x11:  # IMA ADPCM: block-coded, not byte-per-frame
        if _align < 4 * ch + 1:
            raise ValueError(
                f"malformed ADPCM WAV: block align {_align} too small "
                f"for {ch} channel headers"
            )
        samples = _ima_adpcm_decode(data, ch, _align)
        return ch, rate, bits, samples
    bps = bits // 8
    if len(data) % (ch * bps) != 0:
        raise ValueError(
            f"malformed WAV data chunk: {len(data)} bytes is not a "
            f"multiple of the {ch * bps}-byte frame size"
        )
    n_samples = len(data) // bps
    if audio_fmt in (6, 7):  # G.711: expand to 16-bit linear
        ulaw, alaw = _g711_tables()
        lut = ulaw if audio_fmt == 7 else alaw
        samples = lut[np.frombuffer(data, dtype=np.uint8, count=n_samples)]
    elif bits == 8:  # unsigned, centered at 128
        samples = np.frombuffer(
            data, dtype=np.uint8, count=n_samples
        ).astype(np.int64) - 128
    elif audio_fmt == 3:  # IEEE float -> trunc(x * 2^15), exact
        dt = "<f4" if bits == 32 else "<f8"
        x = np.frombuffer(data, dtype=dt, count=n_samples)
        if not np.isfinite(x).all():
            raise ValueError("malformed float WAV: non-finite sample")
        scaled = np.trunc(x.astype(np.float64) * 32768.0)
        # finite-but-absurd samples (e.g. 1e30) would wrap in the
        # int64 cast (undefined -> INT64_MIN) and then silently
        # overflow the hi/lo sum-of-squares decomposition; 2^47 keeps
        # every square partial int64-exact, and real audio is |x|<=1
        if np.abs(scaled).max(initial=0.0) >= float(1 << 47):
            raise ValueError(
                "malformed float WAV: sample magnitude exceeds 2^32 "
                "full-scale units"
            )
        samples = scaled.astype(np.int64)
    elif bits == 24:  # 3-byte LE signed
        u = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        v = (
            u[:, 0].astype(np.int64)
            | (u[:, 1].astype(np.int64) << 8)
            | (u[:, 2].astype(np.int64) << 16)
        )
        samples = v - ((v >= (1 << 23)).astype(np.int64) << 24)
    elif bits == 32:
        samples = np.frombuffer(
            data, dtype="<i4", count=n_samples
        ).astype(np.int64)
    else:
        samples = np.frombuffer(
            data, dtype="<i2", count=n_samples
        ).astype(np.int64)
    return ch, rate, bits, samples


def _wav_decode(b: bytes) -> tuple:
    """RIFF/WAVE PCM decode: _wav_samples extraction + exact int64
    reductions (peak, floor-mean-square)."""
    ch, rate, bits, samples = _wav_samples(b)
    n_samples = samples.shape[0]
    n_frames = n_samples // ch if ch else 0
    peak = int(np.abs(samples).max()) if n_samples else 0
    if not n_samples:
        msq = 0
    elif int(np.abs(samples).max()) >= (1 << 16):
        # wide samples: x = a*2^16 + r decomposes the sum of squares
        # into three int64-safe partials recombined in Python bigints
        # (sum x^2 = 2^32 sum a^2 + 2^17 sum a*r + sum r^2)
        a = samples >> 16
        r = samples & 0xFFFF
        msq = (
            (int((a * a).sum()) << 32)
            + (int((a * r).sum()) << 17)
            + int((r * r).sum())
        ) // n_samples
    else:
        msq = int((samples * samples).sum()) // n_samples
    return "WAV", ch, rate, bits, n_frames, peak, msq


def decode_audio_real(
    media: DataFrame, on_unsupported: str = "error"
) -> DataFrame:
    """REAL audio decode for the codec-free format — RIFF/WAVE PCM
    (8-bit unsigned / 16-bit signed LE), parsed in pure Python: chunk
    walk, actual sample values, exact integer loudness (peak and
    floor-mean-square — no sqrt, so the DuckDB oracle replays the
    numbers bit-for-bit). Same payload stage and two-tier error
    contract as decode_real (operators/records.py): capability
    limits are not RIFF/WAVE, FLAC or AIFF (MP3/AAC/OGG/WebP/AVI) or
    an unsupported WAV variant; truncated chunks, zero channels and a
    data chunk that is not a whole number of frames are malformed."""

    def decode(b: bytes) -> list:
        # RIFF alone is not enough: WebP/AVI are RIFF containers too —
        # require the WAVE form type
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            vals = _wav_decode(b)
        elif b[:4] == b"fLaC":
            # real FLAC frame decode (operators/flac.py: fixed/LPC
            # predictors, Rice residuals, all stereo assignments), same
            # exact-int reductions as the WAV path
            from geist_spark.operators.flac import decode_features

            vals = decode_features(b)
        elif b[:4] == b"FORM" and b[8:12] in (b"AIFF", b"AIFC"):
            fmt, ch, rate, bits, n_frames, smp = _aiff_decode_samples(b)
            peak = max((abs(s) for s in smp), default=0)
            msq = sum(s * s for s in smp) // len(smp) if smp else 0
            vals = (fmt, ch, rate, bits, n_frames, peak, msq)
        else:
            raise NotImplementedError(
                "payload is not RIFF/WAVE PCM, FLAC or AIFF; lossy audio "
                "(MP3/AAC/OGG) needs ffmpeg, not present in this "
                "environment — pass on_unsupported='null' to skip"
            )
        fmt, ch, rate, bits, n_frames, peak, msq = vals
        duration = n_frames * 1000 // rate if rate else None
        return [(fmt, ch, rate, bits, n_frames, duration, peak, msq)]

    return payload_stage(media, decode, AUDIO_SCHEMA, on_unsupported)


AUDIO_DSP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("n_frames", T.LongType(), True),
        # exact-integer time-domain features (DuckDB-replayable)
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("sum_abs", T.LongType(), True),
        T.StructField("peak_abs", T.LongType(), True),
        # FFT-domain features (numpy.rfft; pinned by analytic pytest
        # goldens — pure tones land on their exact bin frequency)
        T.StructField("spectral_centroid_hz", T.DoubleType(), True),
        T.StructField("spectral_bandwidth_hz", T.DoubleType(), True),
        T.StructField("spectral_rolloff_hz", T.DoubleType(), True),
        T.StructField("spectral_flatness", T.DoubleType(), True),
    ]
)


def _audio_dsp(b: bytes) -> tuple:
    """Per-clip DSP features over decoded PCM. Multi-channel audio
    mixes down by exact per-frame integer SUM (not mean — stays int64
    so the time-domain features replay bit-for-bit in SQL). Exact
    features on the mixdown x[0..n): zero_crossings = #{i : sign
    bucket of x[i] differs from x[i-1]} with the bucket split at
    x < 0; sum_abs; peak_abs. Spectral features use the full-clip
    numpy real FFT, NO window function (deterministic, documented —
    windowing choice belongs to the caller's framing policy), DC bin
    excluded: centroid = Σf·m / Σm over magnitudes m[k] at
    f[k] = k·rate/n; bandwidth = sqrt(Σm·(f−c)² / Σm); rolloff =
    lowest f[k] where the cumulative POWER reaches 85% of total;
    flatness = geometric/arithmetic mean of power (0.0 when any bin
    power is 0 — the true geometric mean). Silent or empty clips
    report 0.0 spectral features."""
    ch, rate, _bits, samples = _wav_samples(b)
    n_frames = samples.shape[0] // ch
    x = samples[: n_frames * ch].reshape(n_frames, ch).sum(axis=1)
    if n_frames == 0:
        return "WAV", 0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0
    neg = x < 0
    zc = int(np.count_nonzero(neg[1:] != neg[:-1]))
    sum_abs = int(np.abs(x).sum())
    peak = int(np.abs(x).max())
    spec = np.abs(np.fft.rfft(x.astype(np.float64)))[1:]  # DC excluded
    freqs = (np.arange(1, spec.shape[0] + 1) * rate) / n_frames
    tot = float(spec.sum())
    # numerical-silence guard: a constant (pure-DC) clip leaves only
    # FFT rounding noise (~1e-16·n·A) in the non-DC bins — without
    # the cutoff the centroid would be noise-weighted garbage
    if tot <= 1e-9 * n_frames * max(1.0, float(peak)):
        return ("WAV", n_frames, zc, sum_abs, peak, 0.0, 0.0, 0.0, 0.0)
    centroid = float((freqs * spec).sum() / tot)
    bandwidth = float(
        np.sqrt(((freqs - centroid) ** 2 * spec).sum() / tot)
    )
    power = spec * spec
    csum = np.cumsum(power)
    rolloff = float(freqs[int(np.searchsorted(csum, 0.85 * csum[-1]))])
    mean_p = float(power.mean())
    flatness = (
        0.0
        if float(power.min()) <= 0.0
        else float(np.exp(np.log(power).mean()) / mean_p)
    )
    return (
        "WAV", n_frames, zc, sum_abs, peak,
        centroid, bandwidth, rolloff, flatness,
    )


def audio_dsp_features(
    media: DataFrame, on_unsupported: str = "error"
) -> DataFrame:
    """REAL audio feature extraction over RIFF/WAVE PCM: exact-integer
    time-domain features (zero-crossing count, sum of absolute
    amplitude, peak — all DuckDB-replayable, see _audio_dsp for the
    precise definitions) plus FFT-domain spectral centroid /
    bandwidth / 85%-rolloff / flatness via numpy's real FFT inside
    the same Arrow-batched mapInPandas stage — zero shuffle,
    partition-parallel, the per-clip FFT cost is O(n log n) in the
    clip length. Two-tier errors (operators/records.py): non-WAV
    payloads are capability limits; malformed WAV always raises
    ValueError."""

    def decode(b: bytes) -> list:
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise NotImplementedError(
                "payload is not RIFF/WAVE PCM; compressed "
                "audio (MP3/AAC/OGG) needs ffmpeg, not "
                "present in this environment — pass "
                "on_unsupported='null' to skip"
            )
        return [_audio_dsp(b)]

    return payload_stage(media, decode, AUDIO_DSP_SCHEMA, on_unsupported)


EMBED_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ]
)


def embed_stub(media: DataFrame, dim: int = 16) -> DataFrame:
    """Media -> embedding plumbing: an Arrow-batched `mapInPandas`
    stage mapping each binary payload to a dense vector, exactly where
    a CLIP/CLAP-style encoder slots in on a GPU cluster (same schema,
    same batch grain, same no-shuffle property).

    The stand-in encoder is deterministic md5 arithmetic (dim values
    in [-1, 1), each an exact n/2^31 - 1 with n < 2^32 — exact in
    float64), so identical payloads get identical embeddings and the
    whole media -> embed -> ANN chain has an exact SQL oracle. Output
    columns are (vec_id, embedding) — directly consumable by every
    operator in operators/similarity.py.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    ids.append(mid)
                    vecs.append(None)
                    continue
                h = hashlib.md5(bytes(payload)).hexdigest()
                vecs.append(
                    [
                        int(
                            hashlib.md5(f"{h}|{i}".encode()).hexdigest()[:8],
                            16,
                        )
                        / 2**31
                        - 1.0
                        for i in range(dim)
                    ]
                )
                ids.append(mid)
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    return media.mapInPandas(run, EMBED_SCHEMA)


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """PackBits RLE decode (TIFF 6.0 §9): header n in 0..127 copies
    the next n+1 literal bytes; n in 129..255 repeats the next byte
    257-n times; 128 is a no-op. Output bounded at `expect` (the
    strip's declared pixel bytes — same bomb contract as the PNG
    inflate bound); trailing pad bytes after a full strip are
    tolerated (writers pad strips to word boundaries)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expect:
        hd = data[i]
        i += 1
        if hd < 128:
            cnt = hd + 1
            if i + cnt > n:
                raise ValueError(
                    "malformed TIFF: truncated PackBits literal"
                )
            out += data[i : i + cnt]
            i += cnt
        elif hd == 128:
            continue
        else:
            if i >= n:
                raise ValueError("malformed TIFF: truncated PackBits run")
            out += bytes([data[i]]) * (257 - hd)
            i += 1
    if len(out) > expect:
        raise ValueError(
            f"malformed TIFF: PackBits output overflows strip "
            f"({len(out)} > {expect})"
        )
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expect: int) -> bytes:
    """TIFF-variant LZW decode (TIFF 6.0 §13): MSB-first variable-width
    codes, Clear=256 / EOI=257, first table entry 258, 12-bit cap, and
    the spec's "early change" — the code width grows one code EARLIER
    than the GIF variant (when the table reaches 2**width - 1
    entries, vs 2**width for _lzw_decode). Inherently sequential like
    the GIF twin; output bounded at `expect`. A strip that simply ends
    once exactly `expect` bytes are out is tolerated (some writers
    omit EOI); ending short of that is malformed."""
    clear, eoi = 256, 257
    roots = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(roots)
    width = 9
    prev: bytes | None = None
    out = bytearray()
    acc = nacc = pos = 0
    n = len(data)
    while True:
        while nacc < width:
            if pos >= n:
                if len(out) == expect:
                    return bytes(out)
                raise ValueError(
                    "malformed TIFF: LZW strip ends without EOI"
                )
            acc = (acc << 8) | data[pos]
            nacc += 8
            pos += 1
        code = (acc >> (nacc - width)) & ((1 << width) - 1)
        nacc -= width
        acc &= (1 << nacc) - 1  # trim consumed high bits (bignum guard)
        if code == clear:
            table = list(roots)
            width = 9
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):  # clear/eoi already handled above
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(
                f"malformed TIFF: LZW code {code} out of range"
            )
        out += entry
        if len(out) > expect:
            raise ValueError(
                f"malformed TIFF: LZW strip yields more than "
                f"{expect} bytes"
            )
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1  # early change


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Greedy TIFF LZW encoder (fixture/synthesis side, like
    gif_encode's LZW): MSB-first codes, ClearCode opens the strip,
    early-change width bumps in exact lockstep with _tiff_lzw_decode
    (encoder bumps when next_code reaches 2**width — one append ahead
    of the decoder's 2**width - 1 table check), table reset at 4094
    entries (libtiff's margin), EOI terminated."""
    out = bytearray()
    acc = nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            out.append((acc >> (nacc - 8)) & 0xFF)
            nacc -= 8
            acc &= (1 << nacc) - 1  # trim emitted high bits

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)
    omega = b""
    for ch in data:
        cand = omega + bytes([ch])
        if cand in table:
            omega = cand
            continue
        emit(table[omega], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        omega = bytes([ch])
        if next_code == 4094:
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
    if omega:
        emit(table[omega], width)
    emit(257, width)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Real PackBits encoder (fixture side): repeat packets for runs
    of >=2 identical bytes, literal packets otherwise, both capped at
    128 bytes — so the decoder's run AND literal paths are both
    exercised by fixtures."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        start = i
        i += 1
        while (
            i < n
            and i - start < 128
            and not (i + 2 < n and data[i] == data[i + 1] == data[i + 2])
        ):
            i += 1
        out.append(i - start - 1)
        out += data[start:i]
    return bytes(out)


def _tiff_decode(b: bytes) -> tuple:
    """Baseline TIFF decode (pure python + numpy): II/MM byte order,
    first-IFD tag walk (TIFF 6.0 §2), uncompressed / LZW (§13) /
    PackBits (§9) strips with per-strip codec reset, horizontal-
    differencing Predictor=2 (§14, inverted with an exact per-lane
    cumsum mod 256 — the PNG Sub rule), Deflate strips (Compression
    8 / old-style 32946, bounded stdlib zlib; round 8), 8-bit
    grayscale (BlackIsZero/WhiteIsZero), RGB, and palette-color
    (ColorMap 16-bit entries, high byte taken). CAPABILITY limits:
    other Compression values (JPEG-in-TIFF), non-8-bit samples,
    planar configuration 2, tiled images. MALFORMED: truncated
    IFD/strips, missing required tags, strip bytes short of
    width*height, LZW/PackBits stream errors."""
    import struct

    if b[:4] == b"II*\x00":
        e = "<"
    elif b[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF payload")
    if len(b) < 8:
        raise ValueError("truncated TIFF header")
    (ifd_off,) = struct.unpack_from(e + "I", b, 4)
    if ifd_off + 2 > len(b):
        raise ValueError("truncated TIFF: IFD offset past end")
    (n_tags,) = struct.unpack_from(e + "H", b, ifd_off)
    if ifd_off + 2 + 12 * n_tags > len(b):
        raise ValueError("truncated TIFF IFD")
    # type -> (struct code, size)
    sizes = {1: 1, 3: 2, 4: 4}
    codes = {1: "B", 3: "H", 4: "I"}
    tags: dict[int, list[int]] = {}
    for i in range(n_tags):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(e + "HHI", b, off)
        if typ not in sizes:  # RATIONAL/others: not needed, skip
            continue
        total = sizes[typ] * cnt
        if total <= 4:
            src = off + 8
        else:
            (src,) = struct.unpack_from(e + "I", b, off + 8)
            if src + total > len(b):
                raise ValueError(f"truncated TIFF: tag {tag} values")
        tags[tag] = list(
            struct.unpack_from(e + codes[typ] * cnt, b, src)
        )

    def one(tag: int, default=None):
        v = tags.get(tag)
        if not v:  # absent OR a crafted count=0 entry: same contract
            if default is None:
                raise ValueError(f"malformed TIFF: missing tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258) or [8] * spp  # count=0 entry == absent
    rows_per_strip = one(278, h)
    if comp not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"unsupported TIFF Compression={comp} (uncompressed, LZW, "
            "PackBits and Deflate are decoded; JPEG-in-TIFF is not)"
        )
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF unsupported (strips only)")
    if one(284, 1) != 1:
        raise NotImplementedError("planar TIFF (PlanarConfiguration=2) "
                                  "unsupported")
    if any(x != 8 for x in bits):
        raise NotImplementedError(
            f"only 8-bit TIFF samples supported (BitsPerSample={bits})"
        )
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(
            f"TIFF Predictor={predictor} unsupported (none / "
            "horizontal differencing only)"
        )
    if w <= 0 or h <= 0:
        raise ValueError(f"malformed TIFF: {w}x{h}")
    offs = tags.get(273)
    counts = tags.get(279)
    if not offs or not counts or len(offs) != len(counts):
        raise ValueError("malformed TIFF: StripOffsets/StripByteCounts")
    row_bytes = w * spp
    need = h * row_bytes
    if comp == 1:
        del rows_per_strip  # layout fully determined by 273/279
        parts = []
        for so, sc in zip(offs, counts):
            if so + sc > len(b):
                raise ValueError("truncated TIFF strip")
            parts.append(b[so : so + sc])
        data = b"".join(parts)
        if len(data) < need:
            raise ValueError(
                f"truncated TIFF: strips carry {len(data)} of "
                f"{need} bytes"
            )
    else:
        # LZW/PackBits reset per strip (TIFF 6.0 §13/§9): each strip
        # decompresses independently to exactly its declared row span,
        # which is also the decompression-bomb bound
        if rows_per_strip <= 0:
            raise ValueError(
                f"malformed TIFF: RowsPerStrip={rows_per_strip}"
            )
        parts = []
        for k, (so, sc) in enumerate(zip(offs, counts)):
            if so + sc > len(b):
                raise ValueError("truncated TIFF strip")
            n_rows = min(rows_per_strip, h - k * rows_per_strip)
            if n_rows <= 0:
                raise ValueError("malformed TIFF: more strips than rows")
            expect = n_rows * row_bytes
            raw = bytes(b[so : so + sc])
            if comp == 5:
                out = _tiff_lzw_decode(raw, expect)
            elif comp in (8, 32946):  # Deflate (and the old-style
                # Adobe code 32946) — bounded like every inflate
                import zlib as _zlib

                try:
                    out = _zlib.decompressobj().decompress(
                        raw, expect + 1
                    )
                except _zlib.error as exc:
                    raise ValueError(
                        f"malformed TIFF: bad Deflate strip {k}: {exc}"
                    ) from None
            else:
                out = _packbits_decode(raw, expect)
            if len(out) != expect:
                raise ValueError(
                    f"malformed TIFF: strip {k} decodes to "
                    f"{len(out)} of {expect} bytes"
                )
            parts.append(out)
        data = b"".join(parts)
    arr = np.frombuffer(data, dtype=np.uint8, count=need)
    if predictor == 2:
        # invert horizontal differencing: per-row, per-sample-lane
        # cumulative sum mod 256
        arr = (
            (np.cumsum(arr.reshape(h, w, spp), axis=1) & 0xFF)
            .astype(np.uint8)
            .reshape(-1)
        )
    if photo == 2:  # RGB
        if spp < 3:
            raise ValueError("malformed TIFF: RGB with SamplesPerPixel<3")
        if spp > 3:
            raise NotImplementedError(
                "TIFF with extra samples (alpha) unsupported — alpha "
                "would be silently dropped"
            )
        return "TIFF", w, h, 3, arr.tobytes()
    if photo in (0, 1, 3) and spp != 1:
        # symmetric with the RGB alpha guard: interleaved extra
        # samples would silently corrupt the gray/palette planes
        raise NotImplementedError(
            f"TIFF photometric {photo} with SamplesPerPixel={spp} "
            "unsupported (extra samples would be read as pixels)"
        )
    if photo in (0, 1):  # gray (0 = WhiteIsZero inverts)
        g = (255 - arr) if photo == 0 else arr
        return "TIFF", w, h, 1, np.repeat(g, 3).tobytes()
    if photo == 3:  # palette via ColorMap (3 * 2^bits 16-bit entries)
        cmap = tags.get(320)
        if not cmap or len(cmap) % 3:
            raise ValueError("malformed TIFF: palette without ColorMap")
        n = len(cmap) // 3
        pal = (
            np.array(cmap, dtype=np.uint16).reshape(3, n).T >> 8
        ).astype(np.uint8)
        if int(arr.max(initial=0)) >= n:
            raise ValueError("malformed TIFF: palette index out of range")
        return "TIFF", w, h, 3, pal[arr].tobytes()
    raise NotImplementedError(
        f"TIFF photometric interpretation {photo} unsupported"
    )


def tiff_encode_rgb(
    w: int,
    h: int,
    rgb: bytes,
    big_endian: bool = False,
    strips: int = 1,
    compression: str = "none",
    predictor: int = 1,
) -> bytes:
    """Synthetic-fixture TIFF encoder (tests + the m_decode_tiff gate
    queries — NOT a public pipeline operator): 8-bit RGB, II or MM
    byte order, split into `strips` row-strips so the strip walk runs
    for real. `compression` in {"none", "lzw", "packbits",
    "deflate"} (each strip compressed independently, per spec);
    `predictor=2` applies
    horizontal differencing before compression (LZW §14 pairing,
    honored for any codec here)."""
    import struct

    if len(rgb) != w * h * 3:
        raise ValueError("rgb length must be w*h*3")
    if not 1 <= strips <= h:
        raise ValueError("strips must be in 1..h")
    if compression not in ("none", "lzw", "packbits", "deflate"):
        raise ValueError(f"unsupported compression {compression!r}")
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 or 2")
    e = ">" if big_endian else "<"
    rows_per = -(-h // strips)
    if predictor == 2:
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        d = np.diff(
            px.astype(np.int16),
            axis=1,
            prepend=np.zeros((h, 1, 3), dtype=np.int16),
        )
        rgb = (d & 0xFF).astype(np.uint8).tobytes()
    chunks = [
        rgb[r * rows_per * w * 3 : (r + 1) * rows_per * w * 3]
        for r in range(strips)
    ]
    chunks = [c for c in chunks if c]
    if compression == "lzw":
        chunks = [_tiff_lzw_encode(c) for c in chunks]
    elif compression == "packbits":
        chunks = [_packbits_encode(c) for c in chunks]
    elif compression == "deflate":
        import zlib as _zlib

        chunks = [_zlib.compress(c) for c in chunks]
    comp_tag = {"none": 1, "lzw": 5, "packbits": 32773,
                "deflate": 8}[compression]
    n_tags = 9 + (predictor == 2)
    ifd_off = 8
    after_ifd = ifd_off + 2 + 12 * n_tags + 4
    bits_off = after_ifd            # 3 SHORTs = 6 bytes
    arrays_off = bits_off + 6
    n_strips = len(chunks)
    if n_strips > 1:
        strip_off_pos = arrays_off
        strip_cnt_pos = arrays_off + 4 * n_strips
        data_off = strip_cnt_pos + 4 * n_strips
    else:
        data_off = arrays_off
    offsets, pos = [], data_off
    for c in chunks:
        offsets.append(pos)
        pos += len(c)

    def entry(tag, typ, cnt, val):
        return struct.pack(e + "HHI", tag, typ, cnt) + val

    def short_val(v):
        return struct.pack(e + "H", v) + b"\x00\x00"

    def long_val(v):
        return struct.pack(e + "I", v)

    if n_strips == 1:
        so_val, sc_val = long_val(offsets[0]), long_val(len(chunks[0]))
    else:
        so_val, sc_val = long_val(strip_off_pos), long_val(strip_cnt_pos)
    ifd = struct.pack(e + "H", n_tags)
    ifd += entry(256, 3, 1, short_val(w))
    ifd += entry(257, 3, 1, short_val(h))
    ifd += entry(258, 3, 3, long_val(bits_off))
    ifd += entry(259, 3, 1, short_val(comp_tag))
    ifd += entry(262, 3, 1, short_val(2))
    ifd += entry(273, 4, n_strips, so_val)
    ifd += entry(277, 3, 1, short_val(3))
    ifd += entry(278, 3, 1, short_val(rows_per))
    ifd += entry(279, 4, n_strips, sc_val)
    if predictor == 2:
        ifd += entry(317, 3, 1, short_val(2))
    ifd += struct.pack(e + "I", 0)  # no next IFD
    out = (
        (b"MM\x00*" if big_endian else b"II*\x00")
        + struct.pack(e + "I", ifd_off)
        + ifd
        + struct.pack(e + "HHH", 8, 8, 8)
    )
    if n_strips > 1:
        out += b"".join(struct.pack(e + "I", o) for o in offsets)
        out += b"".join(struct.pack(e + "I", len(c)) for c in chunks)
    assert len(out) == data_off, (len(out), data_off)
    return out + b"".join(chunks)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def image_dhash(
    media: DataFrame,
    hash_w: int = 8,
    hash_h: int = 8,
    on_unsupported: str = "error",
) -> DataFrame:
    """Perceptual difference-hash over DECODED pixels: decode (the
    shared PPM/PGM/BMP/PNG/GIF/JPEG/TIFF dispatch), nearest-neighbor
    resize to (hash_w+1) x hash_h, exact integer luma
    (299R+587G+114B per pixel — comparisons only, so no division),
    bit k (row-major, k = r*hash_w + c, MSB first) set iff
    luma[r,c] > luma[r,c+1]. The standard 8x8 gives a 64-bit hash
    packed into a SIGNED long (two's complement — replayable as
    BIGINT both engines). Every step is exact integer arithmetic, so
    the oracle gate replays hashes bit-for-bit.

    This is the multimodal twin of MinHash document dedup: near-dup
    detection joins on hash BANDS (dhash_near_dup), never all-pairs.
    Same payload stage and capability limits as decode_real
    (operators/records.py)."""
    if hash_w < 1 or hash_h < 1 or hash_w * hash_h > 64:
        raise ValueError("hash_w*hash_h must be in 1..64")
    weights = np.array([299, 587, 114], dtype=np.int64)
    n = hash_w * hash_h

    def decode(b: bytes) -> list:
        fmt, w, h, _ch, rgb = _decode_rgb_bytes(b, "extract_media_features")
        r = _nn_resize_rgb(rgb, w, h, hash_w + 1, hash_h)
        luma = (
            np.frombuffer(r, dtype=np.uint8)
            .reshape(hash_h, hash_w + 1, 3)
            .astype(np.int64)
            @ weights
        )
        bits = (luma[:, :-1] > luma[:, 1:]).reshape(-1)
        packed = np.packbits(bits)  # MSB-first per byte
        v = int.from_bytes(packed.tobytes(), "big")
        v >>= 8 * packed.size - n  # drop pad bits
        if n == 64 and v >= 1 << 63:
            v -= 1 << 64  # two's complement signed long
        return [(fmt, v)]

    return payload_stage(media, decode, DHASH_SCHEMA, on_unsupported)


def dhash_near_dup(
    hashes: DataFrame,
    max_hamming: int = 2,
    bands: int = 4,
    bits: int = 64,
    max_band_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate IMAGE pairs from dhashes: delegates to the ONE
    banded Hamming kernel shared with simhash text dedup
    (dedup.banded_hamming_pairs) — band equi-join under the
    pigeonhole guarantee, bit_count(xor) verify, hot-bucket cap
    (flat/blank images all hash to 0 — without `max_band_freq` that
    cluster self-joins quadratically). Pass the TRUE hash width via
    `bits` when image_dhash ran with hash_w*hash_h < 64, or the
    constant-zero upper bands would degenerate the join toward
    all-pairs. Returns (media_id_a, media_id_b, hamming), a < b."""
    from .dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        hashes, "media_id", "dhash", bits, bands, max_hamming,
        max_band_freq,
    ).select(
        F.col("id_a").alias("media_id_a"),
        F.col("id_b").alias("media_id_b"),
        "hamming",
    )


MKV_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("has_video", T.BooleanType(), True),
        T.StructField("has_audio", T.BooleanType(), True),
    ]
)

# EBML element IDs (stored with the length-marker bit KEPT, unlike
# size varints whose marker is cleared)
_EBML_CONTAINERS = {
    0x1A45DFA3,  # EBML header
    0x18538067,  # Segment
    0x1549A966,  # Segment > Info
    0x1654AE6B,  # Segment > Tracks
    0xAE,        # Tracks > TrackEntry
    0xE0,        # TrackEntry > Video
    0xE1,        # TrackEntry > Audio
}


def _ebml_vint(b: bytes, pos: int, keep_marker: bool):
    """One EBML varint at pos: returns (value, next_pos, unknown).
    Element IDs keep the marker bit; sizes clear it, and an all-ones
    size means 'unknown' (parse to end of the enclosing scope)."""
    if pos >= len(b):
        raise ValueError("truncated EBML: varint at payload end")
    first = b[pos]
    if first == 0:
        raise ValueError("malformed EBML: varint with >8-byte length")
    length = 8 - first.bit_length() + 1
    if pos + length > len(b):
        raise ValueError("truncated EBML: varint body")
    val = first if keep_marker else first & ((1 << (8 - length)) - 1)
    unknown_mask = (1 << (8 - length)) - 1 if not keep_marker else 0
    all_ones = (first & unknown_mask) == unknown_mask if not keep_marker else False
    for i in range(1, length):
        byte = b[pos + i]
        val = (val << 8) | byte
        if not keep_marker:
            all_ones = all_ones and byte == 0xFF
    return val, pos + length, (not keep_marker) and all_ones


def _ebml_uint(body: bytes) -> int:
    if not 0 < len(body) <= 8:
        raise ValueError("malformed EBML: uint element size")
    return int.from_bytes(body, "big")


def _ebml_float(body: bytes) -> float:
    import struct as _s

    if len(body) == 4:
        return _s.unpack(">f", body)[0]
    if len(body) == 8:
        return _s.unpack(">d", body)[0]
    raise ValueError("malformed EBML: float element must be 4 or 8 bytes")


def _mkv_parse(b: bytes) -> dict:
    """Matroska/WebM metadata probe WITHOUT codecs (the EBML walk):
    DocType, Info duration (float x TimecodeScale ns), track count /
    kinds, first video track's pixel dimensions. Iterative descent
    with an explicit stack (the MP4/AVI recursion rule); entropy data
    (Cluster elements) is skipped by size, never read."""
    if b[:4] != b"\x1a\x45\xdf\xa3":
        raise NotImplementedError(
            "not an EBML/Matroska payload (no 0x1A45DFA3 header)"
        )
    out = {
        "doc_type": None, "duration_ms": None, "n_tracks": 0,
        "width": None, "height": None, "has_video": False,
        "has_audio": False,
    }
    tscale = 1_000_000  # ns per timecode unit (Matroska default)
    duration_units = None
    stack = [(0, len(b))]
    while stack:
        pos, end = stack.pop()
        while pos < end:
            eid, pos, _ = _ebml_vint(b, pos, keep_marker=True)
            size, pos, unknown = _ebml_vint(b, pos, keep_marker=False)
            e_end = end if unknown else pos + size
            if e_end > end:
                raise ValueError(
                    f"malformed EBML: element 0x{eid:X} overruns scope"
                )
            body = b[pos:e_end]
            if eid in _EBML_CONTAINERS:
                if eid == 0xAE:
                    out["n_tracks"] += 1
                # descend now; the parent scope resumes after e_end
                stack.append((e_end, end))
                end = e_end
                continue
            if eid == 0x4282:  # DocType
                out["doc_type"] = body.decode("ascii", "replace")
            elif eid == 0x2AD7B1:  # TimecodeScale
                tscale = _ebml_uint(body)
            elif eid == 0x4489:  # Duration (float, timecode units)
                duration_units = _ebml_float(body)
            elif eid == 0x83:  # TrackType
                t = _ebml_uint(body)
                if t == 1:
                    out["has_video"] = True
                elif t == 2:
                    out["has_audio"] = True
            elif eid == 0xB0 and out["width"] is None:  # PixelWidth
                out["width"] = _ebml_uint(body)
            elif eid == 0xBA and out["height"] is None:  # PixelHeight
                out["height"] = _ebml_uint(body)
            pos = e_end
    if duration_units is not None:
        out["duration_ms"] = int(duration_units * tscale) // 1_000_000
    return out


def mkv_probe(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """Matroska/WebM metadata for video-corpus curation — the EBML
    twin of mp4_probe: doc type (webm vs matroska), duration from
    Info, track kinds and first-video dimensions; Cluster payloads
    skipped by size so cost is metadata bytes only. Sample decode
    stays the documented capability limit (no ffmpeg here); this is
    the filter/budget/dedup surface a 100 TB video corpus needs
    before any decode. Non-EBML payloads are a capability limit;
    malformed EBML trees always raise."""
    return _run_probe(media, _mkv_parse, MKV_SCHEMA, "MKV", on_unsupported)


def _ebml_el(eid: int, body: bytes) -> bytes:
    """Encoder side: element ID bytes as stored + minimal-length size
    varint + body."""
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(body)
    # size varint: marker bit at position 8*length - length; the
    # all-ones value is reserved for 'unknown', hence the -1 bound
    length = 1
    while n >= (1 << (7 * length)) - 1:
        length += 1
    sz = n | (1 << (8 * length - length))
    return idb + sz.to_bytes(length, "big") + body


def mkv_build(
    doc_type: str = "webm",
    duration_units: float = 0.0,
    timecode_scale: int = 1_000_000,
    tracks: tuple = (),
) -> bytes:
    """Paired Matroska/WebM writer: EBML header + Segment(Info,
    Tracks) with float duration, uint timecode scale, and
    ('video', w, h) / ('audio', rate, ch) track entries."""
    import struct as _s

    header = _ebml_el(
        0x1A45DFA3,
        _ebml_el(0x4286, b"\x01")  # EBMLVersion
        + _ebml_el(0x42F7, b"\x01")  # EBMLReadVersion
        + _ebml_el(0x4282, doc_type.encode("ascii"))
        + _ebml_el(0x4287, b"\x04"),  # DocTypeVersion
    )
    info = _ebml_el(
        0x1549A966,
        _ebml_el(
            0x2AD7B1,
            timecode_scale.to_bytes(
                max((timecode_scale.bit_length() + 7) // 8, 1), "big"
            ),
        )
        + _ebml_el(0x4489, _s.pack(">d", duration_units)),
    )
    entries = b""
    for i, t in enumerate(tracks):
        kind = t[0]
        common = _ebml_el(
            0x83, b"\x01" if kind == "video" else b"\x02"
        ) + _ebml_el(
            0x86,
            b"V_VP9" if kind == "video" else b"A_OPUS",
        )
        if kind == "video":
            sub = _ebml_el(
                0xE0,
                _ebml_el(0xB0, t[1].to_bytes(2, "big"))
                + _ebml_el(0xBA, t[2].to_bytes(2, "big")),
            )
        else:
            sub = _ebml_el(
                0xE1,
                _ebml_el(0xB5, _s.pack(">f", float(t[1])))
                + _ebml_el(0x9F, bytes([t[2]])),
            )
        entries += _ebml_el(0xAE, common + sub)
    segment = _ebml_el(
        0x18538067, info + _ebml_el(0x1654AE6B, entries)
    )
    blob = header + segment
    got = _mkv_parse(blob)
    if got["doc_type"] != doc_type or got["n_tracks"] != len(tracks):
        raise AssertionError("paired MKV writer self-check failed")
    return blob


# ---------------------------------------------------------------------------
# AIFF / AIFC (big-endian PCM; the legacy-audio cousin of WAV)



import struct as _st


def _ext80_to_rate(b: bytes) -> int:
    """80-bit IEEE 754 extended float -> integer sample rate (AIFF
    COMM stores rates like 44100.0 exactly; non-integral or absurd
    rates are malformed for this dialect)."""
    if len(b) != 10:
        raise ValueError("malformed AIFF: sampleRate must be 10 bytes")
    sign = b[0] >> 7
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0
    if sign or exp == 0x7FFF:
        raise ValueError("malformed AIFF: negative or non-finite rate")
    # value = mant * 2^(exp - 16383 - 63); integral rates only
    shift = exp - 16383 - 63
    if shift >= 0:
        val = mant << shift
    else:
        if mant & ((1 << -shift) - 1):
            raise ValueError("malformed AIFF: non-integral sample rate")
        val = mant >> -shift
    if not 1 <= val <= 10_000_000:
        raise ValueError("malformed AIFF: sample rate out of range")
    return val


def _rate_to_ext80(rate: int) -> bytes:
    if rate <= 0:
        raise AssertionError("positive rates only")
    nbits = rate.bit_length()
    exp = 16383 + nbits - 1
    mant = rate << (64 - nbits)
    return bytes([exp >> 8, exp & 0xFF]) + mant.to_bytes(8, "big")


def _aiff_decode_samples(b: bytes) -> tuple:
    """FORM/AIFF -> (fmt, ch, rate, bits, n_frames, samples list).
    Big-endian PCM, 8/16/24/32-bit; AIFC with 'NONE'/'sowt'
    compression handled ('sowt' = little-endian 16-bit)."""
    if b[:4] != b"FORM" or b[8:12] not in (b"AIFF", b"AIFC"):
        raise NotImplementedError("not an AIFF/AIFC payload")
    aifc = b[8:12] == b"AIFC"
    pos, n = 12, len(b)
    comm = ssnd = None
    little = False
    while pos + 8 <= n:
        cid = b[pos : pos + 4]
        (clen,) = _st.unpack_from(">I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError(f"malformed AIFF: chunk {cid!r} truncated")
        if cid == b"COMM":
            if clen < 18:
                raise ValueError("malformed AIFF: short COMM")
            ch, frames, bits = _st.unpack_from(">hIh", body, 0)
            rate = _ext80_to_rate(body[8:18])
            if aifc:
                if clen < 22:
                    raise ValueError("malformed AIFC: COMM missing codec")
                codec = body[18:22]
                if codec == b"sowt":
                    little = True
                elif codec != b"NONE":
                    raise NotImplementedError(
                        f"AIFC compression {codec!r} unsupported "
                        "(NONE/sowt only)"
                    )
            comm = (ch, frames, bits, rate)
        elif cid == b"SSND":
            if clen < 8:
                raise ValueError("malformed AIFF: short SSND")
            off, _block = _st.unpack_from(">II", body, 0)
            ssnd = body[8 + off :]
        pos += 8 + clen + (clen & 1)
    if comm is None or ssnd is None:
        raise ValueError("malformed AIFF: missing COMM or SSND chunk")
    ch, frames, bits, rate = comm
    if ch <= 0 or bits not in (8, 16, 24, 32):
        raise ValueError("malformed AIFF: channels/sample size")
    bps = bits // 8
    need = frames * ch * bps
    if len(ssnd) < need:
        raise ValueError("malformed AIFF: SSND shorter than COMM frames")
    endian = "little" if little else "big"
    samples = [
        int.from_bytes(ssnd[i * bps : (i + 1) * bps], endian, signed=True)
        for i in range(frames * ch)
    ]
    return "AIFF", ch, rate, bits, frames, samples


def aiff_build(
    samples: list, ch: int, rate: int, bits: int,
    aifc: bool = False, sowt: bool = False,
) -> bytes:
    bps = bits // 8
    frames = len(samples) // ch
    endian = "little" if sowt else "big"
    ssnd_body = _st.pack(">II", 0, 0) + b"".join(
        int(s).to_bytes(bps, endian, signed=True) for s in samples
    )
    comm_body = _st.pack(">hIh", ch, frames, bits) + _rate_to_ext80(rate)
    if aifc or sowt:
        comm_body += b"sowt" if sowt else b"NONE"
        comm_body += b"\x04none"  # pascal string codec name (even len)
    chunks = b""
    for cid, body in ((b"COMM", comm_body), (b"SSND", ssnd_body)):
        chunks += cid + _st.pack(">I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    form = (b"AIFC" if (aifc or sowt) else b"AIFF") + chunks
    return b"FORM" + _st.pack(">I", len(form)) + form


