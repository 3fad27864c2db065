"""FLAC payload decode (RFC 9639) with a paired encoder.

Round 8 closed the audio-metadata gap (STREAMINFO probe, MP3
frame-walk duration); this closes the audio PAYLOAD gap for the top
lossless codec: real frame decode — fixed and LPC predictors, Rice
residuals (both coding methods + escape partitions), all four stereo
assignments (independent, left/side, right/side, mid/side), wasted
bits, CRC-8/CRC-16 verification — so FLAC rows flow through the same
exact-integer loudness reductions as WAV in
multimodal.decode_audio_real.

The paired encoder (the jpeg.py doctrine) writes real FLAC
streams — constant / verbatim / fixed-predictor subframes, Rice
coding with per-partition parameters and raw-escape partitions, the
stereo transforms, wasted-bit shifting — and every fixture frame is
CRC-checked by the decoder, while the CRC primitives themselves are
pinned to the published CRC-8/0x07 and CRC-16/0x8005 check values
(0xF4 / 0xFEE8 over '123456789'), keeping the pair honest without a
reference binary in this environment.

Bounded decode: total decoded samples are capped by ``max_samples``
(a crafted total-samples/blocksize bomb raises the typed malformed
error, never an executor OOM — the PNG-IDAT rule). Two-tier errors:
ValueError = malformed stream (bad sync, CRC mismatch, reserved
codes, residual overruns), NotImplementedError = declared capability
limit (none currently — the full RFC 9639 subset above is decoded).

Reference parity: n/a — zpiroux/geist is a JSON-event engine
(/root/reference/README.md:566); this is LLM-pipeline extension
surface (audio-corpus curation).
"""

from __future__ import annotations

import struct

_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCKSIZE_CODES = {1: 192}
for _n in range(2, 6):
    _BLOCKSIZE_CODES[_n] = 576 << (_n - 2)
for _n in range(8, 16):
    _BLOCKSIZE_CODES[_n] = 256 << (_n - 8)

_SAMPLE_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}

_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _err(msg: str) -> ValueError:
    return ValueError(f"malformed FLAC: {msg}")


def crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (check value 0xF4 over b'123456789')."""
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0, unreflected (check 0xFEE8)."""
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


class _Bits:
    """MSB-first bit reader (FLAC frame bit order)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, byte_pos: int = 0):
        self.data = data
        self.pos = byte_pos * 8

    def read(self, n: int) -> int:
        p = self.pos
        if p + n > len(self.data) * 8:
            raise _err("frame truncated mid-field")
        self.pos = p + n
        # gather covering bytes, big-endian
        lo = p >> 3
        hi = (p + n + 7) >> 3
        chunk = int.from_bytes(self.data[lo:hi], "big")
        tail = (hi << 3) - (p + n)
        return (chunk >> tail) & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if n and v >> (n - 1) else v

    def unary(self) -> int:
        """Count of 0 bits before the terminating 1 bit."""
        q = 0
        # byte-at-a-time scan keeps Rice quotients cheap
        while True:
            p = self.pos
            if p >= len(self.data) * 8:
                raise _err("frame truncated inside unary code")
            rest = 8 - (p & 7)
            window = (self.data[p >> 3] >> (8 - (p & 7) - rest)) & (
                (1 << rest) - 1
            )
            if window == 0:
                q += rest
                self.pos = p + rest
                continue
            lead = rest - window.bit_length()
            self.pos = p + lead + 1
            return q + lead

    def align(self):
        self.pos = (self.pos + 7) & ~7


def _coded_number(bits: _Bits) -> int:
    """The UTF-8-style frame/sample number (up to 36 bits, 7 bytes)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x40
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    if n_follow < 1 or n_follow > 6:
        raise _err("invalid coded frame/sample number")
    val = b0 & (mask - 1)
    for _ in range(n_follow):
        c = bits.read(8)
        if c & 0xC0 != 0x80:
            raise _err("invalid coded-number continuation byte")
        val = (val << 6) | (c & 0x3F)
    return val


def _residual(bits: _Bits, blocksize: int, order: int) -> list:
    method = bits.read(2)
    if method > 1:
        raise _err("reserved residual coding method")
    plen = 4 + method
    escape = (1 << plen) - 1
    po = bits.read(4)
    if blocksize % (1 << po):
        raise _err("block size not divisible by partition count")
    per = blocksize >> po
    out = []
    for part in range(1 << po):
        count = per - order if part == 0 else per
        if count < 0:
            raise _err("predictor order exceeds first partition")
        param = bits.read(plen)
        if param == escape:
            nbits = bits.read(5)
            if nbits == 0:
                out.extend([0] * count)
            else:
                for _ in range(count):
                    out.append(bits.read_signed(nbits))
        else:
            for _ in range(count):
                q = bits.unary()
                v = (q << param) | bits.read(param)
                out.append((v >> 1) ^ -(v & 1))
    return out


def _subframe(bits: _Bits, blocksize: int, bps: int) -> list:
    if bits.read(1):
        raise _err("subframe padding bit set")
    stype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise _err("wasted bits exceed sample size")
    if stype == 0:  # constant
        samples = [bits.read_signed(eff)] * blocksize
    elif stype == 1:  # verbatim
        samples = [bits.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # fixed, order 0-4
        order = stype - 8
        samples = [bits.read_signed(eff) for _ in range(order)]
        res = _residual(bits, blocksize, order)
        coefs = _FIXED_COEFFS[order]
        for e in res:
            x = e
            for j, c in enumerate(coefs):
                x += c * samples[-1 - j]
            samples.append(x)
    elif stype >= 32:  # LPC, order 1-32
        order = stype - 31
        samples = [bits.read_signed(eff) for _ in range(order)]
        prec = bits.read(4)
        if prec == 15:
            raise _err("invalid LPC coefficient precision")
        prec += 1
        shift = bits.read_signed(5)
        if shift < 0:
            raise _err("negative LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _residual(bits, blocksize, order)
        for e in res:
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * samples[-1 - j]
            samples.append(e + (acc >> shift))
    else:
        raise _err(f"reserved subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_samples(b: bytes, max_samples: int = 1 << 26):
    """Decode a full FLAC stream: returns (n_channels, sample_rate,
    bits_per_sample, frames) where frames is a list of per-frame
    channel lists (each channel a list of ints, stereo already
    reconstructed). Total decoded samples bounded by max_samples."""
    if b[:4] != b"fLaC":
        raise _err("missing fLaC marker")
    pos = 4
    info = None
    last = False
    while not last:
        if pos + 4 > len(b):
            raise _err("truncated metadata block header")
        hdr = b[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        blen = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body = b[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise _err("truncated metadata block")
        if btype == 0:
            if blen < 34:
                raise _err("short STREAMINFO")
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bps": ((packed >> 36) & 0x1F) + 1,
                "total": packed & ((1 << 36) - 1),
            }
        elif btype == 127:
            raise _err("invalid metadata block type 127")
        pos += 4 + blen
    if info is None:
        raise _err("stream has no STREAMINFO block")
    frames = []
    budget = max_samples
    while pos < len(b):
        chans, pos, budget = _frame(b, pos, info, budget)
        frames.append(chans)
    return info["channels"], info["sample_rate"], info["bps"], frames


def _frame(b: bytes, start: int, info: dict, budget: int):
    bits = _Bits(b, start)
    if bits.read(14) != 0b11111111111110:
        raise _err("bad frame sync code")
    if bits.read(1):
        raise _err("reserved frame-header bit set")
    bits.read(1)  # blocking strategy
    bs_code = bits.read(4)
    sr_code = bits.read(4)
    ch_code = bits.read(4)
    ss_code = bits.read(3)
    if bits.read(1):
        raise _err("reserved frame-header bit set")
    _coded_number(bits)
    if bs_code == 0:
        raise _err("reserved block size code")
    elif bs_code == 6:
        blocksize = bits.read(8) + 1
    elif bs_code == 7:
        blocksize = bits.read(16) + 1
    else:
        blocksize = _BLOCKSIZE_CODES[bs_code]
    if sr_code == 0:
        pass  # streaminfo rate
    elif sr_code in _SAMPLE_RATES:
        pass
    elif sr_code == 12:
        bits.read(8)
    elif sr_code in (13, 14):
        bits.read(16)
    else:
        raise _err("invalid sample rate code")
    if ss_code == 0:
        bps = info["bps"]
    elif ss_code in _SAMPLE_SIZES:
        bps = _SAMPLE_SIZES[ss_code]
    else:
        raise _err("reserved sample size code")
    header_len = (bits.pos + 7) // 8 - start
    want = bits.read(8)
    if crc8(b[start : start + header_len]) != want:
        raise _err("frame header CRC-8 mismatch")
    if ch_code < 8:
        n_ch = ch_code + 1
        if n_ch != info["channels"]:
            raise _err("frame channel count differs from STREAMINFO")
        side = None
    elif ch_code <= 10:
        n_ch = 2
        if info["channels"] != 2:
            raise _err("stereo decorrelation in a non-stereo stream")
        side = ch_code
    else:
        raise _err("reserved channel assignment")
    budget -= blocksize * n_ch
    if budget < 0:
        raise _err("decoded samples exceed max_samples budget")
    chans = []
    for c in range(n_ch):
        ch_bps = bps
        if side == 8 and c == 1:  # left/side
            ch_bps += 1
        elif side == 9 and c == 0:  # side/right
            ch_bps += 1
        elif side == 10 and c == 1:  # mid/side
            ch_bps += 1
        chans.append(_subframe(bits, blocksize, ch_bps))
    bits.align()
    frame_len = bits.pos // 8 - start
    want16 = bits.read(16)
    if crc16(b[start : start + frame_len]) != want16:
        raise _err("frame CRC-16 mismatch")
    if side == 8:
        left, sd = chans
        chans = [left, [l - s for l, s in zip(left, sd)]]
    elif side == 9:
        sd, right = chans
        chans = [[r + s for r, s in zip(right, sd)], right]
    elif side == 10:
        mid, sd = chans
        left, right = [], []
        for m, s in zip(mid, sd):
            m = (m << 1) | (s & 1)
            left.append((m + s) >> 1)
            right.append((m - s) >> 1)
        chans = [left, right]
    return chans, bits.pos // 8, budget


def decode_features(b: bytes, max_samples: int = 1 << 26):
    """FLAC -> the decode_audio_real feature tuple: ('FLAC',
    n_channels, sample_rate, bits, n_frames, peak_abs,
    mean_square_fx) with the WAV path's exact-integer reductions
    (floor mean square, wide samples via the hi/lo sum-of-squares
    decomposition — all Python bigints here, so no decomposition
    dance is even needed)."""
    ch, rate, bps, frames = decode_samples(b, max_samples)
    peak = 0
    sq = 0
    n = 0
    for chans in frames:
        for samples in chans:
            for s in samples:
                a = -s if s < 0 else s
                if a > peak:
                    peak = a
                sq += s * s
                n += 1
    msq = sq // n if n else 0
    return "FLAC", ch, rate, bps, n // ch if ch else 0, peak, msq


# ---------------------------------------------------------------------------
# Paired encoder (fixture/test side)


class _BitWriter:
    __slots__ = ("buf", "acc", "n")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int):
        if value < 0:
            value &= (1 << nbits) - 1
        if value >> nbits:
            raise AssertionError("value wider than field")
        self.acc = (self.acc << nbits) | value
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def align(self):
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        if self.n:
            raise AssertionError("unaligned bit writer")
        return bytes(self.buf)


def _w_coded_number(w: _BitWriter, val: int):
    """UTF-8-style frame number (encoder supports the 1/2/3-byte
    shapes, enough for fixture frame counts)."""
    if val < 0x80:
        w.write(val, 8)
    elif val < 0x800:
        w.write(0xC0 | (val >> 6), 8)
        w.write(0x80 | (val & 0x3F), 8)
    elif val < 0x10000:
        w.write(0xE0 | (val >> 12), 8)
        w.write(0x80 | ((val >> 6) & 0x3F), 8)
        w.write(0x80 | (val & 0x3F), 8)
    else:
        raise AssertionError("fixture frame number too large")


def _rice_cost(res: list, param: int) -> int:
    cost = 0
    for e in res:
        v = (abs(e) << 1) - (1 if e < 0 else 0)
        cost += (v >> param) + 1 + param
    return cost


def _write_residual(w: _BitWriter, res: list, escape_raw: bool, method: int):
    """Single-partition residual (partition order 0), Rice or raw
    escape, in either coding method."""
    w.write(method, 2)
    plen = 4 + method
    escape = (1 << plen) - 1
    w.write(0, 4)  # partition order 0
    if escape_raw:
        w.write(escape, plen)
        nbits = max((max(abs(e) for e in res).bit_length() + 1) if res else 1, 1)
        if nbits > 31:
            raise AssertionError("escape residual wider than 31 bits")
        w.write(nbits, 5)
        for e in res:
            w.write(e & ((1 << nbits) - 1), nbits)
        return
    best, best_cost = 0, None
    for param in range(15 if method == 0 else 31):
        c = _rice_cost(res, param)
        if best_cost is None or c < best_cost:
            best, best_cost = param, c
    if res and max(
        (abs(e) << 1) - (1 if e < 0 else 0) for e in res
    ) >> best > 60:
        # quotient blowout (very wide samples): raw escape instead
        w.write(escape, plen)
        nbits = max(abs(e) for e in res).bit_length() + 1
        w.write(nbits, 5)
        for e in res:
            w.write(e & ((1 << nbits) - 1), nbits)
        return
    w.write(best, plen)
    for e in res:
        v = (abs(e) << 1) - (1 if e < 0 else 0)
        q = v >> best
        if q > 60:
            raise AssertionError("fixture residual too large for Rice")
        w.write(0, q)
        w.write(1, 1)
        w.write(v & ((1 << best) - 1), best)


def _write_subframe(
    w: _BitWriter, samples: list, bps: int, mode: str,
    escape_raw: bool = False, method: int = 0, wasted: int = 0,
):
    w.write(0, 1)  # padding
    eff = bps - wasted
    if wasted:
        if any(s & ((1 << wasted) - 1) for s in samples):
            raise AssertionError("wasted-bit mode on non-shifted samples")
        samples = [s >> wasted for s in samples]
    if mode.startswith("fixed"):
        # pre-compute the residual; a full-scale wide block whose
        # residual exceeds the 31-bit escape field demotes to
        # verbatim BEFORE any header bits land (real encoders make
        # the same demotion decision per subframe)
        order = int(mode[-1])
        coefs = _FIXED_COEFFS[order]
        res = [
            samples[i]
            - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, len(samples))
        ]
        if res and max(abs(e) for e in res).bit_length() + 1 > 31:
            mode = "verbatim"
    if mode == "constant":
        if len(set(samples)) != 1:
            raise AssertionError("constant subframe on varying samples")
        w.write(0, 6)
        _w_wasted(w, wasted)
        w.write(samples[0] & ((1 << eff) - 1), eff)
        return
    if mode == "verbatim":
        w.write(1, 6)
        _w_wasted(w, wasted)
        for s in samples:
            w.write(s & ((1 << eff) - 1), eff)
        return
    if mode.startswith("fixed"):
        w.write(8 + order, 6)
        _w_wasted(w, wasted)
        for s in samples[:order]:
            w.write(s & ((1 << eff) - 1), eff)
        _write_residual(w, res, escape_raw, method)
        return
    if mode == "lpc2":
        # real LPC subframe shape with quantized coefficients [2, -1]
        # and a shift of 1 on doubled coefficients [4, -2] — exercises
        # the decoder's precision/shift/coefficient path while staying
        # residual-identical to the order-2 fixed predictor
        order, prec, shift, coefs = 2, 5, 1, [4, -2]
        w.write(31 + order, 6)
        _w_wasted(w, wasted)
        for s in samples[:order]:
            w.write(s & ((1 << eff) - 1), eff)
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c & ((1 << prec) - 1), prec)
        res = []
        for i in range(order, len(samples)):
            acc = sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            res.append(samples[i] - (acc >> shift))
        _write_residual(w, res, escape_raw, method)
        return
    raise AssertionError(f"unknown subframe mode {mode}")


def _w_wasted(w: _BitWriter, wasted: int):
    if wasted:
        w.write(1, 1)
        w.write(0, wasted - 1)
        w.write(1, 1)
    else:
        w.write(0, 1)


def encode(
    channels: list,
    sample_rate: int = 44100,
    bps: int = 16,
    blocksize: int = 4096,
    stereo: str = "independent",
    subframe: str = "auto",
    escape_raw: bool = False,
    method: int = 0,
    wasted: int = 0,
) -> bytes:
    """Paired FLAC writer: channels is a list of equal-length sample
    lists. stereo: independent | left_side | right_side | mid_side
    (2-channel input only). subframe: auto (constant where uniform,
    else fixed2) | constant | verbatim | fixed0..fixed4. escape_raw
    forces raw-escape residual partitions; method picks the Rice
    coding method (0/1); wasted emits wasted-bits-shifted subframes.
    Every stream round-trips through decode_samples before return."""
    n_ch = len(channels)
    if not 1 <= n_ch <= 8:
        raise AssertionError("1..8 channels")
    n = len(channels[0])
    if any(len(c) != n for c in channels):
        raise AssertionError("ragged channels")
    out = bytearray(b"fLaC")
    # STREAMINFO (last metadata block)
    si = bytearray()
    si += struct.pack(">HH", min(blocksize, max(n, 16)), min(blocksize, max(n, 16)))
    si += b"\x00\x00\x00" * 2  # min/max frame size unknown
    packed = (sample_rate << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36) | n
    si += packed.to_bytes(8, "big")
    si += b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si
    frame_no = 0
    for off in range(0, max(n, 1), blocksize):
        fr = [c[off : off + blocksize] for c in channels]
        m = len(fr[0])
        if m == 0:
            break
        w = _BitWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking
        w.write(7, 4)  # 16-bit blocksize-1 at end
        sr_code = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5,
                   22050: 6, 24000: 7, 32000: 8, 44100: 9, 48000: 10,
                   96000: 11}.get(sample_rate, 0)
        w.write(sr_code, 4)
        ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps]
        if stereo == "independent" or n_ch != 2:
            ch_code = n_ch - 1
        else:
            ch_code = {"left_side": 8, "right_side": 9, "mid_side": 10}[stereo]
        w.write(ch_code, 4)
        w.write(ss_code, 3)
        w.write(0, 1)
        _w_coded_number(w, frame_no)
        w.write(m - 1, 16)
        w.align()
        hdr = w.bytes()
        w2 = _BitWriter()
        w2.buf = bytearray(hdr)
        w2.write(crc8(hdr), 8)
        # per-channel subframes
        if ch_code == 8:  # left/side
            subs = [(fr[0], bps), ([l - r for l, r in zip(*fr)], bps + 1)]
        elif ch_code == 9:  # side/right
            subs = [([l - r for l, r in zip(*fr)], bps + 1), (fr[1], bps)]
        elif ch_code == 10:  # mid/side
            side = [l - r for l, r in zip(*fr)]
            mid = [(l + r) >> 1 for l, r in zip(*fr)]
            subs = [(mid, bps), (side, bps + 1)]
        else:
            subs = [(c, bps) for c in fr]
        for samples, ch_bps in subs:
            mode = subframe
            if mode == "auto":
                mode = "constant" if len(set(samples)) == 1 else "fixed2"
            if mode.startswith("fixed") and int(mode[-1]) >= m:
                mode = "verbatim"
            _write_subframe(
                w2, samples, ch_bps, mode,
                escape_raw=escape_raw, method=method, wasted=wasted,
            )
        w2.align()
        body = w2.bytes()
        w3 = _BitWriter()
        w3.buf = bytearray(body)
        w3.write(crc16(body), 16)
        out += w3.bytes()
        frame_no += 1
    blob = bytes(out)
    got_ch, got_rate, got_bps, frames = decode_samples(blob)
    flat = [[] for _ in range(n_ch)]
    for chans in frames:
        for i, s in enumerate(chans):
            flat[i].extend(s)
    if flat != [list(c) for c in channels]:
        raise AssertionError("paired-encoder self-check failed")
    return blob
