"""PDF text extraction (operators/pdf.py): classic-xref walk,
FlateDecode, BT/ET text assembly, two-tier error contract — fixtures
from the paired minimal writer (offsets computed for real, so a
reader bug can't cancel against a writer bug)."""

import pytest

from geist_spark.operators.pdf import (
    _pdf_pages,
    content_ops,
    pdf_build,
    pdf_extract_text,
)


def test_round_trip_all_writer_variants():
    """Every writer branch point parses back to the same page texts:
    plain vs Flate streams, direct vs indirect /Length, single vs
    /Prev-chained xref sections, single stream vs /Contents array."""
    s1 = content_ops(["Hello world", "line two"])
    s2 = content_ops(["Page 2 café", "naïve"], use_tj_array=True)
    want = [(0, "Hello world\nline two"), (1, "Page 2 café\nnaïve")]
    for kw in (
        dict(),
        dict(flate=True),
        dict(indirect_length=True),
        dict(two_xref_sections=True),
        dict(contents_array=True),
        dict(flate=True, indirect_length=True, two_xref_sections=True,
             contents_array=True),
    ):
        got = list(_pdf_pages(pdf_build([s1, s2], **kw), 1 << 20))
        assert got == want, kw


def test_content_stream_token_semantics():
    """Literal-string escapes (nested parens, backslash, octal), hex
    strings, the ' next-line show, TJ arrays with kerning numbers,
    inline-image skip, and the no-leading-blank-line rule."""
    raw = (rb"BT 10 20 Td (a\(b\)c\\d\101) Tj "
           b"<48 69> Tj "
           b"BI /W 2 /H 1 ID \x00\xff\x01 EI "
           b"(next) ' "
           b"[(A) 5 (B)] TJ ET")
    got = list(_pdf_pages(pdf_build([raw]), 1 << 20))
    assert got == [(0, "a(b)c\\dAHi\nnextAB")]

    # line-continuation backslash + raw CR normalizing to \n
    raw2 = b"BT (one\\\ntwo) Tj (a\rb) Tj ET"
    got2 = list(_pdf_pages(pdf_build([raw2]), 1 << 20))
    assert got2 == [(0, "onetwoa\nb")]

    # empty page: no Contents -> empty text
    pdf = pdf_build([b"BT ET"])
    assert list(_pdf_pages(pdf, 1 << 20)) == [(0, "")]


def test_capability_tiers():
    """Encrypted, Type0/CMap font, non-Flate filter, and non-PDF
    payloads are TYPED capability limits (NotImplementedError naming
    the construct); a startxref that points at a non-/XRef object is
    MALFORMED now that xref streams decode for real."""
    s = content_ops(["x"])
    with pytest.raises(NotImplementedError, match="encrypted"):
        list(_pdf_pages(pdf_build([s], encrypt=True), 1 << 20))
    with pytest.raises(NotImplementedError, match="Type0/CMap"):
        list(_pdf_pages(pdf_build([s], font_subtype="Type0"), 1 << 20))
    with pytest.raises(NotImplementedError, match="not a PDF"):
        list(_pdf_pages(b"%XDF-1.4 nope", 1 << 20))

    # startxref pointing at an ordinary object: the xref-stream path
    # engages and rejects it as not /Type /XRef
    pdf = pdf_build([s])
    k = pdf.rfind(b"startxref")
    obj_off = pdf.find(b"1 0 obj")
    patched = (pdf[:k] + b"startxref\n%d\n%%%%EOF\n" % obj_off)
    with pytest.raises(ValueError, match="not[^a-z]*/Type /XRef"):
        list(_pdf_pages(patched, 1 << 20))

    # non-Flate filter: rename FlateDecode in place (same byte length
    # keeps every xref offset valid)
    fl = pdf_build([s], flate=True)
    lzw = fl.replace(b"FlateDecode", b"LZWDecodeXY")
    with pytest.raises(NotImplementedError, match="unsupported"):
        list(_pdf_pages(lzw, 1 << 20))


def test_malformed_tier():
    """Structural damage always raises ValueError: truncated tail,
    truncated stream, bad xref entries, dangling refs, oversized
    inflate (the bomb rule)."""
    s = content_ops(["hello world, a reasonably long line of text"])
    pdf = pdf_build([s], flate=True)
    with pytest.raises(ValueError, match="startxref"):
        list(_pdf_pages(pdf[: len(pdf) // 2], 1 << 20))

    # corrupt an xref entry's offset digits
    k = pdf.find(b"xref")
    bad = bytearray(pdf)
    entry = pdf.find(b" n \n", k)
    bad[entry - 16: entry - 6] = b"00000000zz"
    with pytest.raises(ValueError, match="xref"):
        list(_pdf_pages(bytes(bad), 1 << 20))

    # bounded inflate: a content stream bigger than max_bytes
    big = content_ops(["A" * 5000])
    with pytest.raises(ValueError, match="max_bytes"):
        list(_pdf_pages(pdf_build([big], flate=True), max_bytes=100))

    # unterminated literal string inside content
    with pytest.raises(ValueError, match="unterminated"):
        list(_pdf_pages(pdf_build([b"BT (oops Tj ET"]), 1 << 20))


def test_pdf_extract_text_spark_surface(spark):
    """The operator fans pages out inside one Arrow stage, honors
    on_unsupported tiers, and skips NULL payloads."""
    s1 = content_ops(["Doc one"])
    s2 = content_ops(["p1"])
    s3 = content_ops(["p2 text", "more"])
    rows = [
        (1, pdf_build([s1])),
        (2, pdf_build([s2, s3], flate=True)),
        (3, b"not a pdf at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "file_id long, payload binary")
    with pytest.raises(Exception, match="file_id=3"):
        pdf_extract_text(df).collect()
    out = {(r["file_id"], r["page"]): r for r in
           pdf_extract_text(df, on_unsupported="null").collect()}
    assert out[(1, 0)]["text"] == "Doc one"
    assert out[(2, 0)]["text"] == "p1"
    assert out[(2, 1)]["text"] == "p2 text\nmore"
    assert out[(2, 1)]["n_chars"] == len("p2 text\nmore")
    assert len(out) == 3  # file 3 skipped, file 4 null-skipped
    with pytest.raises(ValueError, match="on_unsupported"):
        pdf_extract_text(df, on_unsupported="bogus")
    with pytest.raises(ValueError, match="max_bytes"):
        pdf_extract_text(df, max_bytes=0)


def test_xref_stream_and_object_streams():
    """PDF 1.5 layouts round-trip: cross-reference STREAM (W-field
    rows, /Index default, FlateDecode, optional PNG-Up predictor)
    with all non-stream objects packed into ONE object stream —
    composed with Flate content, indirect /Length (resolved THROUGH
    the object stream), and /Contents arrays."""
    s1 = content_ops(["Hello world", "line two"])
    s2 = content_ops(["Page 2 café", "naïve"], use_tj_array=True)
    want = [(0, "Hello world\nline two"), (1, "Page 2 café\nnaïve")]
    for kw in (
        dict(xref_stream=True),
        dict(xref_stream=True, objstm=True),
        dict(xref_stream=True, objstm=True, predictor=True),
        dict(xref_stream=True, objstm=True, predictor=True, flate=True,
             indirect_length=True, contents_array=True),
    ):
        got = list(_pdf_pages(pdf_build([s1, s2], **kw), 1 << 20))
        assert got == want, kw

    # malformed tier: corrupt the xref stream's Flate payload (the
    # LAST '>>\\nstream\\n' block in the file is the xref stream)
    pdf = pdf_build([s1], xref_stream=True, objstm=True)
    k = pdf.rindex(b">>\nstream\n") + len(b">>\nstream\n")
    bad = bytearray(pdf)
    bad[k + 2] ^= 0xFF
    with pytest.raises(ValueError, match="PDF"):
        list(_pdf_pages(bytes(bad), 1 << 20))

    # an object-stream header that disagrees with the xref mapping
    pdf2 = pdf_build([s1], xref_stream=True, objstm=True)
    # (structural guarantee is exercised via the writer being honest;
    # here just confirm a truncated tail is typed)
    with pytest.raises(ValueError, match="malformed PDF|truncated PDF"):
        list(_pdf_pages(pdf2[: len(pdf2) - 40], 1 << 20))


def test_pdf_extract_text_xref_stream_spark(spark):
    """The Spark surface accepts 1.5-layout PDFs alongside classic
    ones in the same batch."""
    s = content_ops(["modern layout"])
    rows = [
        (1, pdf_build([s])),
        (2, pdf_build([s], xref_stream=True, objstm=True,
                      predictor=True, flate=True)),
    ]
    df = spark.createDataFrame(rows, "file_id long, payload binary")
    out = {r["file_id"]: r["text"] for r in pdf_extract_text(df).collect()}
    assert out == {1: "modern layout", 2: "modern layout"}


def test_hybrid_reference_xrefstm():
    """Hybrid-reference files (§7.5.8.4): a classic xref section whose
    trailer carries /XRefStm pointing at the companion xref stream —
    the classic table lists nothing here, so every object resolves
    through the stream's compressed entries."""
    s1 = content_ops(["Hybrid page"])
    base = pdf_build([s1], xref_stream=True, objstm=True)
    k = base.rindex(b"startxref")
    xref_off = int(base[k + 10 :].split()[0])
    body = base[:k]
    classic_off = len(body)
    hybrid = (
        body
        + b"xref\n0 1\n0000000000 65535 f \n"
        + b"trailer\n<< /Size 9 /Root 1 0 R /XRefStm %d >>\n" % xref_off
        + b"startxref\n%d\n%%%%EOF\n" % classic_off
    )
    assert list(_pdf_pages(hybrid, 1 << 20)) == [(0, "Hybrid page")]


def test_objstm_cycle_is_typed():
    """An xref that marks an object stream as stored compressed inside
    itself (or two object streams inside each other) must raise the
    module's typed ValueError, not escape as an untyped RecursionError
    from the _load_object <-> _objstm_object mutual recursion."""
    from geist_spark.operators.pdf import _load_object

    objects = {2: ("instream", 2, 0)}
    with pytest.raises(ValueError, match="cycle"):
        _load_object(objects, 2, 1 << 20)

    objects = {3: ("instream", 4, 0), 4: ("instream", 3, 0)}
    with pytest.raises(ValueError, match="cycle"):
        _load_object(objects, 3, 1 << 20)


def test_type0_identity_h_round_trip():
    """Composite-font pages (Type0/Identity-H + generated /ToUnicode
    CMap, 2-byte-CID hex shows) round-trip across every container
    variant; the fixture cidmap is deliberately NOT Identity
    (CID != codepoint), so an identity-assuming reader fails."""
    from geist_spark.operators.pdf import type0_content_ops

    pages = [["Doc 42", "café Привет ✓ 中文"],
             ["second page", "ligatures ffi ffl"]]
    want = [(0, "Doc 42\ncafé Привет ✓ 中文"),
            (1, "second page\nligatures ffi ffl")]
    for kw in (
        dict(),
        dict(flate=True),
        dict(two_xref_sections=True),
        dict(xref_stream=True, objstm=True),
        dict(xref_stream=True, objstm=True, predictor=True, flate=True,
             indirect_length=True),
    ):
        got = list(_pdf_pages(pdf_build([], type0_pages=pages, **kw),
                              1 << 20))
        assert got == want, kw

    # non-BMP destination: bfchar carries a UTF-16 surrogate pair
    pdf = pdf_build([], type0_pages=[["emoji 😀 end"]])
    assert list(_pdf_pages(pdf, 1 << 20)) == [(0, "emoji 😀 end")]

    # the content really is CID hex, not text
    stream = type0_content_ops(["ab"], {"a": 7, "b": 8})
    assert b"<0007>" in stream and b"<0008>" in stream


def test_tounicode_cmap_parser_edges():
    """_tounicode_map grammar: bfchar pairs, incrementing bfrange,
    array bfrange, multi-code-unit destinations, comments; malformed
    shapes (odd dst, reversed range, array length mismatch, range
    destination overflow) raise ValueError."""
    import pytest as _pytest

    from geist_spark.operators.pdf import _tounicode_map

    cmap = (b"%% comment <dead>\n"
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) "
            b"/Supplement 0 >> def\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"2 beginbfchar <0001> <0041> <0002> <00660066> endbfchar\n"
            b"1 beginbfrange <0010> <0012> <0061> endbfrange\n"
            b"1 beginbfrange <0020> <0021> [<0058> <0059>] endbfrange\n")
    m = _tounicode_map(cmap)
    assert m[1] == "A" and m[2] == "ff"
    assert (m[0x10], m[0x11], m[0x12]) == ("a", "b", "c")
    assert (m[0x20], m[0x21]) == ("X", "Y")

    for bad in (
        b"1 beginbfchar <0001> <41> endbfchar",  # 1-byte (odd) dst
        b"1 beginbfrange <0012> <0010> <0061> endbfrange",  # reversed
        b"1 beginbfrange <0010> <0012> [<0058>] endbfrange",  # arity
        b"1 beginbfrange <0010> <0012> <FFFE> endbfrange",  # overflow
        b"1 beginbfchar <0001> endbfchar",               # missing dst
    ):
        with _pytest.raises(ValueError, match="CMap"):
            _tounicode_map(bad)


def test_type0_capability_and_malformed_tiers():
    """Type0 WITHOUT ToUnicode (or with a non-Identity encoding) stays
    a typed capability limit; a dangling /ToUnicode ref is malformed;
    an odd-length CID show string is malformed."""
    # strip /ToUnicode from a valid type0 fixture -> capability
    pdf = pdf_build([], type0_pages=[["hello"]])
    stripped = pdf.replace(b"/ToUnicode", b"/ToUnicodeX")
    with pytest.raises(NotImplementedError, match="Type0/CMap"):
        list(_pdf_pages(stripped, 1 << 20))

    # non-Identity named encoding -> capability
    bad_enc = pdf.replace(b"/Identity-H", b"/UniJIS-UCS", 1)
    # keep byte offsets: same length required
    assert len(bad_enc) == len(pdf)
    with pytest.raises(NotImplementedError, match="non-Identity"):
        list(_pdf_pages(bad_enc, 1 << 20))

    # odd-length CID show: replace a 2-byte hex show with a 1-byte one
    from geist_spark.operators.pdf import _cid_shower
    with pytest.raises(ValueError, match="odd length"):
        _cid_shower({1: "a"})(b"\x00\x01\x02")
    assert _cid_shower({1: "a"})(b"\x00\x01\x00\x99") == "a\N{REPLACEMENT CHARACTER}"


def test_rc4_known_vector():
    """RC4 against the classic 'Key'/'Plaintext' vector (a 3-byte key,
    outside OpenSSL's RC4 key sizes: the KSA + PRGA path) and RFC 6229's
    40-bit key 0102030405 at offset 0 (the OpenSSL path)."""
    from geist_spark.operators.pdf import _rc4

    assert _rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert _rc4(b"Key", _rc4(b"Key", b"roundtrip")) == b"roundtrip"
    assert _rc4(bytes.fromhex("0102030405"), bytes(16)).hex() == (
        "b2396305f03dc027ccc3524a0a1118a8"
    )


def test_encrypted_rc4_empty_user_password():
    """Standard-security-handler PDFs (RC4 V1/R2 and V2/R3) with an
    EMPTY user password decrypt transparently across container
    variants, including encrypted Type0/ToUnicode streams; a
    non-empty user password and a structurally bad /Encrypt stay on
    their tiers."""
    for r in (2, 3):
        for kw in (dict(), dict(flate=True),
                   dict(flate=True, indirect_length=True),
                   dict(two_xref_sections=True),
                   dict(contents_array=True)):
            pdf = pdf_build(
                [content_ops(["Secret line one", "second"]),
                 content_ops(["p2"])],
                encrypt_rc4=r, **kw,
            )
            got = list(_pdf_pages(pdf, 1 << 20))
            assert got == [(0, "Secret line one\nsecond"),
                           (1, "p2")], (r, kw)
        pdf = pdf_build(
            [], type0_pages=[["Locked Doc", "café Привет"]],
            encrypt_rc4=r, flate=(r == 3),
        )
        assert list(_pdf_pages(pdf, 1 << 20)) == [
            (0, "Locked Doc\ncafé Привет")
        ]

    # flip /U -> the empty-user-password check fails -> capability
    pdf = pdf_build([content_ops(["x"])], encrypt_rc4=3)
    k = pdf.index(b"/U <") + 4
    real_u = pdf[k: k + 64]
    fake_u = bytes(reversed(bytes.fromhex(real_u.decode()))).hex()
    locked = pdf[:k] + fake_u.encode() + pdf[k + 64:]
    with pytest.raises(NotImplementedError, match="user password"):
        list(_pdf_pages(locked, 1 << 20))

    # structurally bad /Length is malformed
    bad = pdf.replace(b"/Length 128", b"/Length 129")
    with pytest.raises(ValueError, match="Length"):
        list(_pdf_pages(bad, 1 << 20))


def test_aes_fips_vectors():
    """AES against the FIPS-197 Appendix C known answers, all three key
    sizes, both directions, plus a CBC round trip."""
    from geist_spark.operators.pdf import _aes

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for klen, want in (
        (16, "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (24, "dda97ca4864cdfe06eaf70a0ec0d7191"),
        (32, "8ea2b7ca516745bfeafc49904b496089"),
    ):
        key = bytes(range(klen))
        assert _aes(key, pt).hex() == want
        assert _aes(key, bytes.fromhex(want), decrypt=True) == pt
    key = bytes(range(32))
    iv = b"\xaa" * 16
    data = bytes(range(256)) * 2
    assert _aes(key, _aes(key, data, iv=iv), iv=iv, decrypt=True) == data


def test_aes_cbc_nist_sp800_38a_vector():
    """CBC-AES128 against NIST SP 800-38A F.2.1 (first block)."""
    from geist_spark.operators.pdf import _aes

    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes(range(16))
    pt = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    ct = bytes.fromhex("7649abac8119b246cee98e9b12e9197d")
    assert _aes(key, pt, iv=iv) == ct
    assert _aes(key, ct, iv=iv, decrypt=True) == pt


def test_encrypted_aes_empty_user_password():
    """AESV2 (V4 R4, AES-128) and AESV3 (V5 R6, AES-256 with the
    SHA-2 KDF and /UE key unwrap) decrypt transparently with an empty
    user password, incl. encrypted Type0/ToUnicode streams; a flipped
    /U validation hash stays a typed capability limit and a corrupted
    stream surfaces as malformed padding."""
    for v in (4, 5):
        for kw in (dict(), dict(flate=True),
                   dict(two_xref_sections=True)):
            pdf = pdf_build(
                [content_ops(["AES line", "two"]), content_ops(["p2"])],
                encrypt_aes=v, **kw,
            )
            got = list(_pdf_pages(pdf, 1 << 20))
            assert got == [(0, "AES line\ntwo"), (1, "p2")], (v, kw)
        pdf = pdf_build(
            [], type0_pages=[["Locked", "café Привет"]],
            encrypt_aes=v, flate=True,
        )
        assert list(_pdf_pages(pdf, 1 << 20)) == [
            (0, "Locked\ncafé Привет")
        ]

    # AESV3: flip a byte of the /U validation hash -> capability
    pdf = pdf_build([content_ops(["x"])], encrypt_aes=5)
    k = pdf.index(b"/U <") + 4
    flipped = (b"00" if pdf[k: k + 2] != b"00" else b"11")
    locked = pdf[:k] + flipped + pdf[k + 2:]
    with pytest.raises(NotImplementedError, match="user password"):
        list(_pdf_pages(locked, 1 << 20))

    # corrupt an encrypted stream's ciphertext -> padding error or
    # downstream malformed-content error, never silent garbage text
    pdf4 = pdf_build([content_ops(["hello secret"])], encrypt_aes=4)
    k = pdf4.index(b"stream\n") + 7
    bad = bytearray(pdf4)
    bad[k + 20] ^= 0xFF
    with pytest.raises(ValueError):
        list(_pdf_pages(bytes(bad), 1 << 20))
